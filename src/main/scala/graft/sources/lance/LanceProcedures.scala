package graft.sources.lance

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` face for the lance maintenance surface (Spark 4 DSv2
  * procedures): `CALL lance.compact('/p/ds.lance', 4)`,
  * `CALL lance.vacuum(t => '/p/ds.lance', keep_versions => 3)`, etc. —
  * the idiomatic-SQL spelling of the operations lancedb exposes as table
  * methods (`optimize/compact_files`, `cleanup_old_versions`, `restore`,
  * `tags.create/delete`, `list_versions`).
  *
  * Each procedure resolves its table argument like the catalog does: a
  * bare name under the configured warehouse, otherwise a dataset path.
  * Results come back as rows (a LocalScan), so `CALL` output composes
  * with the SQL around it.
  */
private[lance] object LanceProcedures {

  private def resolve(warehouse: Option[String], t: String): String =
    warehouse match {
      case Some(w) if !t.contains("/") && !t.endsWith(".lance") => s"$w/$t.lance"
      case _ => t
    }

  /** One-row (or N-row) result scan. */
  private final case class Rows(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  private def row(vals: Any*): InternalRow =
    InternalRow.fromSeq(vals.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    })

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def paramDef(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** A procedure with fixed parameters and a body over the bound args. */
  private final case class Proc(pname: String, ps: Array[ProcedureParameter],
                                resultSchema: StructType,
                                body: InternalRow => Array[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = pname
    override def description(): String = s"lance $pname"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = ps
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.List.of[Scan](Rows(resultSchema, body(input))).iterator()
  }

  def procedures(warehouse: Option[String]): Map[String, UnboundProcedure] = {
    def spark = SparkSession.active
    def path(in: InternalRow) = resolve(warehouse, in.getString(0))

    val compact = Proc("compact",
      Array(param("t", StringType), paramDef("target_fragments", IntegerType, "1")),
      StructType(Seq(StructField("version", LongType))),
      in => {
        val v = LanceMaintenance.compact(spark, path(in),
          if (in.isNullAt(1)) 1 else in.getInt(1))
        Array(row(v))
      })

    val vacuum = Proc("vacuum",
      Array(param("t", StringType), paramDef("keep_versions", IntegerType, "1"),
            paramDef("older_than_ms", LongType, "3600000")),
      StructType(Seq(StructField("manifests_removed", IntegerType),
                     StructField("files_removed", IntegerType))),
      in => {
        val (m, f) = LanceMaintenance.vacuum(spark, path(in),
          if (in.isNullAt(1)) 1 else in.getInt(1),
          if (in.isNullAt(2)) 3600000L else in.getLong(2))
        Array(row(m, f))
      })

    val restore = Proc("restore",
      Array(param("t", StringType), param("version", LongType)),
      StructType(Seq(StructField("version", LongType))),
      in => Array(row(LanceMaintenance.restore(spark, path(in), in.getLong(1)))))

    val createTag = Proc("create_tag",
      Array(param("t", StringType), param("tag", StringType),
            paramDef("version", LongType, "NULL")),
      StructType(Seq(StructField("version", LongType))),
      in => Array(row(LanceMaintenance.createTag(spark, path(in),
        in.getString(1), if (in.isNullAt(2)) None else Some(in.getLong(2))))))

    val deleteTag = Proc("delete_tag",
      Array(param("t", StringType), param("tag", StringType)),
      StructType(Seq(StructField("deleted", BooleanType))),
      in => Array(row(LanceMaintenance.deleteTag(spark, path(in), in.getString(1)))))

    val tags = Proc("tags",
      Array(param("t", StringType)),
      StructType(Seq(StructField("tag", StringType), StructField("version", LongType))),
      in => LanceMaintenance.listTags(spark, path(in)).toArray.sortBy(_._1)
        .map { case (tag, v) => row(tag, v) })

    val versions = Proc("versions",
      Array(param("t", StringType)),
      StructType(Seq(StructField("version", LongType),
                     StructField("fragments", IntegerType),
                     StructField("live_rows", LongType))),
      in => {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(path(in), conf)
        val dir = new org.apache.hadoop.fs.Path(p, "_versions")
        fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.endsWith(".manifest"))
          .map(_.stripSuffix(".manifest").toLong).sorted
          .map { v =>
            val m = LanceFormat.readManifest(fs,
              new org.apache.hadoop.fs.Path(dir, s"$v.manifest"))
            row(v, m.fragments.length, m.fragments.map(_.liveRows).sum)
          }
      })

    // CALL lance.describe(t): the dataset's layout card — version, rows,
    // declared partition/sort layout (the SPJ contract), whether the scan
    // can currently REPORT it (every fragment valued), stable-row-id mode,
    // deletions. The first thing a user asks a table.
    val describe = Proc("describe",
      Array(param("t", StringType)),
      StructType(Seq(
        StructField("version", LongType),
        StructField("fragments", IntegerType),
        StructField("live_rows", LongType),
        StructField("deleted_rows", LongType),
        StructField("partition_cols", StringType),
        StructField("sort_cols", StringType),
        StructField("partitioning_reportable", BooleanType),
        StructField("stable_row_ids", BooleanType))),
      in => {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(path(in), conf)
        val m = LanceFormat.readManifest(fs,
          LanceFormat.latestManifestPath(fs, p, None))
        val reportable = m.partitionCols.nonEmpty && m.fragments.nonEmpty &&
          m.fragments.forall(_.partValues.length == m.partitionCols.length)
        Array(row(m.version, m.fragments.length,
          m.fragments.map(_.liveRows).sum,
          m.fragments.flatMap(_.deletion).map(_.numDeleted).sum,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            m.partitionCols.mkString(",")),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            m.sortCols.mkString(",")),
          reportable, m.stableRowIds))
      })

    // CALL lance.update(t, condition, 'col=expr, col2=expr2'): SQL face of
    // updateWhere (deletion-mask the old rows + append the rewritten ones
    // — no fragment rewrite). SET parses at the FIRST '=' per comma item;
    // expressions are arbitrary Spark SQL over the row's columns.
    val update = Proc("update",
      Array(param("t", StringType), param("condition", StringType),
            param("set", StringType)),
      StructType(Seq(StructField("version", LongType))),
      in => {
        // split on top-level commas only (not inside parens or quotes) —
        // SET expressions are arbitrary SQL
        def splitTop(s: String): Seq[String] = {
          val out = Seq.newBuilder[String]
          var depth = 0; var q = false; var start = 0
          var i = 0
          while (i < s.length) {
            s.charAt(i) match {
              case '\'' => q = !q
              case '(' if !q => depth += 1
              case ')' if !q => depth -= 1
              case ',' if !q && depth == 0 =>
                out += s.substring(start, i); start = i + 1
              case _ => ()
            }
            i += 1
          }
          out += s.substring(start)
          out.result().map(_.trim).filter(_.nonEmpty)
        }
        val sets = splitTop(in.getString(2)).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"lance update: SET item '$kv' is not col=expr")
          kv.substring(0, i).trim -> kv.substring(i + 1).trim
        }.toMap
        Array(row(LanceMaintenance.updateWhere(
          spark, path(in), in.getString(1), sets)))
      })

    // CALL lance.merge_insert(t, source_view, 'k1,k2'): SQL face of
    // mergeInsert (upsert by key) — the source is a registered view/table
    // name with the target's columns.
    val mergeIns = Proc("merge_insert",
      Array(param("t", StringType), param("source", StringType),
            param("keys", StringType)),
      StructType(Seq(StructField("version", LongType))),
      in => {
        val keys = in.getString(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        Array(row(LanceMaintenance.mergeInsert(
          spark, path(in), spark.table(in.getString(1)), keys)))
      })

    // CALL lance.create_matview(mv, src, 'k1,k2', 'sumcol1,sumcol2'):
    // materialized COUNT/SUM view of src grouped by the keys, maintained
    // incrementally from the change feed (graft.operators.MatView).
    val createMv = Proc("create_matview",
      Array(param("mv", StringType), param("src", StringType),
            param("keys", StringType), paramDef("sums", StringType, "''"),
            paramDef("minmax", StringType, "''")),
      StructType(Seq(StructField("src_version", LongType))),
      in => {
        def csv(i: Int) =
          if (in.isNullAt(i)) Nil
          else in.getString(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        Array(row(graft.operators.MatView.create(spark,
          resolve(warehouse, in.getString(1)), path(in),
          csv(2), csv(3), csv(4))))
      })

    // CALL lance.refresh_matview(mv): advance to the source head via the
    // change feed — work proportional to the change set.
    val refreshMv = Proc("refresh_matview",
      Array(param("mv", StringType)),
      StructType(Seq(StructField("src_version", LongType))),
      in => Array(row(graft.operators.MatView.refresh(spark, path(in)))))

    // CALL lance.matview_status(mv): staleness at a glance — the source
    // version the view reflects, the source head, and (when the interval
    // is append/delete-only) a manifest-metadata upper bound on the
    // pending change-set size, i.e. how much work the next refresh is.
    val mvStatus = Proc("matview_status",
      Array(param("mv", StringType)),
      StructType(Seq(
        StructField("src", StringType),
        StructField("last_version", LongType),
        StructField("src_head", LongType),
        StructField("stale", BooleanType),
        StructField("pending_changes_est", LongType))),
      in => {
        val (spec, _) = graft.operators.MatView.loadSpec(spark, path(in))
        val head = LanceFormat.headVersion(spark.sessionState.newHadoopConf(), spec.src)
        val est: java.lang.Long =
          if (head == spec.lastVersion) 0L
          else LanceMaintenance.changeSetEstimate(
            spark, spec.src, spec.lastVersion, head)
            .map(java.lang.Long.valueOf).orNull // null: needs a scan (compaction/restore)
        Array(row(spec.src, spec.lastVersion, head,
          java.lang.Boolean.valueOf(head != spec.lastVersion), est))
      })

    // CALL lance.ndv(t, col, ix): sidecar-only COUNT(DISTINCT col)
    // estimate; builds-or-refreshes the per-fragment HLL sidecar first.
    val ndv = Proc("ndv",
      Array(param("t", StringType), param("col", StringType),
            param("ix", StringType),
            paramDef("allow_deletes", BooleanType, "false")),
      StructType(Seq(StructField("ndv", LongType))),
      in => {
        val ds = path(in); val ix = resolve(warehouse, in.getString(2))
        val conf = spark.sessionState.newHadoopConf()
        val (fs, ip) = LanceFormat.fileSystem(s"$ix/_sketch.props", conf)
        if (fs.exists(ip)) {
          // an existing sidecar sketches exactly one column; calling ndv
          // with a different one must not silently return the old
          // column's estimate (round-7 ADVICE)
          val stored = graft.operators.SketchIndex.sketchedColumn(spark, ix)
          require(stored == in.getString(1),
            s"lance ndv: sketch index at '$ix' was built for column " +
            s"'$stored', not '${in.getString(1)}' — use a different ix " +
            s"path or drop the sidecar to rebuild")
          graft.operators.SketchIndex.refresh(spark, ix)
        } else graft.operators.SketchIndex.build(spark, ds, in.getString(1), ix)
        Array(row(graft.operators.SketchIndex.ndv(spark, ds, ix,
          allowDeletes = !in.isNullAt(3) && in.getBoolean(3))))
      })

    // CALL lance.stats(t, col): the per-fragment zone map for one column
    // — rows, live rows, recorded [min,max] (numeric channel) — the
    // first tool for "why didn't my predicate prune".
    val stats = Proc("stats",
      Array(param("t", StringType), param("col", StringType)),
      StructType(Seq(
        StructField("fragment", LongType),
        StructField("physical_rows", LongType),
        StructField("live_rows", LongType),
        StructField("min", DoubleType),
        StructField("max", DoubleType))),
      in => {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(path(in), conf)
        val m = LanceFormat.readManifest(fs,
          LanceFormat.latestManifestPath(fs, p, None))
        val fid = m.fields.find(f => f.parentId == -1 &&
            f.name == in.getString(1)).map(_.id).getOrElse(
          throw new IllegalArgumentException(
            s"lance stats: no top-level column '${in.getString(1)}'"))
        m.fragments.sortBy(_.id).map { fr =>
          fr.stats.find(_._1 == fid) match {
            case Some((_, mn, mx)) =>
              row(fr.id, fr.physicalRows, fr.liveRows, mn, mx)
            case None => row(fr.id, fr.physicalRows, fr.liveRows, null, null)
          }
        }.toArray
      })

    // CALL lance.verify(t): dataset integrity card — every referenced
    // data file and deletion file must exist with plausible sizes, row-id
    // segments must cover the physical rows, partition values must match
    // the declared layout. Metadata + filesystem checks only (no data
    // decode); returns one row per problem, or one OK row.
    val verifyProc = Proc("verify",
      Array(param("t", StringType)),
      StructType(Seq(StructField("status", StringType),
                     StructField("detail", StringType))),
      in => {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(path(in), conf)
        val m = LanceFormat.readManifest(fs,
          LanceFormat.latestManifestPath(fs, p, None))
        val problems = Seq.newBuilder[(String, String)]
        val dataDir = new org.apache.hadoop.fs.Path(p, "data")
        m.fragments.foreach { fr =>
          fr.files.foreach { f =>
            val fp = new org.apache.hadoop.fs.Path(dataDir, f.path)
            if (!fs.exists(fp))
              problems += (("missing_data_file", s"fragment ${fr.id}: ${f.path}"))
            else if (f.fileSizeBytes > 0 &&
                     fs.getFileStatus(fp).getLen != f.fileSizeBytes)
              problems += (("size_mismatch",
                s"fragment ${fr.id}: ${f.path} manifest=${f.fileSizeBytes} " +
                s"actual=${fs.getFileStatus(fp).getLen}"))
          }
          fr.deletion.foreach { d =>
            val dp = new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(p, "_deletions"), d.fileName(fr.id))
            if (!fs.exists(dp))
              problems += (("missing_deletion_file", s"fragment ${fr.id}: ${d.fileName(fr.id)}"))
            if (d.numDeleted > fr.physicalRows)
              problems += (("deletion_overflow",
                s"fragment ${fr.id}: ${d.numDeleted} deleted > ${fr.physicalRows} physical"))
          }
          fr.rowIds.foreach { segs =>
            val covered = segs.map(_.count).sum
            if (covered != fr.physicalRows)
              problems += (("rowid_gap",
                s"fragment ${fr.id}: id segments cover $covered of ${fr.physicalRows} rows"))
          }
          if (m.partitionCols.nonEmpty && fr.partValues.nonEmpty &&
              fr.partValues.length != m.partitionCols.length)
            problems += (("partition_arity",
              s"fragment ${fr.id}: ${fr.partValues.length} values for " +
              s"${m.partitionCols.length} partition columns"))
        }
        val out = problems.result()
        if (out.isEmpty)
          Array(row("ok", s"version ${m.version}: ${m.fragments.length} " +
            s"fragments, ${m.fragments.map(_.liveRows).sum} live rows"))
        else out.map { case (st, d) => row(st, d) }.toArray
      })

    // CALL lance.optimize(t, target_rows_per_fragment): policy-driven
    // compaction — NO-OP when the layout is already healthy (fragment
    // count within 2x of ceil(live/target) and no deletion debt), else
    // one layout-preserving compact to the targeted fragment count.
    // The small-files remedy a streaming-append table needs on a
    // schedule, cheap enough to call unconditionally.
    val optimize = Proc("optimize",
      Array(param("t", StringType),
            paramDef("target_rows", LongType, "1000000")),
      StructType(Seq(StructField("action", StringType),
                     StructField("version", LongType),
                     StructField("fragments", IntegerType))),
      in => {
        val ds = path(in)
        val target = if (in.isNullAt(1)) 1000000L else in.getLong(1)
        require(target > 0, "lance optimize: target_rows must be positive")
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(ds, conf)
        val m = LanceFormat.readManifest(fs,
          LanceFormat.latestManifestPath(fs, p, None))
        val live = m.fragments.map(_.liveRows).sum
        val ideal = math.max(1L, (live + target - 1) / target).toInt
        val deletionDebt = m.fragments.flatMap(_.deletion)
          .map(_.numDeleted).sum > live / 10
        if (m.fragments.length <= ideal * 2 && !deletionDebt)
          Array(row("noop", m.version, m.fragments.length))
        else {
          val v = LanceMaintenance.compact(spark, ds, ideal)
          val after = LanceFormat.readManifest(fs,
            LanceFormat.latestManifestPath(fs, p, None))
          Array(row("compacted", v, after.fragments.length))
        }
      })

    // CALL lance.diff(t, from_version, to_version): change-feed summary
    // (insert/delete row counts) — the cheap CDC probe before fetching
    // full changed rows with LanceMaintenance.changesBetween.
    val diff = Proc("diff",
      Array(param("t", StringType), param("from_version", LongType),
            param("to_version", LongType)),
      StructType(Seq(StructField("inserts", LongType),
                     StructField("deletes", LongType))),
      in => {
        val ch = LanceMaintenance.changesBetween(spark, path(in),
          in.getLong(1), in.getLong(2))
        val counts = ch.groupBy("_change").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        Array(row(counts.getOrElse("insert", 0L),
                  counts.getOrElse("delete", 0L)))
      })

    // Shared by the dedup procedures: refuse out == t (the survivor write
    // would overwrite the source while the dedup plan is still reading
    // it), and take row counts from manifests — rows_in from the source
    // manifest BEFORE the write, rows_kept from the freshly-written
    // output manifest — so a CALL costs exactly the survivor-write job,
    // no post-hoc count() scans.
    def guardDistinct(srcPath: String, outPath: String): Unit = {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val (sfs, sp) = LanceFormat.fileSystem(srcPath, conf)
      val (ofs, op) = LanceFormat.fileSystem(outPath, conf)
      // makeQualified alone keeps '..' segments and symlinks, so an
      // aliased spelling ('/a/x/../b' for '/a/b') would slip past a plain
      // equality check: normalize the URI ('..'/'.' removal) and, where
      // the path already exists, let the filesystem resolve symlinks too
      // (the source always exists; a stale out dir might).
      def canon(fs: org.apache.hadoop.fs.FileSystem,
                p: org.apache.hadoop.fs.Path): java.net.URI = {
        val norm = fs.makeQualified(p).toUri.normalize()
        try fs.resolvePath(new org.apache.hadoop.fs.Path(norm)).toUri.normalize()
        catch { case _: java.io.IOException => norm }
      }
      val (s, o) = (canon(sfs, sp), canon(ofs, op))
      require(s != o,
        s"lance: out must differ from the dataset being read ($srcPath) " +
          "— the survivor write would overwrite an input of the plan " +
          "that is still reading it")
      // nesting is as destructive as equality: out INSIDE the source
      // pollutes (and a later overwrite clobbers) the dataset being read;
      // the source inside OUT would be deleted by out's mode(overwrite).
      def inside(child: java.net.URI, parent: java.net.URI): Boolean =
        child.toString.startsWith(parent.toString.stripSuffix("/") + "/")
      require(!inside(o, s),
        s"lance: out ($outPath) is nested inside the dataset being read " +
          s"($srcPath) — the write would corrupt the source")
      require(!inside(s, o),
        s"lance: the dataset being read ($srcPath) is nested inside out " +
          s"($outPath) — the overwrite would delete the source")
    }
    def liveRowsOf(dsPath: String): Long = {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(dsPath, conf)
      LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
        .fragments.map(_.liveRows).sum
    }

    // CALL lance.dedup_exact(t, key_cols, id_col, out): SQL face of
    // [[graft.operators.Dedup.exactByKey]] — one survivor (min id) per
    // distinct key tuple, written to `out` as a lance dataset. Results
    // stay distributed (one hash aggregate + a semi-join + a write);
    // only the two summary counts come back through the LocalScan.
    val dedupExact = Proc("dedup_exact",
      Array(param("t", StringType), param("key_cols", StringType),
            param("id_col", StringType), param("out", StringType)),
      StructType(Seq(StructField("rows_in", LongType),
                     StructField("rows_kept", LongType))),
      in => {
        import org.apache.spark.sql.functions.col
        val src = spark.read.format("lance").load(path(in))
        val keys = in.getString(1).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "lance dedup_exact: key_cols is empty")
        val idCol = in.getString(2)
        val outP = resolve(warehouse, in.getString(3))
        guardDistinct(path(in), outP)
        val rowsIn = liveRowsOf(path(in))
        val keep = graft.operators.Dedup.exactByKey(src, keys, idCol)
          .select(col("keep_id").as(idCol))
        src.join(keep, Seq(idCol), "left_semi")
          .write.format("lance").mode("overwrite").save(outP)
        Array(row(rowsIn, liveRowsOf(outP)))
      })

    // CALL lance.dedup_minhash(t, id_col, text_col, out [, threshold,
    // num_hashes, bands]): SQL face of the MinHash-LSH near-dup pipeline
    // ([[graft.operators.Dedup.minHashLsh]] candidates -> connected
    // components -> keep the component-minimum id). The survivor set is
    // written to `out`; the pipeline is the same bucket-local kernel the
    // Scala API runs (shuffles bounded by signatures, never candidate
    // pairs), so the SQL spelling scales identically.
    val dedupMinhash = Proc("dedup_minhash",
      Array(param("t", StringType), param("id_col", StringType),
            param("text_col", StringType), param("out", StringType),
            paramDef("threshold", DoubleType, "0.8"),
            paramDef("num_hashes", IntegerType, "64"),
            paramDef("bands", IntegerType, "16")),
      StructType(Seq(StructField("rows_in", LongType),
                     StructField("rows_kept", LongType))),
      in => {
        import org.apache.spark.sql.functions.col
        val src = spark.read.format("lance").load(path(in))
        val idCol = in.getString(1)
        val textCol = in.getString(2)
        val outP = resolve(warehouse, in.getString(3))
        val tau = if (in.isNullAt(4)) 0.8 else in.getDouble(4)
        val nh = if (in.isNullAt(5)) 64 else in.getInt(5)
        val bands = if (in.isNullAt(6)) 16 else in.getInt(6)
        guardDistinct(path(in), outP)
        val rowsIn = liveRowsOf(path(in))
        val pairs = graft.operators.Dedup.minHashLsh(
          src, idCol, textCol, numHashes = nh, bands = bands,
          jaccardThreshold = tau)
        val keep = graft.operators.Dedup
          .connectedComponents(src, idCol, pairs)
          .filter(col(idCol) === col("keep_id"))
          .select(col(idCol))
        src.join(keep, Seq(idCol), "left_semi")
          .write.format("lance").mode("overwrite").save(outP)
        Array(row(rowsIn, liveRowsOf(outP)))
      })

    // CALL lance.decontaminate(t, bench, id_col, text_col, out [, n]):
    // SQL face of exact n-gram decontamination (the d15 kernel shape) —
    // drop every corpus document sharing any word n-gram with the
    // benchmark dataset, write survivors to `out`. Scale shape: the
    // benchmark's distinct gram-hash set is eval-suite-sized (MBs), so
    // it BROADCASTS into a semi-join against the corpus's exploded grams
    // — the corpus text is never shuffled; only the contaminated id set
    // (skinny) aggregates before the anti-join.
    val decontaminate = Proc("decontaminate",
      Array(param("t", StringType), param("bench", StringType),
            param("id_col", StringType), param("text_col", StringType),
            param("out", StringType), paramDef("n", IntegerType, "5")),
      StructType(Seq(StructField("rows_in", LongType),
                     StructField("rows_kept", LongType))),
      in => {
        import org.apache.spark.sql.functions.{broadcast, col, explode}
        val src = spark.read.format("lance").load(path(in))
        val bench = spark.read.format("lance")
          .load(resolve(warehouse, in.getString(1)))
        val idCol = in.getString(2)
        val textCol = in.getString(3)
        val outP = resolve(warehouse, in.getString(4))
        val n = if (in.isNullAt(5)) 5 else in.getInt(5)
        require(n >= 1, "lance decontaminate: n must be >= 1")
        guardDistinct(path(in), outP)
        // the benchmark is ALSO read during the survivor write
        guardDistinct(resolve(warehouse, in.getString(1)), outP)
        val rowsIn = liveRowsOf(path(in))
        // gram identity is the 64-bit rolling hash (d06/d15 precedent:
        // collisions negligible against corpus-scale gram counts)
        def grams(c: org.apache.spark.sql.Column) =
          graft.functions.ArrayKernels.wordGramStats(c, n).getField("hashes")
        val benchGrams = bench.select(explode(grams(col(textCol))).as("g")).distinct()
        val contaminated = src
          .select(col(idCol), explode(grams(col(textCol))).as("g"))
          .join(broadcast(benchGrams), Seq("g"), "left_semi")
          .select(col(idCol)).distinct()
        src.join(contaminated, Seq(idCol), "left_anti")
          .write.format("lance").mode("overwrite").save(outP)
        Array(row(rowsIn, liveRowsOf(outP)))
      })

    // CALL lance.semantic_dedup(t, id_col, vec_col, out [, n_clusters,
    // cos_threshold]): SQL face of [[graft.operators.Dedup.semanticDedup]]
    // (SemDeDup) — K-means clusters block the pair space, cosine pairs
    // above the threshold feed connected components, each component keeps
    // its minimum id; survivors written to `out`. Same N^1.5-bounded
    // kernel as the Scala API (quadratic term capped by the largest
    // cluster), so the SQL spelling scales identically.
    val semanticDedup = Proc("semantic_dedup",
      Array(param("t", StringType), param("id_col", StringType),
            param("vec_col", StringType), param("out", StringType),
            paramDef("n_clusters", IntegerType, "64"),
            paramDef("cos_threshold", DoubleType, "0.97")),
      StructType(Seq(StructField("rows_in", LongType),
                     StructField("rows_kept", LongType))),
      in => {
        import org.apache.spark.sql.functions.col
        val src = spark.read.format("lance").load(path(in))
        val idCol = in.getString(1)
        val vecCol = in.getString(2)
        val outP = resolve(warehouse, in.getString(3))
        val nClusters = if (in.isNullAt(4)) 64 else in.getInt(4)
        val tau = if (in.isNullAt(5)) 0.97 else in.getDouble(5)
        guardDistinct(path(in), outP)
        val rowsIn = liveRowsOf(path(in))
        val keep = graft.operators.Dedup
          .semanticDedup(src, idCol, vecCol, nClusters, tau)
          .filter(col(idCol) === col("keep_id"))
          .select(col(idCol))
        src.join(keep, Seq(idCol), "left_semi")
          .write.format("lance").mode("overwrite").save(outP)
        Array(row(rowsIn, liveRowsOf(outP)))
      })

    // CALL lance.create_ivf_index(t, id_col, vec_col, index_path
    // [, n_lists, n_probe]): SQL face of
    // [[graft.operators.Similarity.ivfBuildPersistLance]] — the offline
    // IVF build (range-partitioned vectors.lance + centroid sidecar with
    // the persisted probe width), recording the source head version so
    // ivfSearchCombinedLive can brute-force the post-build append tail and
    // re-rank the index candidates against the live source. Also
    // registers the `ORDER BY graft_cosine(...) DESC LIMIT k` planner
    // rewrite for this session. Returns the recorded source version.
    val createIvf = Proc("create_ivf_index",
      Array(param("t", StringType), param("id_col", StringType),
            param("vec_col", StringType), param("index_path", StringType),
            paramDef("n_lists", IntegerType, "64"),
            paramDef("n_probe", IntegerType,
              graft.operators.Similarity.DefaultNProbe.toString)),
      StructType(Seq(StructField("built_version", LongType))),
      in => {
        val nLists = if (in.isNullAt(4)) 64 else in.getInt(4)
        val nProbe = if (in.isNullAt(5))
          graft.operators.Similarity.DefaultNProbe else in.getInt(5)
        val v = graft.operators.Similarity.ivfBuildPersistLance(spark,
          path(in), in.getString(1), in.getString(2),
          nLists, resolve(warehouse, in.getString(3)), nProbe)
        Array(row(v))
      })

    // CALL lance.optimize_ivf_index(t, id_col, vec_col, index_path): SQL
    // face of [[graft.operators.Similarity.ivfUpdateIndex]] — the crate's
    // optimize_indices for a vector index: assign the post-build append
    // tail to the EXISTING centroids (no re-train) and merge it into
    // vectors.lance under the meta-pinned publish protocol. Returns the
    // covered source version.
    val optimizeIvf = Proc("optimize_ivf_index",
      Array(param("t", StringType), param("id_col", StringType),
            param("vec_col", StringType), param("index_path", StringType)),
      StructType(Seq(StructField("covered_version", LongType))),
      in => {
        val v = graft.operators.Similarity.ivfUpdateIndex(spark,
          path(in), resolve(warehouse, in.getString(3)),
          in.getString(1), in.getString(2))
        Array(row(v))
      })

    // CALL lance.create_fts_index(t, id_col, text_col, index_path): SQL
    // face of [[graft.operators.Fts.buildIndexLance]] — the offline FTS
    // build (term-partitioned postings + vocabulary + stats sidecars,
    // atomically published through built.lance) with the lance-attached
    // metadata that enables incremental updateIndex and the
    // `graft_bm25(...)` SQL rewrite. Returns the recorded source version.
    val createFts = Proc("create_fts_index",
      Array(param("t", StringType), param("id_col", StringType),
            param("text_col", StringType), param("index_path", StringType)),
      StructType(Seq(StructField("built_version", LongType))),
      in => {
        val v = graft.operators.Fts.buildIndexLance(spark, path(in),
          in.getString(1), in.getString(2),
          resolve(warehouse, in.getString(3)))
        Array(row(v))
      })

    // CALL lance.optimize_fts_index(t, index_path): SQL face of
    // [[graft.operators.Fts.updateIndex]] — the crate's optimize_indices
    // for an FTS index (the [[optimizeIvf]] twin): tail postings append
    // as new range-sorted fragments, the vocabulary merges tail dfs,
    // corpus stats advance by the exact tail delta, and the merged
    // statistics equal a from-scratch rebuild's exactly (FtsSpec's
    // differential pin). Column names come from the index's own
    // built.lance, so the call needs only the dataset and index paths.
    // Returns the covered source version.
    val optimizeFts = Proc("optimize_fts_index",
      Array(param("t", StringType), param("index_path", StringType)),
      StructType(Seq(StructField("covered_version", LongType))),
      in => {
        val v = graft.operators.Fts.updateIndex(spark, path(in),
          resolve(warehouse, in.getString(1)))
        Array(row(v))
      })

    // CALL lance.create_ivf_pq_index(t, id_col, vec_col, index_path
    // [, n_lists, m]): SQL face of
    // [[graft.operators.Similarity.ivfPqBuildPersistLance]] — the offline
    // IVF_PQ build (8-byte ADC codes in pq.lance + coarse-centroid and
    // codebook sidecars; the corpus is NOT copied — re-rank point-reads
    // it), with pq_meta.lance recording (source head, published pq.lance
    // version) so probes are crash-window-safe and optimize_ivf_pq_index
    // can cover the append tail. Returns the recorded source version.
    val createIvfPq = Proc("create_ivf_pq_index",
      Array(param("t", StringType), param("id_col", StringType),
            param("vec_col", StringType), param("index_path", StringType),
            paramDef("n_lists", IntegerType, "64"),
            paramDef("m", IntegerType, "8")),
      StructType(Seq(StructField("built_version", LongType))),
      in => {
        val nLists = if (in.isNullAt(4)) 64 else in.getInt(4)
        val m = if (in.isNullAt(5)) 8 else in.getInt(5)
        val v = graft.operators.Similarity.ivfPqBuildPersistLance(spark,
          path(in), in.getString(1), in.getString(2),
          nLists, resolve(warehouse, in.getString(3)), m)
        Array(row(v))
      })

    // CALL lance.optimize_ivf_pq_index(t, id_col, vec_col, index_path):
    // SQL face of [[graft.operators.Similarity.ivfPqUpdateIndex]] — the
    // crate's optimize_indices for an IVF_PQ index: the post-build append
    // tail assigns to the EXISTING coarse centroids and encodes with the
    // EXISTING codebooks (no re-train of either), merging into pq.lance
    // keyed on the id under the meta-pinned publish protocol. Returns the
    // covered source version.
    val optimizeIvfPq = Proc("optimize_ivf_pq_index",
      Array(param("t", StringType), param("id_col", StringType),
            param("vec_col", StringType), param("index_path", StringType)),
      StructType(Seq(StructField("covered_version", LongType))),
      in => {
        val v = graft.operators.Similarity.ivfPqUpdateIndex(spark,
          path(in), resolve(warehouse, in.getString(3)),
          in.getString(1), in.getString(2))
        Array(row(v))
      })

    Map("compact" -> compact, "vacuum" -> vacuum, "restore" -> restore,
        "create_tag" -> createTag, "delete_tag" -> deleteTag,
        "tags" -> tags, "versions" -> versions, "describe" -> describe,
        "update" -> update, "merge_insert" -> mergeIns,
        "create_matview" -> createMv, "refresh_matview" -> refreshMv,
        "matview_status" -> mvStatus,
        "ndv" -> ndv, "stats" -> stats, "verify" -> verifyProc,
        "optimize" -> optimize, "diff" -> diff,
        "dedup_exact" -> dedupExact, "dedup_minhash" -> dedupMinhash,
        "decontaminate" -> decontaminate, "semantic_dedup" -> semanticDedup,
        "create_ivf_index" -> createIvf, "create_fts_index" -> createFts,
        "create_ivf_pq_index" -> createIvfPq,
        "optimize_ivf_index" -> optimizeIvf,
        "optimize_ivf_pq_index" -> optimizeIvfPq,
        "optimize_fts_index" -> optimizeFts)
  }
}
