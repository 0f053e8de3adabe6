package graft.sources.lance

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Dataset maintenance operations.
  *
  * `compact` is the small-files remedy every long-lived 100 TB dataset
  * needs: streaming appends (one fragment per micro-batch/task) fragment
  * the dataset; scan parallelism and footer/metadata overhead degrade.
  * Compaction rewrites the current version's rows into `targetFragments`
  * larger fragments as a NEW version — old versions remain readable via
  * `versionAsOf` (lance versioning semantics), so it is safe to run while
  * readers hold older manifests.
  */
object LanceMaintenance {

  /** Small daemon pool for overlapping a maintenance commit's two
    * independent Spark jobs (deletion-vector write vs replacement
    * staging) — Spark's scheduler is thread-safe, and both jobs are
    * delta-sized, so the overlap halves the serialized wall time. */
  private val maintenanceEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "lance-maintenance")
      t.setDaemon(true)
      t
    }))

  /** Rewrite the dataset into `targetFragments` fragments; returns the new
    * version number. Live data is unchanged (deleted rows are materialized
    * away — the masked read drops them, so compaction doubles as delete
    * cleanup). */
  def compact(spark: SparkSession, path: String, targetFragments: Int = 1,
              sortBy: Seq[String] = Nil): Long = {
    require(targetFragments > 0, "targetFragments must be positive")
    // a stable-row-id dataset must not be overwrite-compacted (ids would
    // be reassigned): delegate to the id-preserving path
    val conf0 = spark.sessionState.newHadoopConf()
    val (fs0, p0) = LanceFormat.fileSystem(path, conf0)
    val m0 = LanceFormat.readManifest(fs0,
      LanceFormat.latestManifestPath(fs0, p0, None))
    if (m0.stableRowIds) {
      require(sortBy.isEmpty,
        "lance compact: re-sorting a move-stable-row-id dataset would " +
          "reorder rows inside fragments — supported only without sortBy")
      return compactStable(spark, path, targetFragments)
    }
    // sortBy = recluster while compacting (the OPTIMIZE ... SORT analogue):
    // the write's range exchange produces range-disjoint fragments, so
    // stats pruning gets sharper as a side effect of the same rewrite
    val src = spark.read.format("lance").load(path)
    val wr =
      if (m0.partitionCols.nonEmpty) {
        // partition-preserving compaction: rewrite under the SAME declared
        // layout so KeyGroupedPartitioning (storage-partitioned joins)
        // survives the merge — small fragments of one partition value /
        // bucket coalesce into one. Fragment count is determined by the
        // layout (one per value / bucket), not targetFragments. The
        // within-fragment sort: an explicit sortBy re-sorts during the
        // rewrite (OPTIMIZE ... SORT); otherwise the declared layout sort
        // is recovered from sortCols (for identity layouts sortCols =
        // partitionCols ++ sortBy — a degrade append may have cleared it).
        val bucketSpec = m0.partitionCols.flatMap(c => LanceBucket.parseSpec(c).toSeq)
        val w0 = src.write.format("lance")
        val w1 =
          if (bucketSpec.nonEmpty) {
            val (n, c) = bucketSpec.head
            w0.option("bucketBy", s"$n:$c")
              .option("writePartitions", targetFragments.toString)
          } else w0.option("partitionBy", m0.partitionCols.mkString(","))
        val declaredSort =
          if (sortBy.nonEmpty) sortBy
          else m0.sortCols.drop(
            if (bucketSpec.nonEmpty) 0 else m0.partitionCols.length)
        if (declaredSort.nonEmpty) w1.option("sortBy", declaredSort.mkString(","))
        else w1
      } else if (sortBy.nonEmpty)
        src.write.format("lance")
          .option("sortBy", sortBy.mkString(","))
          .option("writePartitions", targetFragments.toString)
      else src.repartition(targetFragments).write.format("lance")
    wr.mode("overwrite").save(path)
    LanceFormat.headVersion(spark.sessionState.newHadoopConf(), path)
  }

  /** Compaction that PRESERVES move-stable row ids (the crate's
    * `compact_files` on a dataset with `enable_move_stable_row_ids`):
    * fragments are concatenated in manifest order into `targetFragments`
    * groups, deleted rows are materialized away, and each new fragment's
    * row-id sequence records the surviving ids — rows MOVE (new
    * addresses), ids DON'T, so indexes keyed by `_rowid` stay correct
    * across the rewrite.
    *
    * Scale shape: one executor task per output fragment streams its
    * group's live rows through a page-buffered writer (the mergeColumns
    * pattern); row-id runs compress to range segments on the fly, so the
    * driver receives per-fragment METADATA (file name, row count, stats,
    * encoded segments), never rows. Plain [[compact]] delegates here on a
    * stable dataset — an address-rewriting overwrite would reassign ids,
    * which is exactly what the feature forbids.
    */
  def compactStable(spark: SparkSession, path: String,
                    targetFragments: Int = 1): Long = {
    import org.apache.spark.sql.functions.{col, shiftrightunsigned, typedlit}
    require(targetFragments > 0, "targetFragments must be positive")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)
    require(manifest.stableRowIds,
      s"lance compactStable: $path has no move-stable row ids — use compact")
    val schema = LanceFormat.toStructType(manifest)
    val fsl: Map[String, Int] = manifest.fields
      .filter(f => f.parentId == -1 && f.logicalType.startsWith("fixed_size_list:"))
      .map(f => f.name -> LanceFormat.fslParts(f.logicalType)._2).toMap

    // contiguous grouping in manifest order (the crate concatenates
    // neighbours too — time-locality of appends is preserved)
    val frags = manifest.fragments
    val nGroups = math.min(targetFragments, math.max(frags.length, 1))
    val per = math.ceil(frags.length.toDouble / nGroups).toInt
    val groupOf: Map[Long, Int] =
      frags.zipWithIndex.map { case (f, i) => f.id -> i / per }.toMap

    val src = spark.read.format("lance")
      .option("versionAsOf", manifest.version.toString).load(path)
      .select(schema.fieldNames.map(col) :+ col("_rowaddr") :+ col("_rowid"): _*)
    val grpMap = typedlit(groupOf)
    val prepared = src
      .withColumn("__grp",
        org.apache.spark.sql.functions.element_at(
          grpMap, shiftrightunsigned(col("_rowaddr"), 32)))
      .repartition(nGroups, col("__grp"))
      .sortWithinPartitions(col("__grp"), col("_rowaddr"))
    val outSchema = prepared.schema
    val addrIdx = outSchema.fieldIndex("_rowaddr")
    val ridIdx = outSchema.fieldIndex("_rowid")
    val grpIdx = outSchema.fieldIndex("__grp")
    val dataIdxs = schema.fieldNames.map(outSchema.fieldIndex)
    val dataTypes = schema.fields.map(_.dataType)
    val serConf = SessionConf.broadcast(spark)
    val pathStr = path
    val fslB = fsl

    val newFiles = prepared.queryExecution.toRdd.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, Long, Seq[(Int, Double, Double)], Array[Byte])]
      var curGrp = -1
      var writer: LanceFragmentWriter = null
      var os: java.io.OutputStream = null
      var fname: String = null
      var rows = 0L
      val segs = scala.collection.mutable.ArrayBuffer.empty[LanceFormat.RowIdSeg]
      var runStart = 0L
      var runLen = 0L
      def flushRun(): Unit = if (runLen > 0) {
        segs += LanceFormat.RangeSeg(runStart, runLen); runLen = 0
      }
      def closeCur(): Unit = if (writer != null) {
        writer.finish(); os.close()
        flushRun()
        out += ((curGrp, fname, rows, writer.fileStats,
                 LanceFormat.encodeRowIds(segs.toSeq)))
        writer = null; os = null; segs.clear()
      }
      it.foreach { row =>
        val grp = row.getInt(grpIdx)
        if (grp != curGrp) {
          closeCur()
          curGrp = grp
          fname = s"${java.util.UUID.randomUUID()}.lance"
          val fp = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(pathStr), "data"), fname)
          os = fp.getFileSystem(serConf.value.value).create(fp, true)
          writer = new LanceFragmentWriter(os, org.apache.spark.sql.types.StructType(
            schema.fields), fsl = fslB)
          rows = 0L
        }
        val id = row.getLong(ridIdx)
        if (runLen > 0 && id == runStart + runLen) runLen += 1
        else { flushRun(); runStart = id; runLen = 1 }
        val vals = new Array[Any](dataIdxs.length)
        var i = 0
        while (i < dataIdxs.length) {
          vals(i) = if (row.isNullAt(dataIdxs(i))) null
                    else row.get(dataIdxs(i), dataTypes(i))
          i += 1
        }
        writer.write(new GenericInternalRow(vals))
        rows += 1
      }
      closeCur()
      out.iterator
    }.collect().sortBy(_._1)

    // snapshot commit: a concurrent append would be dropped by this
    // whole-fragment-set replacement — fail loudly instead (like the
    // deleteWhere interleave guard); retry-after-recompute is the caller's
    // decision.
    val latest = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None))
    if (latest.version != manifest.version) throw new LanceCommitConflict(
      s"lance: dataset changed under compactStable on $path — recompute", null)
    val newFrags = newFiles.map { case (_, f, r, st, _) => (f, r, st) }.toSeq
    val newSegs = newFiles.map { case (_, _, _, _, b) =>
      LanceFormat.decodeRowIds(b)
    }.toSeq
    val newVersion = manifest.version + 1
    // compaction merges fragments across partition values: the partition
    // COLUMNS survive (the dataset's declared layout), but the rewritten
    // fragments carry no values, so KeyGroupedPartitioning reporting is
    // disabled until a partitioned rewrite; per-fragment sortedness is
    // likewise void after merging
    LanceWriteSupport.writeManifest(conf, p, schema, newFrags,
      frags.map(_.id).foldLeft(-1L)(math.max) + 1, Nil, newVersion, fsl,
      manifest.fields, newRowIds = newSegs, nextRowId = manifest.nextRowId,
      partitionCols = manifest.partitionCols)
    newVersion
  }

  /** Delete rows matching a SQL `condition` without rewriting data files:
    * writes per-fragment deletion bitmaps (`_deletions/….bin`, roaring
    * portable format) and commits a new manifest version whose fragments
    * carry `deletion_file` entries. Reads of the new version mask the
    * rows; older versions still see them (time travel covers the delete).
    *
    * Scale shape: the predicate is evaluated distributed (full scan with
    * the `_rowaddr` metadata column), matching addresses shuffle once on
    * fragment id, and each group writes its deletion file FROM THE
    * EXECUTOR — only the metas (fragId, file id, count) land on the
    * driver, so a mass delete of 10^9 rows ships kilobytes, not offsets.
    * When the columns the condition names fit the cap, the predicate runs
    * on the driver instead, with no Spark job (`deleteLocal`).
    *
    * Returns the committed version (unchanged if nothing matched). */
  def deleteWhere(spark: SparkSession, path: String, condition: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)

    val delMetas = deleteLocal(spark, path, fs, p, manifest, condition).getOrElse {
      // pin the scan to the SAME version as the captured manifest: an
      // unpinned load re-reads the head at planning time, so a concurrent
      // append between the two reads tears the snapshot (the scan sees a
      // fragment the manifest doesn't — found by the racing-commits test)
      val df = spark.read.format("lance")
        .option("versionAsOf", manifest.version.toString)
        .option("withRowAddress", "true").load(path)
      writeDeletionFiles(spark, path, manifest, df.filter(condition))
    }
    if (delMetas.isEmpty) return manifest.version

    // Optimistic commit with SAFE rebase (the append path's model): losing
    // the version race to a concurrent APPEND is harmless — an append only
    // adds fragments, so the bitmaps computed at readVersion still apply —
    // rebase on the new latest and re-patch. Any interleaving that touched
    // a patched fragment (another delete/update/compaction: deletion entry
    // or id gone) makes the bitmaps stale, so fail loudly instead.
    commitDeletionLoop(conf, p, path, manifest, delMetas)
  }

  /** [[deleteWhere]]'s matches found on the driver: the columns the
    * condition names and `_rowaddr` read at `manifest` through
    * [[LanceLocal]], the condition applied to them as a folded
    * `LocalRelation` filter, and the deletion files written by
    * [[Deletions.write]]. None when the read is over the cap, a reference
    * is not a column, or the filter does not fold; the caller runs the
    * DSv2 scan. */
  private def deleteLocal(spark: SparkSession, path: String,
                          fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path,
                          manifest: LanceFormat.Manifest,
                          condition: String): Option[Map[Long, LanceFormat.DeletionFileMeta]] = {
    val names = LanceFormat.toStructType(manifest).fieldNames.toSeq :+ "_rowaddr"
    val resolver = spark.sessionState.conf.resolver
    val refs = spark.sessionState.sqlParser.parseExpression(condition).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        names.find(resolver(_, a.name))
    }
    for {
      cols <- if (refs.forall(_.isDefined)) Some(refs.flatten.distinct) else None
      got <- LanceLocal.readAt(LanceLocal.Snapshot(path, fs, p, manifest),
        columns = cols.filterNot(_ == "_rowaddr") :+ "_rowaddr")
      matched <- LanceLocal.folded(got.frame(spark).filter(condition).select("_rowaddr"))
    } yield deletions(spark, path, manifest).writeLocal(
      spark.sessionState.newHadoopConf(), matched.rows.map(_.getLong(0)))
  }

  /** Per-fragment roaring deletion bitmaps against one manifest: each
    * fragment's matched offsets merged with its existing deletion file
    * (either lance format — offsets are physical, so old and new union
    * cleanly), written as a new file of `readVersion`. A matched addr
    * outside `validFrags` means the scan and manifest disagree: fail
    * loudly, not silently. Serializable: executors write with it in
    * [[writeDeletionFiles]], the driver in the local arms. */
  private final case class Deletions(delDir: String, readVersion: Long,
                                     existing: Map[Long, String],
                                     validFrags: Set[Long]) {
    /** Write fragment `frag`'s file from `offs` (any order, repeats
      * allowed); (frag, file id, deleted count). */
    def write(conf: Configuration, frag: Long, offs: Array[Int]): (Long, Long, Long) = {
      if (!validFrags.contains(frag))
        throw new IllegalStateException(s"fragment $frag vanished mid-delete")
      java.util.Arrays.sort(offs)
      val merged = existing.get(frag) match {
        case Some(name) =>
          val bs = DeletionFiles.read(s"$delDir/$name", conf)
          offs.foreach(bs.set)
          val out = new Array[Int](bs.cardinality())
          var i = bs.nextSetBit(0); var k = 0
          while (i >= 0) { out(k) = i; k += 1; i = bs.nextSetBit(i + 1) }
          out
        case None => // dedupe in place (scans can't dup an addr, but be safe)
          var k = 0
          var i = 0
          while (i < offs.length) {
            if (k == 0 || offs(i) != offs(k - 1)) { offs(k) = offs(i); k += 1 }
            i += 1
          }
          java.util.Arrays.copyOf(offs, k)
      }
      val id = new java.security.SecureRandom().nextInt(Int.MaxValue).toLong
      val meta = LanceFormat.DeletionFileMeta(readVersion, id, 1, merged.length.toLong)
      val (dfs, dp) = LanceFormat.fileSystem(s"$delDir/${meta.fileName(frag)}", conf)
      val out = dfs.create(dp, true)
      try out.write(Roaring.serialize(merged)) finally out.close()
      (frag, id, merged.length.toLong)
    }

    def metas(written: Iterable[(Long, Long, Long)]): Map[Long, LanceFormat.DeletionFileMeta] =
      written.map { case (frag, id, n) =>
        frag -> LanceFormat.DeletionFileMeta(readVersion, id, 1, n)
      }.toMap

    /** The files of `addrs` (row addresses), written on the driver. */
    def writeLocal(conf: Configuration,
                   addrs: Iterable[Long]): Map[Long, LanceFormat.DeletionFileMeta] =
      metas(addrs.groupBy(_ >>> 32).map { case (frag, as) =>
        write(conf, frag, as.iterator.map(a => (a & 0xffffffffL).toInt).toArray)
      })
  }

  /** The [[Deletions]] of `path` at `manifest`, its directory created. */
  private def deletions(spark: SparkSession, path: String,
                        manifest: LanceFormat.Manifest): Deletions = {
    val (fs, p) = LanceFormat.fileSystem(path, spark.sessionState.newHadoopConf())
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletions")
    fs.mkdirs(delDir)
    Deletions(delDir.toString, manifest.version,
      manifest.fragments.flatMap(fr => fr.deletion.map(d => fr.id -> d.fileName(fr.id))).toMap,
      manifest.fragments.map(_.id).toSet)
  }

  /** Write the deletion files of `matched` (any frame carrying a
    * `_rowaddr` column) with [[Deletions.write]] inside `mapGroups` on
    * executors; the driver collects only the metas. A speculative/retried
    * task leaves at most an unreferenced file behind (fresh random id per
    * attempt), which vacuum sweeps.
    * Shared by deleteWhere, mergeInsert, and updateWhere. */
  private def writeDeletionFiles(
      spark: SparkSession, path: String,
      manifest: LanceFormat.Manifest,
      matched: org.apache.spark.sql.DataFrame): Map[Long, LanceFormat.DeletionFileMeta] = {
    import spark.implicits._
    val dels = deletions(spark, path, manifest)
    val serConf = SessionConf.broadcast(spark)
    dels.metas(matched
      .select(org.apache.spark.sql.functions.col("_rowaddr")).as[Long]
      .groupByKey(a => a >>> 32)
      .mapGroups { (frag, it) =>
        dels.write(serConf.value.value, frag, it.map(a => (a & 0xffffffffL).toInt).toArray)
      }
      .collect())
  }

  /** Column-merge — the lance crate's `Dataset::merge` / `add_columns`
    * analogue: LEFT-join `right` onto the dataset by key and persist the
    * new columns as ONE COLUMN-SLICE DATA FILE PER FRAGMENT, aligned to
    * the fragment's physical row order. Existing data files are never
    * rewritten; the commit is one manifest version appending the new
    * fields and each fragment's slice file. Unmatched rows (and offsets
    * already deleted) null-fill; fragments whose rows all miss simply get
    * no slice (the reader null-fills absent field ids).
    *
    * Scale shape: the join shuffles only `(key, _rowaddr)` plus the new
    * columns; each fragment's slice writes executor-side in one
    * offset-sorted pass (page-buffered, gaps null-filled); the driver
    * collects only `(fragId, fileName)` metas.
    *
    * Returns the committed version. */
  def mergeColumns(spark: SparkSession, path: String,
                   right: org.apache.spark.sql.DataFrame,
                   leftOn: String, rightOn: String): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{StructField, StructType}
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)
    val newFields = right.schema.fields.filterNot(_.name == rightOn)
    require(newFields.nonEmpty, "lance mergeColumns: right side adds no columns")
    newFields.foreach { f =>
      require(!manifest.fields.exists(g => g.parentId == -1 && g.name == f.name),
        s"lance mergeColumns: column '${f.name}' already exists")
    }
    // crate merge precondition: right keys are unique (a duplicate would
    // fan a row's merge value out nondeterministically)
    require(right.groupBy(col(rightOn)).count()
      .filter(col("count") > 1).limit(1).count() == 0,
      s"lance mergeColumns: duplicate '$rightOn' keys in right side")

    val sliceSchema = StructType(newFields.map(f =>
      StructField(f.name, f.dataType, nullable = true)).toSeq)
    val subLayout = LanceSchemaLayout.of(sliceSchema)
    // new ids continue the committed id space — same rule as addColumn
    val inFiles = manifest.fragments.flatMap(_.files.flatMap(_.fieldIds))
    val nextId = (manifest.fields.map(_.id) ++ inFiles).foldLeft(-1)(math.max) + 1
    val appendFields = subLayout.fields.map(f => LanceFormat.LanceField(
      id = f.id + nextId, name = f.name, logicalType = f.logicalType,
      parentId = if (f.parentId == -1) -1 else f.parentId + nextId))
    val sliceColIds = subLayout.topFieldIdOfCol.map(_ + nextId)

    val base = spark.read.format("lance")
      .option("versionAsOf", manifest.version.toString).load(path)
      .select(col(leftOn).as("__k"), col("_rowaddr").as("__addr"))
    val joined = base
      .join(right.withColumnRenamed(rightOn, "__k"), Seq("__k"), "left")
      .drop("__k")
    val physRows = manifest.fragments.map(fr => fr.id -> fr.physicalRows).toMap
    val serConf = SessionConf.broadcast(spark)
    val pathStr = path
    val prepared = joined
      .withColumn("__frag", expr("shiftrightunsigned(__addr, 32)"))
      .repartition(math.max(manifest.fragments.length, 1), col("__frag"))
      .sortWithinPartitions("__frag", "__addr")
    val outSchema = prepared.schema
    val addrIdx = outSchema.fieldIndex("__addr")
    val fragIdx = outSchema.fieldIndex("__frag")
    val colIdxs = newFields.map(f => outSchema.fieldIndex(f.name))
    val colTypes = newFields.map(_.dataType)
    val bPhys = spark.sparkContext.broadcast(physRows)
    val sliceMetas = prepared.queryExecution.toRdd.mapPartitions { it =>
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var curFrag = -1L
      var writer: LanceFragmentWriter = null
      var os: java.io.OutputStream = null
      var fname: String = null
      var nextOff = 0L
      val nulls = new GenericInternalRow(new Array[Any](colIdxs.length))
      def pad(until: Long): Unit =
        while (nextOff < until) { writer.write(nulls); nextOff += 1 }
      def closeCur(): Unit = if (writer != null) {
        pad(bPhys.value(curFrag)) // trailing unmatched/deleted offsets
        writer.finish(); os.close()
        out += ((curFrag, fname))
        writer = null; os = null
      }
      it.foreach { row =>
        val frag = row.getLong(fragIdx)
        if (frag != curFrag) {
          closeCur()
          curFrag = frag
          fname = s"${java.util.UUID.randomUUID()}.lance"
          val fp = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(pathStr), "data"), fname)
          os = fp.getFileSystem(serConf.value.value).create(fp, true)
          writer = new LanceFragmentWriter(os, sliceSchema)
          nextOff = 0L
        }
        val off = row.getLong(addrIdx) & 0xffffffffL
        pad(off)
        val vals = new Array[Any](colIdxs.length)
        var i = 0
        while (i < colIdxs.length) {
          vals(i) = if (row.isNullAt(colIdxs(i))) null
                    else row.get(colIdxs(i), colTypes(i))
          i += 1
        }
        writer.write(new GenericInternalRow(vals))
        nextOff += 1
      }
      closeCur()
      out.iterator
    }.collect().toMap

    val newVersion = manifest.version + 1
    commitMergePatch(conf, p, manifestPath, appendFields, sliceColIds,
                     sliceMetas, newVersion)
    newVersion
  }

  /** Proto-level manifest patch for [[mergeColumns]]: append the new
    * fields after the existing field list and a column-slice DataFile to
    * each fragment that got one; everything else re-emits verbatim. */
  private def commitMergePatch(
      conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path,
      manifestPath: org.apache.hadoop.fs.Path,
      appendFields: Seq[LanceFormat.LanceField],
      sliceColIds: Seq[Int],
      files: Map[Long, String],
      newVersion: Long): Unit = {
    val (fs, _) = LanceFormat.fileSystem(p.toString, conf)
    val rawAll = LanceFormat.readWholeFile(fs, manifestPath)
    val pbLen = (rawAll(0) & 0xff) | ((rawAll(1) & 0xff) << 8) |
                ((rawAll(2) & 0xff) << 16) | ((rawAll(3) & 0xff) << 24)
    val top = Proto.parse(rawAll, 4, 4 + pbLen)
    val w = new Proto.Writer
    val fieldTags = top.filter(f => f.tag == 1 && f.wire == 2)
    top.foreach { f =>
      if (f.tag == 1 && f.wire == 2) {
        w.raw(f)
        if (f eq fieldTags.last)
          appendFields.foreach(nf => w.message(1, LanceWriteSupport.fieldProtoOf(nf)))
      } else if (f.tag == 2 && f.wire == 2) {
        val fragFields = Proto.parse(f.bytes)
        val fragId = Proto.firstVarint(fragFields, 1).getOrElse(0L)
        files.get(fragId) match {
          case None => w.raw(f)
          case Some(name) =>
            val fw = new Proto.Writer
            fragFields.foreach(fw.raw)
            val dw = new Proto.Writer
            dw.string(1, name).packed(2, sliceColIds.map(_.toLong))
              .packed(3, sliceColIds.indices.map(_.toLong)).varint(4, 2L)
            fw.message(2, dw)
            w.message(2, fw)
        }
      } else if (f.tag == 3 && f.wire == 0) w.varint(3, newVersion)
      else w.raw(f)
    }
    LanceWriteSupport.commitManifest(conf, p, w.result(), newVersion)
  }

  /** Upsert (lance merge_insert analogue): rows of `source` whose `keys`
    * match an existing target row REPLACE it; the rest are inserted — all
    * in ONE committed version.
    *
    * Scale shape: matched addresses come from a key-only left-semi join
    * against the target's `_rowaddr` scan (skinny shuffle, no row data on
    * the driver beyond (fragId, bitmap)); the replacement rows are staged
    * as ordinary page-buffered fragment files by executors (a hidden
    * `_staging-*` dataset whose fragments are renamed into `data/`), and
    * the commit writes one manifest: old fragments with patched deletion
    * vectors + the staged fragments. Readers never observe an
    * intermediate state — versions V and V+1 are both consistent. A
    * source of driver rows whose target key read fits the cap commits on
    * the driver instead, with no Spark job (`mergeLocal`).
    *
    * Returns the committed version (unchanged if `source` is empty). */
  def mergeInsert(spark: SparkSession, path: String,
                  source: org.apache.spark.sql.DataFrame,
                  keys: Seq[String]): Long = {
    require(keys.nonEmpty, "mergeInsert needs at least one key column")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)

    val target = spark.read.format("lance")
      .option("versionAsOf", manifest.version.toString)
      .option("withRowAddress", "true").load(path)
    val tgtFields = target.schema.filterNot(_.name == "_rowaddr")
    require(tgtFields.map(_.name).toSet == source.schema.map(_.name).toSet,
      s"mergeInsert source columns ${source.columns.mkString(",")} must match " +
      s"target ${tgtFields.map(_.name).mkString(",")}")
    val src = source.select(tgtFields.map(f =>
      org.apache.spark.sql.functions.col(f.name)): _*)
    mergeLocal(spark, path, fs, p, manifest, src, keys, tgtFields).getOrElse {
      if (src.isEmpty) manifest.version
      else {
        // matched target rows (left-semi on keys) -> deletion vectors, written
        // executor-side BEFORE staging (files stay unreferenced until the one
        // manifest commit, so ordering is free)
        val keyCols = keys.map(org.apache.spark.sql.functions.col)
        val matched = target.join(src.select(keyCols: _*).distinct(), keys, "left_semi")
        val delF = scala.concurrent.Future(
          writeDeletionFiles(spark, path, manifest, matched))(maintenanceEc)
        commitReplacement(spark, path, manifest, delF, stageFrame(src), tgtFields)
      }
    }
  }

  /** [[mergeInsert]] on the driver, with no Spark job, when `src` folds to
    * driver rows within the cap ([[LanceLocal.folded]]) and the target's
    * `(keys, _rowaddr)` read fits it: the matched addresses come from
    * that read, their deletion files from [[Deletions.write]], the
    * staging fragment from [[LanceLocal.write]], and the commit from
    * [[commitReplacement]]'s loop and abort cleanup. None (the caller
    * runs the DSv2 plan) otherwise, or when a key is not of an exact
    * type on both sides. */
  private def mergeLocal(spark: SparkSession, path: String,
                         fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path,
                         manifest: LanceFormat.Manifest,
                         src: org.apache.spark.sql.DataFrame, keys: Seq[String],
                         tgtFields: Seq[org.apache.spark.sql.types.StructField]): Option[Long] =
    for {
      rows <- LanceLocal.folded(src).filter(_.fits)
      types = keys.map(k => rows.schema(k).dataType)
      if types.forall(LanceLocal.ExactKeyTypes) && keys.zip(types).forall { case (k, t) =>
        tgtFields.exists(f => f.name == k && f.dataType == t) }
      srcKey = keys.map(rows.schema.fieldIndex).zip(types)
      wanted = rows.rows.map(r => srcKey.map { case (i, t) => r.get(i, t) })
        .filterNot(_.contains(null)).toSet
      first = CatalystTypeConverters.createToScalaConverter(types.head)
      target <- LanceLocal.readAt(LanceLocal.Snapshot(path, fs, p, manifest),
        columns = keys :+ "_rowaddr",
        zoneFilters = ZoneFilter.in(keys.head, wanted.toSeq.map(k => first(k.head))).toSeq)
    } yield {
      if (rows.rows.isEmpty) manifest.version
      else {
        val tgtKey = types.zipWithIndex.map(_.swap)
        val matched = target.rows.collect {
          case r if wanted(tgtKey.map { case (i, t) => r.get(i, t) }) => r.getLong(keys.length)
        }
        val dels = deletions(spark, path, manifest)
          .writeLocal(spark.sessionState.newHadoopConf(), matched)
        commitReplacement(spark, path, manifest, scala.concurrent.Future.successful(dels),
          (ds, fsl) => LanceLocal.write(spark, ds, rows, "overwrite", fsl = fsl), tgtFields)
      }
    }

  /** A replacement's DSv2 staging write of `src` (see
    * [[commitReplacement]]): `stagePartitions` caps the staged fragment
    * count. */
  private def stageFrame(src: org.apache.spark.sql.DataFrame,
                         stagePartitions: Option[Int] = None): (String, Map[String, Int]) => Unit =
    (stagingDs, fsl) => {
      // a caller that knows its delta size (MatView's stats probe) caps
      // the staged fragment count — a 5-row group upsert must not stage
      // one micro-fragment per cached partition (coalesce: a shuffle-free
      // merge; a no-op when the frame already has fewer partitions)
      val staged0 = stagePartitions.fold(src)(n => src.coalesce(n))
      var wr = staged0.write.format("lance").mode("overwrite")
      if (fsl.nonEmpty)
        wr = wr.option("fixedSizeList",
          fsl.map { case (n, d) => s"$n:$d" }.mkString(","))
      wr.save(stagingDs)
    }

  /** One committed version that (a) replaces every target row whose key
    * appears in `source` with the source rows (the [[mergeInsert]]
    * semantics) and (b) additionally DELETES every target row whose key
    * appears in `deleteKeys` without replacement. The maintenance
    * primitive for incremental materialized views (graft.operators
    * .MatView): affected groups upsert, vanished groups drop, one
    * snapshot commit.
    *
    * Scale shape: both key frames are deltas (small relative to the
    * target), so the semi-join that computes deletion vectors broadcasts
    * them; deletion files are written executor-side per fragment; only
    * `source` is staged as new fragments. Work is proportional to the
    * CHANGE set, never to the target's size.
    */
  def upsertWithDeletes(spark: SparkSession, path: String,
                        source: org.apache.spark.sql.DataFrame,
                        keys: Seq[String],
                        deleteKeys: org.apache.spark.sql.DataFrame,
                        srcEmptyHint: Option[Boolean] = None,
                        stagePartitions: Option[Int] = None,
                        expectedVersion: Option[Long] = None): Long = {
    require(keys.nonEmpty, "upsertWithDeletes needs at least one key column")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifest = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None))

    val target = spark.read.format("lance")
      .option("versionAsOf", manifest.version.toString)
      .option("withRowAddress", "true").load(path)
    val tgtFields = target.schema.filterNot(_.name == "_rowaddr")
    require(tgtFields.map(_.name).toSet == source.schema.map(_.name).toSet,
      s"upsertWithDeletes source columns ${source.columns.mkString(",")} " +
      s"must match target ${tgtFields.map(_.name).mkString(",")}")
    require(deleteKeys.columns.toSet == keys.toSet,
      s"deleteKeys must carry exactly the key columns ${keys.mkString(",")}")
    val keyCols = keys.map(org.apache.spark.sql.functions.col)
    val src = source.select(tgtFields.map(f =>
      org.apache.spark.sql.functions.col(f.name)): _*)
    val allKeys = src.select(keyCols: _*)
      .unionByName(deleteKeys.select(keyCols: _*)).distinct()
    val matched = target.join(allKeys, keys, "left_semi")
    val delF = scala.concurrent.Future(
      writeDeletionFiles(spark, path, manifest, matched))(maintenanceEc)
    // a caller that already counted its delta (MatView's stats probe)
    // passes the emptiness verdict and saves the extra isEmpty action;
    // the emptiness probe (when needed) overlaps the deletion-vector job
    if (srcEmptyHint.getOrElse(src.isEmpty)) {
      // deletion-only commit: patch bitmaps onto the head, no staging
      val delMetas = scala.concurrent.Await.result(
        delF, scala.concurrent.duration.Duration.Inf)
      if (delMetas.isEmpty) return manifest.version
      commitDeletionLoop(conf, p, path, manifest, delMetas, expectedVersion)
    } else {
      commitReplacement(spark, path, manifest, delF, stageFrame(src, stagePartitions),
        tgtFields, expectedVersion)
    }
  }

  /** Optimistic deletion-vector-only commit (shared by [[deleteWhere]] and
    * the deletes-only arm of [[upsertWithDeletes]]): rebase on concurrent
    * appends (provably harmless — they only add fragments), fail loudly if
    * a patched fragment's deletion entry changed underneath. */
  private def commitDeletionLoop(conf: Configuration,
                                 p: org.apache.hadoop.fs.Path, path: String,
                                 base: LanceFormat.Manifest,
                                 delMetas: Map[Long, LanceFormat.DeletionFileMeta],
                                 expectedVersion: Option[Long] = None): Long = {
    val fs = p.getFileSystem(conf)
    var attempt = 0
    while (true) {
      val latestPath = LanceFormat.latestManifestPath(fs, p, None)
      val latest = LanceFormat.readManifest(fs, latestPath)
      // CAS mode (MatView refresh): ANY intervening commit — even a
      // provably-rebasable append — may carry the same logical change
      // (a racing refresh of the same interval), so only the captured
      // version may commit; the loser recomputes from the new head
      expectedVersion.foreach(v => if (latest.version != v)
        throw new LanceCommitConflict(
          s"lance: version advanced under a versioned commit on $path " +
            s"(expected v$v, found v${latest.version}) — recompute", null))
      val baseById = base.fragments.map(f => f.id -> f).toMap
      val safe = delMetas.keys.forall { fid =>
        latest.fragments.find(_.id == fid).exists(lf =>
          baseById.get(fid).exists(bf => lf.deletion == bf.deletion))
      }
      if (!safe) throw new LanceCommitConflict(
        s"lance: fragments changed under delete on $path — recompute", null)
      try {
        commitDeletionPatch(conf, p, latestPath, delMetas, latest.version + 1)
        return latest.version + 1
      } catch {
        case e: LanceCommitConflict =>
          attempt += 1
          if (attempt >= 100) throw e
          Thread.sleep(5 + scala.util.Random.nextInt(20))
      }
    }
    -1L // unreachable
  }

  /** UPDATE analogue: rows matching `condition` are replaced by themselves
    * with the `set` expressions applied (column -> SQL expression, which
    * may reference any target column) — one committed version, same
    * delete-and-stage shape as [[mergeInsert]]. Returns the committed
    * version (unchanged if nothing matched). */
  def updateWhere(spark: SparkSession, path: String, condition: String,
                  set: Map[String, String]): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifest = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None))
    val target = spark.read.format("lance")
      .option("versionAsOf", manifest.version.toString)
      .option("withRowAddress", "true").load(path)
    val tgtFields = target.schema.filterNot(_.name == "_rowaddr")
    set.keys.foreach(c => require(tgtFields.exists(_.name == c),
      s"updateWhere: no column '$c'"))
    val matchedDf = target.filter(condition)
    // one scan decides emptiness AND writes the deletion files
    val delMetas = writeDeletionFiles(spark, path, manifest, matchedDf)
    if (delMetas.isEmpty) return manifest.version
    val updated = set.foldLeft(matchedDf) { case (df, (c, e)) =>
      df.withColumn(c, org.apache.spark.sql.functions.expr(e)
        .cast(tgtFields.find(_.name == c).get.dataType))
    }.select(tgtFields.map(f => org.apache.spark.sql.functions.col(f.name)): _*)
    commitReplacement(spark, path, manifest,
      scala.concurrent.Future.successful(delMetas), stageFrame(updated), tgtFields)
  }

  /** Shared upsert commit: stage the replacement rows as fragment files
    * (`stage(stagingDataset, fixedSizeListColumns)` writes them, through
    * the DSv2 writer or [[LanceLocal.write]]), patch the pre-written
    * `delMetas` deletion vectors onto the old fragments, and write ONE
    * manifest containing both. */
  private def commitReplacement(spark: SparkSession, path: String,
                                manifest: LanceFormat.Manifest,
                                delMetasF: scala.concurrent.Future[Map[Long, LanceFormat.DeletionFileMeta]],
                                stage: (String, Map[String, Int]) => Unit,
                                tgtFields: Seq[org.apache.spark.sql.types.StructField],
                                expectedVersion: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val fsl: Map[String, Int] = manifest.fields
      .filter(f => f.parentId == -1 && f.logicalType.startsWith("fixed_size_list:"))
      .map(f => f.name -> LanceFormat.fslParts(f.logicalType)._2).toMap
    val stagingDir = new org.apache.hadoop.fs.Path(p,
      s"_staging-${java.util.UUID.randomUUID()}")
    val stagingDs = new org.apache.hadoop.fs.Path(stagingDir, "m.lance").toString
    try {
      stage(stagingDs, fsl)
      // the deletion-vector job (started by the caller) ran CONCURRENTLY
      // with the staging write — both are delta-sized and independent;
      // join it here, before anything references its output
      val delMetas = scala.concurrent.Await.result(
        delMetasF, scala.concurrent.duration.Duration.Inf)
      val (sfs, sp) = LanceFormat.fileSystem(stagingDs, conf)
      val staged = LanceFormat.readManifest(sfs,
        LanceFormat.latestManifestPath(sfs, sp, None))
      val dataDir = new org.apache.hadoop.fs.Path(p, "data")
      // CAS pre-check BEFORE the staged files enter the live data/ dir:
      // a conflicting refresh aborts here, while the staging-dir cleanup
      // still removes everything — no orphaned data files for vacuum to
      // chase on a hot view's retry loop. (The commit loop re-checks; this
      // only narrows the orphan window to the manifest-write itself.)
      expectedVersion.foreach { v =>
        val now = LanceFormat.headVersion(fs, p)
        if (now != v) throw new LanceCommitConflict(
          s"lance: version advanced under a versioned commit on $path " +
            s"(expected v$v, found v$now) — recompute", null)
      }
      // carry the data-dir-RELATIVE path alongside the live path: abort
      // cleanup arbitrates against manifest DataFileMeta.path values,
      // which are data-dir-relative and may contain subdirectories — a
      // bare getName comparison would make a referenced file in a subdir
      // look unreferenced and get deleted
      val renamed =
        scala.collection.mutable.Buffer.empty[(org.apache.hadoop.fs.Path, String)]
      staged.fragments.flatMap(_.files).foreach { f =>
        val dst = new org.apache.hadoop.fs.Path(dataDir, f.path)
        require(fs.rename(
          new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(sp, "data"), f.path),
          dst),
          s"lance upsert: failed to stage fragment ${f.path}")
        renamed += ((dst, f.path))
      }

      // one commit: patched old fragments + staged new ones. The staged
      // data files are already durable, so ONLY the manifest write races;
      // like deleteWhere, losing the version claim to a concurrent APPEND
      // is provably harmless (the interleave only added fragments, which
      // pass through unpatched under the upsert's snapshot semantics) —
      // rebase on the new latest and retry. Any interleave that touched a
      // snapshot fragment or the field tree makes the staged rewrite
      // stale: fail loudly, version untouched.
      val newFrags = staged.fragments.map { fr =>
        require(fr.files.length == 1, "staged fragment expects one data file")
        (fr.files.head.path, fr.physicalRows, fr.stats)
      }
      var attempt = 0
      var committed = -1L
      var lastAttempted = -1L // highest version a manifest PUT was tried at
      try {
      while (committed < 0) {
        val latestPath = LanceFormat.latestManifestPath(fs, p, None)
        val latest = LanceFormat.readManifest(fs, latestPath)
        // CAS mode: see commitDeletionLoop — a racing same-interval
        // writer could otherwise pass the lenient rebase check when its
        // twin's commit was insert-only (no shared fragments touched)
        expectedVersion.foreach(v => if (latest.version != v)
          throw new LanceCommitConflict(
            s"lance: version advanced under a versioned commit on $path " +
              s"(expected v$v, found v${latest.version}) — recompute", null))
        val baseById = manifest.fragments.map(f => f.id -> f).toMap
        val safe = latest.version == manifest.version || (
          latest.fields == manifest.fields &&
          manifest.fragments.forall(bf =>
            latest.fragments.find(_.id == bf.id).contains(bf)))
        if (!safe) throw new LanceCommitConflict(
          s"lance: fragments or schema changed under upsert on $path — recompute", null)
        val patchedPrev = latest.fragments.map(fr =>
          delMetas.get(fr.id).map(m => fr.copy(deletion = Some(m))).getOrElse(fr))
        val newVersion = latest.version + 1
        // move-stable semantics: an upsert's re-inserted rows are NEW rows
        // — they take fresh ids from the head's counter (ids are stable
        // under moves, not updates; the crate does the same)
        val (segs, nextId) =
          if (latest.nextRowId == 0L) (Nil, 0L)
          else {
            var next = latest.nextRowId
            val s = newFrags.map { case (_, rows, _) =>
              val seg = Seq(LanceFormat.RangeSeg(next, rows)); next += rows; seg
            }
            (s, next)
          }
        try {
          // carried fragments keep their partition values (patchedPrev is
          // FragmentMeta); the upsert's new fragments carry none, which
          // disables partitioning reporting until a partitioned rewrite
          lastAttempted = newVersion
          LanceWriteSupport.writeManifest(conf, p,
            org.apache.spark.sql.types.StructType(tgtFields), newFrags,
            latest.fragments.map(_.id).foldLeft(-1L)(math.max) + 1,
            patchedPrev, newVersion, fsl, latest.fields,
            newRowIds = segs, nextRowId = nextId,
            partitionCols = latest.partitionCols)
          committed = newVersion
        } catch {
          case e: LanceCommitConflict =>
            attempt += 1
            if (attempt >= 100) throw e
            Thread.sleep(5 + scala.util.Random.nextInt(20))
        }
      }
      } catch {
        case e: Throwable if committed < 0 =>
          // abort AFTER the rename. Eager cleanup of the moved data files
          // (and overlapped deletion files) is only safe if the manifest
          // write DEFINITELY did not land — but a commit can succeed
          // server-side while the client sees an exception (PUT timeout
          // after success, interrupted rename). Arbitrate by re-reading
          // the live head: delete only files it does NOT reference; files
          // it does reference (our commit actually landed), or anything
          // unverifiable (head unreadable), are left for vacuum — an
          // orphan is recoverable, a deleted live file is not.
          val delDir = new org.apache.hadoop.fs.Path(p, "_deletions")
          val referenced: Option[Set[String]] =
            try {
              val head = LanceFormat.readManifest(fs,
                LanceFormat.latestManifestPath(fs, p, None))
              // head past our attempted version is UNVERIFIABLE: our
              // commit may have landed at lastAttempted (still a kept,
              // time-travelable manifest referencing these files) while a
              // later compaction/rewrite dropped them from the head —
              // deleting would break the kept-manifest invariant. Leave
              // for vacuum, which arbitrates against ALL kept manifests.
              if (lastAttempted >= 0 && head.version > lastAttempted) None
              else Some(head.fragments.flatMap(_.files.map(_.path)).toSet ++
                head.fragments.flatMap(fr =>
                  fr.deletion.map(_.fileName(fr.id))).toSet)
            } catch { case _: Throwable => None }
          referenced.foreach { ref =>
            // compare data-dir-RELATIVE paths (manifest paths may carry
            // subdirectories; getName would mistake referenced for orphan)
            renamed.filterNot { case (_, rel) => ref.contains(rel) }
              .foreach { case (f, _) =>
                try fs.delete(f, false) catch { case _: java.io.IOException => () } }
            delMetas.foreach { case (fid, m) =>
              if (!ref.contains(m.fileName(fid)))
                try fs.delete(new org.apache.hadoop.fs.Path(delDir, m.fileName(fid)), false)
                catch { case _: java.io.IOException => () }
            }
          }
          throw e
      }
      committed
    } finally {
      fs.delete(stagingDir, true)
    }
  }

  // ---- restore -----------------------------------------------------------

  /** Restore an old version as the NEW head (lance `Dataset::restore` /
    * checkout-then-restore): re-commits version `version`'s manifest
    * verbatim under `latest + 1` — fragments, schema, deletion files and
    * stats all revert in one commit; the intermediate history stays
    * readable via time travel until vacuumed. Optimistic-retries the
    * version claim like every other committer. Returns the new head
    * version.
    *
    * Fragment ids from the restored era may later be reused by appends
    * (next id = max over the new head) while a time-travel manifest
    * still uses the same id for a different fragment — harmless here:
    * manifests are self-contained (data files are UUID-named, deletion
    * files embed the monotone read-version), and no reader state is
    * keyed by fragment id across versions.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val rawAll = LanceFormat.readWholeFile(fs,
      LanceFormat.latestManifestPath(fs, p, Some(version)))
    val pbLen = (rawAll(0) & 0xff) | ((rawAll(1) & 0xff) << 8) |
                ((rawAll(2) & 0xff) << 16) | ((rawAll(3) & 0xff) << 24)
    val top = Proto.parse(rawAll, 4, 4 + pbLen)
    var attempt = 0
    while (true) {
      val latest = LanceFormat.readManifest(fs,
        LanceFormat.latestManifestPath(fs, p, None))
      if (latest.version == version) return version // restoring the head: no-op
      val newVersion = latest.version + 1
      val w = new Proto.Writer
      top.foreach { f =>
        if (f.tag == 3 && f.wire == 0) w.varint(3, newVersion) else w.raw(f)
      }
      try {
        LanceWriteSupport.commitManifest(conf, p, w.result(), newVersion)
        return newVersion
      } catch {
        case e: LanceCommitConflict =>
          attempt += 1
          if (attempt >= 100) throw e
          Thread.sleep(5 + scala.util.Random.nextInt(20))
      }
    }
    -1L // unreachable
  }

  /** Row-level change feed between two versions — the full-fidelity CDC
    * the append-only `fromVersion` scan cannot give: with move-stable row
    * ids, row identity is the persistent `_rowid`, so the feed is two
    * id-set anti-joins — `insert` = live in `toVersion` but not in
    * `fromVersion`, `delete` = the converse. An update (delete +
    * re-insert under a fresh id — crate semantics) surfaces as one of
    * each; compaction alone (rows move, ids don't) produces NO changes.
    *
    * Scale shape: both id sides project ONLY `_rowid` — the reader weaves
    * it from the fragment's manifest-resident sequence with zero data
    * pages decoded, and deletion masks apply as usual — so each anti-join
    * shuffles 8-byte ids; full rows are fetched just for the rows that
    * actually changed. No driver materialization anywhere.
    *
    * Returns the changed rows (schema of their own era: deletes carry
    * `fromVersion`-era columns, inserts `toVersion`-era) under a
    * `_change` column; column sets are unioned by name (evolution across
    * the range null-fills).
    */
  def changesBetween(spark: SparkSession, path: String,
                     fromVersion: Long, toVersion: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion < toVersion,
      s"changesBetween: fromVersion $fromVersion must precede toVersion $toVersion")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val head = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None))
    require(head.stableRowIds,
      s"changesBetween needs move-stable row ids ($path has none): without " +
        "them row identity does not survive compaction — use the " +
        "fromVersion append-only scan instead")
    def at(v: Long) = spark.read.format("lance")
      .option("versionAsOf", v.toString).load(path)
    changesFast(spark, path, fromVersion, toVersion, conf)
      .orElse(changesById(spark, path, fromVersion, toVersion, conf))
      .getOrElse {
      // LAST-RESORT path: row identity via two `_rowid` anti-joins —
      // correct for any history, but work ∝ corpus (both endpoint
      // versions are scanned). Reached only when row-id sequences are
      // unavailable or the change set exceeds the driver caps.
      def idsAt(v: Long) = at(v).select(col("_rowid"))
      val inserted = at(toVersion)
        .withColumn("_rowid", col("_rowid"))
        .join(idsAt(fromVersion), Seq("_rowid"), "left_anti")
        .withColumn("_change", lit("insert"))
      val deleted = at(fromVersion)
        .withColumn("_rowid", col("_rowid"))
        .join(idsAt(toVersion), Seq("_rowid"), "left_anti")
        .withColumn("_change", lit("delete"))
      inserted.unionByName(deleted, allowMissingColumns = true)
    }
  }

  /** Cheap upper bound on the [from,to] change-set size, from manifest
    * METADATA alone (no dv reads, no scans): Σ liveRows of fragments
    * added in the interval + Σ growth of deletion counts. None when the
    * interval saw compaction/restore (fragment disappeared or a deletion
    * count shrank) — then only a scan can size it. Callers use this to
    * size execution (e.g. MatView picks a small-query session for small
    * deltas) BEFORE planning anything.
    */
  def changeSetEstimate(spark: SparkSession, path: String,
                        fromVersion: Long, toVersion: Long): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val baseM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(fromVersion)))
    val headM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(toVersion)))
    val baseById = baseM.fragments.map(f => f.id -> f).toMap
    val headIds = headM.fragments.map(_.id).toSet
    if (!baseM.fragments.forall(f => headIds.contains(f.id)))
      return None
    var total = 0L
    for (hf <- headM.fragments) baseById.get(hf.id) match {
      case None => total += hf.liveRows
      case Some(bf) =>
        val grown = hf.deletion.map(_.numDeleted).getOrElse(0L) -
          bf.deletion.map(_.numDeleted).getOrElse(0L)
        // a CHANGED deletion file with non-positive growth means the dv
        // content moved in a way counts can't bound (restore + re-delete)
        if (grown < 0 || (grown == 0 && hf.deletion != bf.deletion))
          return None
        total += grown
    }
    Some(total)
  }

  /** Sorted disjoint id intervals [lo,hi] (inclusive) of the LIVE rows of
    * one manifest, derived from row-id sequences + deletion files —
    * metadata only, no data read. None when any non-empty fragment lacks
    * a row-id sequence (address-only or foreign dataset). Driver cost
    * O(fragments + segments + deleted rows).
    */
  private[lance] def liveIdIntervals(m: LanceFormat.Manifest,
                              p: org.apache.hadoop.fs.Path,
                              conf: Configuration)
      : Option[Array[(Long, Long)]] = {
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletions")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (fr <- m.fragments if fr.physicalRows > 0) {
      val segs = fr.rowIds.getOrElse(Nil)
      if (segs.isEmpty) return None
      val del = fr.deletion.map(d => DeletionFiles.read(
        new org.apache.hadoop.fs.Path(delDir, d.fileName(fr.id)).toString,
        conf)).getOrElse(new java.util.BitSet)
      var pos = 0L
      segs.foreach {
        case LanceFormat.RangeSeg(st, n) =>
          // emit [st, st+n) minus ids whose POSITION is deleted
          var lo = st // start of the current live run (id space)
          var d = del.nextSetBit(pos.toInt)
          while (d >= 0 && d < pos + n) {
            val deadId = st + (d - pos)
            if (deadId > lo) out += ((lo, deadId - 1))
            lo = deadId + 1
            d = del.nextSetBit(d + 1)
          }
          if (st + n > lo) out += ((lo, st + n - 1))
          pos += n
        case LanceFormat.ArraySeg(ids) =>
          var i = 0
          while (i < ids.length) {
            if (!del.get((pos + i).toInt)) out += ((ids(i), ids(i)))
            i += 1
          }
          pos += ids.length
      }
    }
    Some(out.toArray.sortBy(_._1))
  }

  /** `a` minus `b` over sorted disjoint inclusive intervals (two-pointer,
    * linear). */
  private[lance] def intervalDiff(a: Array[(Long, Long)],
                                  b: Array[(Long, Long)]): Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var j = 0
    for ((lo0, hi) <- a) {
      var lo = lo0
      while (j < b.length && b(j)._2 < lo) j += 1
      var k = j
      var done = false
      while (!done && lo <= hi) {
        if (k >= b.length || b(k)._1 > hi) { out += ((lo, hi)); done = true }
        else {
          val (blo, bhi) = b(k)
          if (blo > lo) out += ((lo, blo - 1))
          lo = math.max(lo, bhi + 1)
          k += 1
        }
      }
    }
    out.toArray
  }

  /** Map wanted id intervals to physical `_rowaddr`s within one manifest
    * (each live id lives in exactly one fragment). Appends into `out`;
    * returns false (abort) when `out` would exceed `cap`. */
  private[lance] def addrsOfIdIntervals(m: LanceFormat.Manifest,
                                 wanted: Array[(Long, Long)],
                                 out: scala.collection.mutable.ArrayBuilder.ofLong,
                                 cap: Int, have: Int): Int = {
    var n = have
    def wantedOverlaps(lo: Long, hi: Long): Seq[(Long, Long)] = {
      // binary search the first interval that could overlap [lo,hi]
      var a = 0; var b = wanted.length
      while (a < b) {
        val mid = (a + b) >>> 1
        if (wanted(mid)._2 < lo) a = mid + 1 else b = mid
      }
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = a
      while (i < wanted.length && wanted(i)._1 <= hi) {
        buf += ((math.max(lo, wanted(i)._1), math.min(hi, wanted(i)._2)))
        i += 1
      }
      buf.toSeq
    }
    for (fr <- m.fragments if fr.physicalRows > 0) {
      var pos = 0L
      fr.rowIds.getOrElse(Nil).foreach {
        case LanceFormat.RangeSeg(st, segN) =>
          wantedOverlaps(st, st + segN - 1).foreach { case (lo, hi) =>
            var id = lo
            while (id <= hi) {
              if (n >= cap) return -1
              out += (fr.id << 32) | (pos + (id - st))
              n += 1; id += 1
            }
          }
          pos += segN
        case LanceFormat.ArraySeg(ids) =>
          var i = 0
          while (i < ids.length) {
            if (wantedOverlaps(ids(i), ids(i)).nonEmpty) {
              if (n >= cap) return -1
              out += (fr.id << 32) | (pos + i)
              n += 1
            }
            i += 1
          }
          pos += ids.length
      }
    }
    n
  }

  /** Id-diff change feed: metadata-driven CDC for intervals the
    * append/delete-only fast path cannot take — compaction (fragments
    * rewritten, ids preserved) and restore (deletion vectors shrank).
    * Live id sets of both endpoint versions are built as sorted interval
    * lists from row-id sequences + deletion files (driver-side, cost ∝
    * metadata + deletions), diffed linearly, and the changed rows are
    * fetched by address from their owning version. Falls back (None)
    * when a fragment lacks row-id sequences or the change set exceeds
    * the driver cap — then the distributed anti-join decides.
    */
  private[lance] def changesById(spark: SparkSession, path: String,
                          fromVersion: Long, toVersion: Long,
                          conf: Configuration)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val baseM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(fromVersion)))
    val headM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(toVersion)))
    val baseLive = liveIdIntervals(baseM, p, conf).getOrElse(return None)
    val headLive = liveIdIntervals(headM, p, conf).getOrElse(return None)
    val insertedIds = intervalDiff(headLive, baseLive)
    val deletedIds  = intervalDiff(baseLive, headLive)
    val cap = 16 << 20
    val insAddrs = new scala.collection.mutable.ArrayBuilder.ofLong
    val nIns = addrsOfIdIntervals(headM, insertedIds, insAddrs, cap, 0)
    if (nIns < 0) return None
    val delAddrs = new scala.collection.mutable.ArrayBuilder.ofLong
    val nDel = addrsOfIdIntervals(baseM, deletedIds, delAddrs, cap - nIns, 0)
    if (nDel < 0) return None

    def emptyLike = spark.read.format("lance")
      .option("versionAsOf", toVersion.toString).load(path)
      .withColumn("_rowid", col("_rowid"))
      .withColumn("_change", lit("insert")).limit(0)
    def side(version: Long, addrs: Array[Long], change: String) =
      if (addrs.isEmpty)
        emptyLike.withColumn("_change", lit(change)).limit(0)
      else fetchByAddrList(spark, path, version, addrs.sorted)
        .withColumn("_rowid", col("_rowid"))
        .withColumn("_change", lit(change))
    Some(side(toVersion, insAddrs.result(), "insert").unionByName(
      side(fromVersion, delAddrs.result(), "delete"),
      allowMissingColumns = true))
  }

  /** Address-exact fetch of `addrs` (sorted) at one version: interval
    * cover prunes fragments/pages; exactness by sorted-array membership
    * up to 100k addrs, a left-semi join above (shared by the dv-diff and
    * id-diff feeds). */
  private def fetchByAddrList(spark: SparkSession, path: String,
                              version: Long, addrs: Array[Long])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val cover = graft.operators.ScalarIndex.intervalCover(addrs, 256)
      .map { case (lo, hi) => s"$lo:$hi" }.mkString(",")
    val pruned = spark.read.format("lance")
      .option("versionAsOf", version.toString)
      .option("addrRanges", cover).load(path)
    if (addrs.length <= 100000)
      pruned.filter(graft.functions.ArrayKernels
        .longInSortedArray(col("_rowaddr"), addrs))
    else {
      import spark.implicits._
      val addrDf = spark.createDataset(addrs.toIndexedSeq).toDF("_del_addr")
      pruned.join(addrDf,
        pruned.col("_rowaddr") === col("_del_addr"), "left_semi")
    }
  }

  /** Manifest-diff change feed (fast path): when the [from,to] interval is
    * append/delete-only — no fragment disappeared (compaction) and no
    * deletion vector shrank (restore) — the change set is EXACTLY:
    *
    *  - inserts: the live rows of fragments added in the interval, read
    *    through an `addrRanges` whole-fragment cover (fragment pruning —
    *    only new fragments are opened);
    *  - deletes: per common fragment, the deletion-vector DIFF (head −
    *    base), fetched from the BASE version via an interval-covered
    *    addr scan + exact membership (≤100k addrs: sorted-array kernel;
    *    above: a join against the addr set, still fragment-pruned).
    *
    * Work is ∝ |change set| (the dv diff is driver-side bitmap algebra on
    * manifests already in hand), NOT ∝ corpus — at 100 TB with 0.1%
    * churn the anti-join path reads 200 TB to find the 0.1%; this path
    * reads the 0.1%. Returns None when the interval's history makes the
    * diff unsound (then the anti-join path decides row identity).
    */
  private def changesFast(spark: SparkSession, path: String,
                          fromVersion: Long, toVersion: Long,
                          conf: Configuration)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val baseM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(fromVersion)))
    val headM = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, Some(toVersion)))
    val baseById = baseM.fragments.map(f => f.id -> f).toMap
    val headIds = headM.fragments.map(_.id).toSet
    if (!baseM.fragments.forall(f => headIds.contains(f.id)))
      return None // a fragment disappeared: compaction/rewrite interval
    val newFrags = headM.fragments
      .filterNot(f => baseById.contains(f.id)).filter(_.physicalRows > 0)

    // dv diff per changed common fragment; bail out on any shrink.
    // Driver memory bound: the diff lives on the driver as one long per
    // newly-deleted row — past ~16M addrs (128 MB in the primitive
    // builder) the anti-join path's distributed scan is the better
    // trade, so fall back rather than risk the driver. The cap is
    // checked INSIDE the per-bit loop: a single huge fragment must not
    // materialize its whole diff before the check.
    val maxDelAddrs = 16 << 20
    var nDelAddrs = 0
    val delAddrs = new scala.collection.mutable.ArrayBuilder.ofLong
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletions")
    def bits(fid: Long, d: Option[LanceFormat.DeletionFileMeta]): java.util.BitSet =
      d.map(m => DeletionFiles.read(
        new org.apache.hadoop.fs.Path(delDir, m.fileName(fid)).toString, conf))
        .getOrElse(new java.util.BitSet)
    for (hf <- headM.fragments if baseById.contains(hf.id)) {
      val bf = baseById(hf.id)
      if (hf.deletion != bf.deletion) {
        val hs = bits(hf.id, hf.deletion)
        val bs = bits(bf.id, bf.deletion)
        val lost = bs.clone.asInstanceOf[java.util.BitSet]
        lost.andNot(hs)
        if (!lost.isEmpty) return None // a delete was undone: restore
        val fresh = hs.clone.asInstanceOf[java.util.BitSet]
        fresh.andNot(bs)
        var i = fresh.nextSetBit(0)
        while (i >= 0) {
          if (nDelAddrs >= maxDelAddrs) return None
          delAddrs += (hf.id << 32) | i.toLong
          nDelAddrs += 1
          i = fresh.nextSetBit(i + 1)
        }
      }
    }

    def at(v: Long) = spark.read.format("lance")
      .option("versionAsOf", v.toString).load(path)
    def emptyLike = at(toVersion)
      .withColumn("_rowid", col("_rowid"))
      .withColumn("_change", lit("insert")).limit(0)

    val inserted =
      if (newFrags.isEmpty) emptyLike
      else {
        val cover = newFrags.map(f =>
          s"${f.id << 32}:${(f.id << 32) | (f.physicalRows - 1)}").mkString(",")
        spark.read.format("lance")
          .option("versionAsOf", toVersion.toString)
          .option("addrRanges", cover).load(path)
          .withColumn("_rowid", col("_rowid"))
          .withColumn("_change", lit("insert"))
      }
    val deleted =
      if (nDelAddrs == 0) emptyLike.withColumn("_change", lit("delete")).limit(0)
      else fetchByAddrList(spark, path, fromVersion, delAddrs.result().sorted)
        .withColumn("_rowid", col("_rowid"))
        .withColumn("_change", lit("delete"))
    Some(inserted.unionByName(deleted, allowMissingColumns = true))
  }

  // ---- vacuum ------------------------------------------------------------

  /** Remove old versions and any files only they reference (the
    * `lance.auto_cleanup` policy analogue — the golden manifest carries
    * those tags). Keeps the latest `keepVersions` manifests PLUS every
    * tagged version; then deletes unreferenced data files, deletion
    * files, transaction logs, and orphaned `_staging-*` dirs. Returns
    * (versions removed, files removed). Readers of kept versions are
    * unaffected; time travel to a vacuumed version fails with the usual
    * missing-version error.
    *
    * `olderThanMs` is the concurrency guard (the reference cleanup's
    * `before` cutoff): an in-flight append or upsert has durable data
    * files BEFORE its manifest commits, and those look identical to
    * garbage — except they're young. Only unreferenced files whose
    * modification time is older than the cutoff are swept, so a vacuum
    * racing a writer never deletes a file a soon-to-commit manifest will
    * reference. Pass 0 only when no writer can be active. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             olderThanMs: Long = 3600000L): (Int, Int) = {
    require(keepVersions >= 1, "vacuum must keep at least the latest version")
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val vdir = new org.apache.hadoop.fs.Path(p, "_versions")
    val versions = fs.listStatus(vdir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".manifest")).map(_.stripSuffix(".manifest").toLong).sorted
    val tagged = listTags(spark, path).values.toSet
    val keep = versions.takeRight(keepVersions).toSet ++ tagged.filter(versions.contains)
    val drop = versions.filterNot(keep.contains)

    // everything the kept versions still reference stays
    val keptManifests = keep.toSeq.sorted.map(v =>
      LanceFormat.readManifest(fs, new org.apache.hadoop.fs.Path(vdir, s"$v.manifest")))
    val liveData: Set[String] =
      keptManifests.flatMap(_.fragments.flatMap(_.files.map(_.path))).toSet
    val liveDeletions: Set[String] = keptManifests.flatMap(_.fragments.flatMap(fr =>
      fr.deletion.map(_.fileName(fr.id)))).toSet

    var removed = 0
    def sweep(dirName: String, live: Set[String]): Unit = {
      val dir = new org.apache.hadoop.fs.Path(p, dirName)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        if (!live.contains(st.getPath.getName) && st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) removed += 1
        }
      }
    }
    sweep("data", liveData)
    sweep("_deletions", liveDeletions)
    // transaction logs of dropped versions are committed history — safe to
    // remove regardless of age; staging dirs are upsert leftovers, young
    // ones may belong to a LIVE upsert, so the age cutoff applies
    val txDir = new org.apache.hadoop.fs.Path(p, "_transactions")
    if (fs.exists(txDir)) fs.listStatus(txDir).foreach { st =>
      val v = st.getPath.getName.takeWhile(_.isDigit)
      if (v.nonEmpty && drop.contains(v.toLong)) {
        if (fs.delete(st.getPath, false)) removed += 1
      }
    }
    fs.listStatus(p).foreach { st =>
      if (st.getPath.getName.startsWith("_staging-") &&
          st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, true)) removed += 1
      }
    }
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(vdir, s"$v.manifest"), false)
    }
    (drop.length, removed)
  }

  // ---- tags (named version refs) ----------------------------------------

  /** Pin a version under a name: `_refs/tags/<tag>.json` holding
    * `{"version":N}` (the lance tag layout). Tags make time travel
    * humane — `option("tagAsOf", "v1-training")` — and protect the tagged
    * version from any future cleanup policy. Creation is atomic
    * (create-no-overwrite); re-tagging requires deleteTag first. */
  def createTag(spark: SparkSession, path: String, tag: String,
                version: Option[Long] = None): Long = {
    require(tag.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$tag'")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val v = version.getOrElse(LanceFormat.headVersion(fs, p))
    // validate the version exists
    LanceFormat.latestManifestPath(fs, p, Some(v))
    val dir = new org.apache.hadoop.fs.Path(p, "_refs/tags")
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"$tag.json"),
      /* overwrite = */ false)
    try out.write(s"""{"version":$v}""".getBytes("UTF-8")) finally out.close()
    v
  }

  def deleteTag(spark: SparkSession, path: String, tag: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    fs.delete(new org.apache.hadoop.fs.Path(p, s"_refs/tags/$tag.json"), false)
  }

  def listTags(spark: SparkSession, path: String): Map[String, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val dir = new org.apache.hadoop.fs.Path(p, "_refs/tags")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".json")).map { st =>
      st.getPath.getName.stripSuffix(".json") ->
        resolveTag(fs, p, st.getPath.getName.stripSuffix(".json"))
    }.toMap
  }

  /** Version a tag points at (shared with the read path's `tagAsOf`). */
  def resolveTag(fs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path, tag: String): Long = {
    val f = new org.apache.hadoop.fs.Path(p, s"_refs/tags/$tag.json")
    require(fs.exists(f), s"lance: no tag '$tag' on $p")
    val body = new String(LanceFormat.readWholeFile(fs, f), "UTF-8")
    "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"lance: malformed tag file $f: $body"))
  }

  // ---- schema evolution (manifest-only; no data files rewritten) --------

  /** Walk a dotted field path through struct parents; every step except
    * the last must be a struct (evolution below list/map is structural
    * surgery, not supported). Returns the resolved field. */
  private def resolveField(fields: Seq[LanceFormat.LanceField],
                           path: Seq[String]): LanceFormat.LanceField = {
    require(path.nonEmpty, "lance: empty field path")
    var parent = -1
    var cur: LanceFormat.LanceField = null
    path.foreach { name =>
      if (cur != null) require(cur.logicalType == "struct",
        s"lance: '${cur.name}' in path ${path.mkString(".")} is not a struct")
      cur = fields.find(f => f.parentId == parent && f.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"lance: no field '${path.mkString(".")}'"))
      parent = cur.id
    }
    cur
  }

  /** Add a nullable column: existing fragments simply lack the new field
    * id, and the reader null-fills it. New ids continue the committed id
    * space (max + 1), so every old fragment's column mapping stays valid.
    * Nested types are allowed (their subtree gets consecutive new ids).
    * `name` may be a dotted path ("meta.note") to add a sub-field to an
    * existing struct — appended as its last child. */
  def addColumn(spark: SparkSession, path: String, name: String,
                dataType: org.apache.spark.sql.types.DataType,
                fslDim: Option[Int] = None): Long =
    patchFields(spark, path) { manifest =>
      val fields = manifest.fields
      val parts = name.split('.').toSeq
      val leaf = parts.last
      // nested target: the parent path must resolve to a struct
      val parentId =
        if (parts.length == 1) -1
        else {
          val p = resolveField(fields, parts.init)
          require(p.logicalType == "struct",
            s"lance addColumn: '${parts.init.mkString(".")}' is not a struct")
          p.id
        }
      require(!fields.exists(f => f.parentId == parentId && f.name == leaf),
        s"lance addColumn: field '$name' already exists")
      // NEVER reuse an id a data file still carries: a dropped column's id
      // lives on in old fragments' file lists, and reusing it would make
      // the new column resolve to the old column's pages (model-based
      // fuzz found exactly this). Ids referenced by no file (e.g. after
      // compaction rewrote every fragment) are safe to reuse.
      val inFiles = manifest.fragments.flatMap(_.files.flatMap(_.fieldIds))
      val nextId = (fields.map(_.id) ++ inFiles).foldLeft(-1)(math.max) + 1
      val fsl = fslDim.map(d => leaf -> d).toMap
      val sub = LanceSchemaLayout.of(org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField(leaf, dataType))), fsl)
      FieldPatch(append = sub.fields.map(f => LanceFormat.LanceField(
        id = f.id + nextId, name = f.name, logicalType = f.logicalType,
        parentId = if (f.parentId == -1) parentId else f.parentId + nextId)))
    }

  /** Rename a column or (dotted-path) struct sub-field — id unchanged,
    * data files untouched. */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
                   newName: String): Long =
    patchFields(spark, path) { manifest =>
      val fields = manifest.fields
      require(!newName.contains('.'), "lance renameColumn: new name is a bare name")
      val f = resolveField(fields, oldName.split('.').toSeq)
      require(!fields.exists(g => g.parentId == f.parentId && g.name == newName),
        s"lance renameColumn: field '$newName' already exists")
      FieldPatch(rename = Map(f.id -> newName))
    }

  /** Drop a column or (dotted-path) struct sub-field, plus its nested
    * subtree, from the schema. Data files keep the physical bytes — old
    * versions still read them — but the field ids vanish from the
    * manifest, so current-version scans never request them. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    patchFields(spark, path) { manifest =>
      val fields = manifest.fields
      val root = resolveField(fields, name.split('.').toSeq)
      require(fields.count(_.parentId == root.parentId) > 1,
        if (root.parentId == -1) "lance dropColumn: cannot drop the last column"
        else s"lance dropColumn: cannot drop the last field of a struct")
      val dead = scala.collection.mutable.Set(root.id)
      var grew = true
      while (grew) {
        val more = fields.filter(f => dead.contains(f.parentId) && !dead.contains(f.id))
        grew = more.nonEmpty
        more.foreach(f => dead += f.id)
      }
      FieldPatch(drop = dead.toSet)
    }

  private final case class FieldPatch(drop: Set[Int] = Set.empty,
                                      rename: Map[Int, String] = Map.empty,
                                      append: Seq[LanceFormat.LanceField] = Nil)

  /** Commit a new version with the field edit applied; untouched fields
    * and everything else in the manifest (fragments with their stats and
    * deletion vectors, writer tags, unmodeled fields) are re-emitted
    * verbatim. */
  private def patchFields(spark: SparkSession, path: String)(
      edit: LanceFormat.Manifest => FieldPatch): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)
    val patch = edit(manifest)
    val newVersion = manifest.version + 1

    val rawAll = LanceFormat.readWholeFile(fs, manifestPath)
    val pbLen = (rawAll(0) & 0xff) | ((rawAll(1) & 0xff) << 8) |
                ((rawAll(2) & 0xff) << 16) | ((rawAll(3) & 0xff) << 24)
    val top = Proto.parse(rawAll, 4, 4 + pbLen)
    val w = new Proto.Writer
    var lastFieldSeen = false
    val fieldTags = top.filter(f => f.tag == 1 && f.wire == 2)
    top.foreach { f =>
      if (f.tag == 1 && f.wire == 2) {
        val sub = Proto.parse(f.bytes)
        val id = Proto.firstVarint(sub, 3).getOrElse(0L).toInt
        if (!patch.drop.contains(id)) {
          patch.rename.get(id) match {
            case None => w.raw(f)
            case Some(newName) =>
              val fw = new Proto.Writer
              sub.foreach(sf => if (sf.tag == 2 && sf.wire == 2) fw.string(2, newName)
                                else fw.raw(sf))
              w.message(1, fw)
          }
        }
        if (f eq fieldTags.last) {
          lastFieldSeen = true
          patch.append.foreach(nf => w.message(1, LanceWriteSupport.fieldProtoOf(nf)))
        }
      } else if (f.tag == 3 && f.wire == 0) w.varint(3, newVersion)
      else w.raw(f)
    }
    require(lastFieldSeen || patch.append.isEmpty, "manifest has no fields to append after")
    LanceWriteSupport.commitManifest(conf, p, w.result(), newVersion)
    newVersion
  }

  /** Proto-level manifest patch committing `delMetas` as the fragments'
    * deletion_file entries at `newVersion`: everything else is re-emitted
    * verbatim (unmodeled fields survive), so the patch composes with any
    * writer. Shared by [[deleteWhere]], merge-insert, and tests. */
  private[lance] def commitDeletionPatch(
      conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path,
      manifestPath: org.apache.hadoop.fs.Path,
      delMetas: Map[Long, LanceFormat.DeletionFileMeta],
      newVersion: Long): Unit = {
    val (fs, _) = LanceFormat.fileSystem(p.toString, conf)
    val rawAll = LanceFormat.readWholeFile(fs, manifestPath)
    val pbLen = (rawAll(0) & 0xff) | ((rawAll(1) & 0xff) << 8) |
                ((rawAll(2) & 0xff) << 16) | ((rawAll(3) & 0xff) << 24)
    val top = Proto.parse(rawAll, 4, 4 + pbLen)
    val w = new Proto.Writer
    top.foreach { f =>
      if (f.tag == 3 && f.wire == 0) w.varint(3, newVersion)
      else if (f.tag == 2 && f.wire == 2) {
        val fragFields = Proto.parse(f.bytes)
        val fragId = Proto.firstVarint(fragFields, 1).getOrElse(0L)
        delMetas.get(fragId) match {
          case None => w.raw(f)
          case Some(meta) =>
            val fw = new Proto.Writer
            fragFields.foreach(ff => if (ff.tag != 3) fw.raw(ff))
            val dv = new Proto.Writer
            dv.varint(1, meta.readVersion).varint(2, meta.id)
              .varint(3, meta.fileType.toLong).varint(4, meta.numDeleted)
            fw.message(3, dv)
            w.message(2, fw)
        }
      } else w.raw(f)
    }
    LanceWriteSupport.commitManifest(conf, p, w.result(), newVersion)
  }
}
