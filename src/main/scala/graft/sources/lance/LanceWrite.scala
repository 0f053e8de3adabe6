package graft.sources.lance

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DSv2 write path (SURVEY §7 M3; reference R6-R8
  * `cpp/lance_copy.cpp:73-174`, `rust/writer.rs:17-53`).
  *
  * Data plane on executors: each task streams its rows into fragment
  * files `data/<uuid>.lance` (page-buffered, bounded memory — explicitly
  * NOT the reference's full-RAM materialization). Control plane on the
  * driver: commit() writes `_versions/<N+1>.manifest` via create-temp +
  * atomic rename; append mode carries the previous version's fragments
  * forward, overwrite starts the new version empty (old versions stay
  * readable via versionAsOf — Lance versioning semantics).
  */
class LanceWriteBuilder(path: String, info: LogicalWriteInfo,
                        defaultLayout: Seq[String] = Nil,
                        defaultSort: Seq[String] = Nil)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    // option("fixedSizeList", "embedding:64[,col:dim...]") stores those
    // array columns as lance fixed_size_list vector columns
    val fsl = Option(info.options.get("fixedSizeList")).map { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).map { p =>
        val Array(n, d) = p.split(":")
        n -> d.toInt
      }.toMap
    }.getOrElse(Map.empty[String, Int])
    def cols(key: String): Seq[String] =
      Option(info.options.get(key)).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val clusterBy = cols("clusterBy")
    // a write with no explicit layout inherits the table's declared one
    // (CREATE TABLE ... PARTITIONED BY / the manifest's recorded layout):
    // SQL INSERT INTO keeps partitioned datasets partitioned
    val explicitLayout = Option(info.options.get("partitionBy")).isDefined ||
      Option(info.options.get("bucketBy")).isDefined || clusterBy.nonEmpty
    val inheritedBucket =
      if (explicitLayout) None
      else defaultLayout.flatMap(LanceBucket.parseSpec).headOption
    val partitionBy =
      if (explicitLayout || inheritedBucket.isDefined) cols("partitionBy")
      else defaultLayout
    // option("bucketBy", "16:col"): hash-bucket layout (see LanceBucket)
    val bucketBy = Option(info.options.get("bucketBy")).map { spec =>
      val Array(n, c) = spec.split(":", 2)
      require(n.trim.toInt > 0, s"lance: bucketBy bucket count must be > 0")
      (n.trim.toInt, c.trim)
    }.orElse(inheritedBucket)
    require(Seq(partitionBy.nonEmpty, clusterBy.nonEmpty,
                bucketBy.nonEmpty).count(identity) <= 1,
      "lance: partitionBy, clusterBy, and bucketBy are mutually exclusive layouts")
    // validate partition columns driver-side, before any task launches;
    // a partitionBy entry is a plain column (identity) or `days(col)`
    // (hidden date transform — see LanceDays)
    (partitionBy ++ bucketBy.map(_._2)).foreach { spec =>
      val (c, isDays) = LanceDays.innerCol(spec)
        .map((_, true)).getOrElse((spec, false))
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"lance: partition/bucket column '$c' is not in the write schema"))
      if (isDays)
        require(LanceDays.supported(f.dataType),
          s"lance: $spec needs a date/timestamp column, got ${f.dataType}")
      else
        require(LanceFormat.PartValueCodec.supported(f.dataType),
          s"lance: partition/bucket column '$c' has type ${f.dataType} — " +
          "partition columns must be integral, boolean, string, date, or timestamp")
    }
    val sortBy =
      if (explicitLayout || Option(info.options.get("sortBy")).isDefined)
        cols("sortBy")
      else defaultSort
    val numPartitions = Option(info.options.get("writePartitions")).map(_.toInt).getOrElse(0)
    // a fragment count shapes only a laid-out write: Spark refuses a
    // partition count over an unspecified distribution
    require(numPartitions == 0 || partitionBy.nonEmpty || clusterBy.nonEmpty ||
        bucketBy.isDefined || sortBy.nonEmpty,
      "lance: writePartitions needs a layout: sortBy, clusterBy, partitionBy or bucketBy")
    new LanceWrite(path, info.schema(), doTruncate, fsl,
      clusterBy = clusterBy, sortBy = sortBy,
      partitionBy = partitionBy, bucketBy = bucketBy,
      numPartitions = numPartitions,
      stableRowIds = Option(info.options.get("stableRowIds"))
        .exists(_.toBoolean),
      codec = {
        val c = Option(info.options.get("compression")).getOrElse("")
        LanceCodec.idOf(c) // validate driver-side, before any task launches
        c
      })
  }
}

/** Write-side layout control (DSv2 RequiresDistributionAndOrdering — the
  * exchange/sort happen in the write query itself, before fragment files
  * are cut):
  *
  *  - `sortBy` alone = GLOBAL range sort: fragments get disjoint key
  *    ranges, so the manifest min/max stats prune point and range
  *    predicates to few fragments (the clustered-table story without a
  *    new file format);
  *  - `clusterBy` = hash co-location (same keys land in the same
  *    fragment — dedup/join locality), with `sortBy` ordering rows
  *    within each fragment for page-level zone selectivity. Hash buckets
  *    interleave ranges, so prefer plain `sortBy` for range pruning;
  *  - `partitionBy` = VALUE partitioning (Hive/Iceberg identity-partition
  *    shape): rows hash-cluster on the partition columns and sort by them
  *    within each task, and the data writer cuts a NEW fragment whenever
  *    the partition value changes — every fragment holds exactly one
  *    value combination, recorded in the manifest. The scan then reports
  *    KeyGroupedPartitioning, so joins/aggregations keyed on the
  *    partition columns run WITHOUT a shuffle (storage-partitioned join)
  *    — at 100 TB this converts the dominant fact⋈fact exchange into a
  *    zero-movement zip of co-partitioned fragments. Combine with
  *    `sortBy` for shuffle-free AND sort-free merge joins. */
class LanceWrite(path: String, schema: StructType, truncate: Boolean,
                 fsl: Map[String, Int],
                 clusterBy: Seq[String] = Nil, sortBy: Seq[String] = Nil,
                 partitionBy: Seq[String] = Nil,
                 bucketBy: Option[(Int, String)] = None,
                 numPartitions: Int = 0, stableRowIds: Boolean = false,
                 codec: String = "")
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  private def asc(cols: Seq[String]): Array[SortOrder] =
    cols.map(c => Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING))
      .toArray

  /** partitionBy with `days(col)` specs resolved to their raw columns —
    * what the exchange/sort can actually reference. */
  private def innerPartCols: Seq[String] =
    partitionBy.map(s => LanceDays.innerCol(s).getOrElse(s))

  override def requiredDistribution(): Distribution =
    if (partitionBy.exists(s => LanceDays.parseAny(s).isDefined))
      // date-transform layout: range-sort by the raw columns — rows of one
      // day are contiguous (a day can straddle two adjacent tasks, which
      // just yields two same-value fragments; SPJ handles the split). The
      // transform itself needs no resolution on the write path.
      Distributions.ordered(asc(innerPartCols ++ sortBy))
    else if (partitionBy.nonEmpty)
      Distributions.clustered(
        partitionBy.map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
    else if (bucketBy.isDefined)
      // cluster by the RAW column (each key lands in one task); the data
      // writer routes rows to per-bucket fragment files itself — no
      // transform resolution needed on the plain write path
      Distributions.clustered(
        Array(Expressions.identity(bucketBy.get._2): org.apache.spark.sql.connector.expressions.Expression))
    else if (clusterBy.nonEmpty)
      Distributions.clustered(
        clusterBy.map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
    else if (sortBy.nonEmpty) Distributions.ordered(asc(sortBy))
    else Distributions.unspecified()

  /** option("writePartitions", n): exact fragment count for the clustered
    * write (0 = let Spark/AQE size the exchange — which may coalesce a
    * small write into one fragment). */
  override def requiredNumPartitions(): Int = numPartitions

  override def requiredOrdering(): Array[SortOrder] =
    if (partitionBy.nonEmpty) asc(innerPartCols ++ sortBy) else asc(sortBy)

  override def toBatch: BatchWrite =
    new LanceBatchWrite(path, schema, truncate, fsl, stableRowIds, codec,
      partitionBy = partitionBy, sortBy = sortBy, bucketBy = bucketBy)
}

/** One finished fragment file from a write task. `partValues` positional
  * per the write's partitionBy ([[LanceFormat.PartValueCodec]] strings). */
case class LanceFragSpec(fileName: String, rows: Long,
                         stats: Seq[(Int, Double, Double)] = Nil,
                         partValues: Seq[String] = Nil)

case class LanceCommitMessage(frags: Seq[LanceFragSpec])
    extends WriterCommitMessage

class LanceBatchWrite(path: String, schema: StructType, truncate: Boolean,
                      fsl: Map[String, Int] = Map.empty,
                      stableRowIds: Boolean = false, codec: String = "",
                      partitionBy: Seq[String] = Nil,
                      sortBy: Seq[String] = Nil,
                      bucketBy: Option[(Int, String)] = None,
                      hadoopConf: Broadcast[SerializableConfiguration] =
                        SessionConf.broadcast(org.apache.spark.sql.SparkSession.active))
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LanceDataWriterFactory(path, schema, hadoopConf, fsl, codec, partitionBy,
      bucketBy)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hadoopConf.value.value
    val dataset = new Path(path)
    val fs = dataset.getFileSystem(conf)
    val specs = messages.toSeq.collect { case LanceCommitMessage(fr) => fr }
      .flatten.filter(_.rows > 0)
    val fragments = specs.map(s => (s.fileName, s.rows, s.stats))
    // this write's within-fragment sortedness: partition columns are
    // constant per fragment, so they prefix any declared sort for free
    // (bucket ids are constant too, but they are not a COLUMN — only
    // sortBy is claimable there). days(col) layouts range-sorted by the
    // RAW column, so the claimable sort is that column itself.
    val thisSort =
      if (partitionBy.nonEmpty)
        partitionBy.map(s => LanceDays.innerCol(s).getOrElse(s)) ++ sortBy
      else sortBy
    // declared layout for the manifest: identity columns or a bucket spec
    val layoutCols =
      bucketBy.map { case (n, c) => Seq(LanceBucket.specOf(n, c)) }
        .getOrElse(partitionBy)
    // Optimistic commit: the data plane (fragment files) is already
    // durable and conflict-free (UUID names), so losing the version-claim
    // race costs only a manifest re-read + re-write. Rebase on the new
    // latest and retry — appends from concurrent jobs all land, in some
    // serial order (the lance optimistic-commit model).
    // generous cap: a lost race costs one manifest re-read + re-write, so
    // retrying more is nearly free — 20 proved exhaustible under a loaded
    // host (GC pauses stack the race window for 6+ simultaneous committers)
    val maxAttempts = 100
    var attempt = 0
    var done = false
    while (!done) {
      val (prevFragments, prevFields, prevMaxFragId, version, prevNextRowId,
           prevPartCols, prevSortCols) =
        if (fs.exists(new Path(dataset, "_versions"))) {
          val m = LanceFormat.readManifest(fs,
            LanceFormat.latestManifestPath(fs, dataset, None))
          // append keeps the committed field ids (schema evolution may have
          // left them non-positional); overwrite starts a fresh id space
          val prev = if (truncate) Nil else m.fragments
          val pf = if (truncate) Nil else m.fields
          (prev, pf, m.fragments.map(_.id).foldLeft(-1L)(math.max),
           m.version + 1, m.nextRowId,
           if (truncate) Nil else m.partitionCols,
           if (truncate) Nil else m.sortCols)
        } else (Nil, Nil, -1L, 1L, 0L, Nil, Nil)
      // Layout metadata rules for the committed manifest:
      //  - a partitioned append must keep the dataset's partition columns
      //    (repartitioning by different columns needs an overwrite);
      //  - an UNpartitioned append into a partitioned dataset degrades
      //    gracefully: the columns stay declared, but its value-less
      //    fragments disable KeyGroupedPartitioning reporting until a
      //    partitioned rewrite;
      //  - sortCols survive only while every write declares the same sort
      //    (per-fragment sortedness is a manifest-wide claim).
      require(prevFragments.isEmpty || layoutCols.isEmpty ||
              prevPartCols.isEmpty || layoutCols == prevPartCols,
        s"lance: append partitioned by ${layoutCols.mkString(",")} into a " +
        s"dataset partitioned by ${prevPartCols.mkString(",")} — overwrite to repartition")
      val outPartCols = if (layoutCols.nonEmpty) layoutCols else prevPartCols
      val outSortCols =
        if (prevFragments.isEmpty) thisSort
        else if (prevSortCols == thisSort) thisSort
        else Nil
      // Move-stable row ids: on by option for a fresh/overwrite write;
      // appends to a stable dataset continue automatically (the manifest's
      // next_row_id is authoritative). Overwrite of a stable dataset keeps
      // the counter monotone — ids are NEVER reused within a dataset's
      // history, so a stale index can fetch nothing, never a wrong row.
      val stable = stableRowIds || prevNextRowId > 0L
      val (rowIdSegs, nextRowId) =
        if (!stable) (Nil, 0L)
        else {
          var next = math.max(prevNextRowId, 0L)
          val segs = fragments.map { case (_, rows, _) =>
            val s = Seq(LanceFormat.RangeSeg(next, rows))
            next += rows
            s
          }
          (segs, next)
        }
      try {
        LanceWriteSupport.writeManifest(conf, dataset, schema, fragments,
          prevMaxFragId + 1, prevFragments, version, fsl, prevFields,
          newRowIds = rowIdSegs, nextRowId = nextRowId,
          newPartVals = specs.map(_.partValues),
          partitionCols = outPartCols, sortCols = outSortCols)
        done = true
      } catch {
        case e: LanceCommitConflict =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          // tiny jittered backoff so racing committers interleave
          Thread.sleep(5 + scala.util.Random.nextInt(20))
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hadoopConf.value.value
    val dataset = new Path(path)
    val fs = dataset.getFileSystem(conf)
    messages.collect { case LanceCommitMessage(frags) =>
      frags.foreach(f =>
        fs.delete(new Path(new Path(dataset, "data"), f.fileName), false))
    }
  }
}

class LanceDataWriterFactory(path: String, schema: StructType,
                             conf: Broadcast[SerializableConfiguration],
                             fsl: Map[String, Int] = Map.empty,
                             codec: String = "",
                             partitionBy: Seq[String] = Nil,
                             bucketBy: Option[(Int, String)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketBy match {
      case Some((n, c)) =>
        new LanceBucketedDataWriter(path, schema, conf.value.value, fsl, codec, n, c)
      case None =>
        new LanceDataWriter(path, schema, conf.value.value, fsl, codec, partitionBy)
    }
}

/** Bucketed write: routes each row to one of `n` per-bucket fragment
  * writers (opened lazily; a task typically holds every bucket since the
  * distribution clusters by the RAW key, not the bucket id). Bounded
  * memory: one page buffer per open bucket writer. */
class LanceBucketedDataWriter(path: String, schema: StructType,
                              conf: Configuration,
                              fsl: Map[String, Int], codec: String,
                              n: Int, bucketCol: String)
    extends DataWriter[InternalRow] {
  private val ord = schema.fieldIndex(bucketCol)
  private val dt = schema.fields(ord).dataType
  private val open = new scala.collection.mutable.HashMap[Int,
    (String, Path, org.apache.hadoop.fs.FSDataOutputStream, LanceFragmentWriter, Long)]
  private lazy val fs = new Path(path).getFileSystem(conf)

  override def write(record: InternalRow): Unit = {
    require(!record.isNullAt(ord),
      s"lance: NULL in bucket column '$bucketCol' — bucketBy columns must be non-null")
    val b = LanceBucket.bucketOf(record.get(ord, dt), n)
    val (fn, fp, out, w, rows) = open.getOrElseUpdate(b, {
      val fn = s"${UUID.randomUUID()}.lance"
      val fp = new Path(new Path(new Path(path), "data"), fn)
      val out = fs.create(fp, true)
      (fn, fp, out, new LanceFragmentWriter(out, schema, fsl = fsl, codec = codec), 0L)
    })
    w.write(record)
    open(b) = (fn, fp, out, w, rows + 1)
  }

  override def commit(): WriterCommitMessage = {
    val specs = open.toSeq.sortBy(_._1).map { case (b, (fn, fp, out, w, rows)) =>
      w.finish(); out.close()
      if (rows == 0) { fs.delete(fp, false); None }
      else Some(LanceFragSpec(fn, rows, w.fileStats, partValues = Seq(b.toString)))
    }
    open.clear()
    LanceCommitMessage(specs.flatten)
  }

  override def abort(): Unit = {
    open.values.foreach { case (_, fp, out, _, _) =>
      try out.close() catch { case _: Exception => () }
      fs.delete(fp, false)
    }
    open.clear()
  }

  override def close(): Unit = ()
}

/** Streams a task's rows into fragment files. Unpartitioned: one fragment
  * for the whole task (opened lazily — an empty task writes nothing).
  * Partitioned: the incoming stream is sorted by the partition columns
  * (the Write's requiredOrdering), so equal values arrive as one run — a
  * new fragment is cut at each value change, giving exactly one fragment
  * per (task, value); with the clustered distribution routing each value
  * to one task, that is one fragment per value dataset-wide. */
class LanceDataWriter(path: String, schema: StructType, conf: Configuration,
                      fsl: Map[String, Int] = Map.empty, codec: String = "",
                      partitionBy: Seq[String] = Nil)
    extends DataWriter[InternalRow] {

  // each partitionBy entry: raw-column ordinal + type + whether the
  // recorded value is the epoch-day of the column (`days(col)` spec)
  private val partUnits = partitionBy.map(s => LanceDays.parseAny(s).map(_._1)).toArray
  private val partOrds = partitionBy
    .map(s => schema.fieldIndex(LanceDays.innerCol(s).getOrElse(s))).toArray
  private val partTypes = partOrds.map(schema.fields(_).dataType)

  private var fileName: String = _
  private var filePath: Path = _
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var writer: LanceFragmentWriter = _
  private var rows = 0L
  private var curKey: Seq[String] = null
  private val finished = Seq.newBuilder[LanceFragSpec]
  private lazy val fs = new Path(path).getFileSystem(conf)

  private def open(): Unit = {
    fileName = s"${UUID.randomUUID()}.lance"
    filePath = new Path(new Path(new Path(path), "data"), fileName)
    out = fs.create(filePath, true)
    writer = new LanceFragmentWriter(out, schema, fsl = fsl, codec = codec)
    rows = 0L
  }

  private def closeCurrent(): Unit = if (writer != null) {
    writer.finish()
    out.close()
    if (rows == 0) fs.delete(filePath, false) // no empty fragments
    else finished += LanceFragSpec(fileName, rows, writer.fileStats,
      partValues = Option(curKey).getOrElse(Nil))
    writer = null
  }

  override def write(record: InternalRow): Unit = {
    if (partOrds.nonEmpty) {
      var i = 0
      val key = new Array[String](partOrds.length)
      while (i < partOrds.length) {
        require(!record.isNullAt(partOrds(i)),
          s"lance: NULL in partition column '${partitionBy(i)}' — " +
          "partitionBy columns must be non-null")
        key(i) =
          if (partUnits(i).isDefined)
            LanceDays.unitOf(partUnits(i).get,
              record.get(partOrds(i), partTypes(i)), partTypes(i)).toString
          else LanceFormat.PartValueCodec.toStr(
            partTypes(i), record.get(partOrds(i), partTypes(i)))
        i += 1
      }
      val k = key.toSeq
      if (curKey == null || k != curKey) { closeCurrent(); curKey = k; open() }
    } else if (writer == null) open()
    writer.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    LanceCommitMessage(finished.result())
  }

  override def abort(): Unit = {
    if (writer != null) { out.close(); fs.delete(filePath, false) }
    finished.result().foreach(f =>
      fs.delete(new Path(new Path(new Path(path), "data"), f.fileName), false))
  }

  override def close(): Unit = ()
}
