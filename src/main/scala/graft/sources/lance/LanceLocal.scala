package graft.sources.lance

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.graftglue.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded driver-local Lance reads and writes: the reference's
  * in-process scan (`lance_scan` is a table function over the crate's
  * scanner) for the reads an index answer is made of — a publish record,
  * a sidecar at its pin, an append tail, the take of a few rows — and its
  * in-process write (`COPY ... (FORMAT lance)` on the calling thread) for
  * the small tails index maintenance and point DML commit.
  *
  * A read plans exactly as the DSv2 scan does, through [[LanceScan]]:
  * fragment and page zone maps, address ranges, deletion vectors, stable
  * row ids, `fromVersion` tails. When the data files of the fragments
  * that survive pruning hold at most [[CapBytes]], the scan's own reader
  * factory decodes them on the driver; otherwise the read returns None
  * and the caller runs its DSv2 plan, so a large read never lands on the
  * driver. Filters prune only: the rows are every live row of the
  * surviving pages, and callers apply their exact predicates.
  */
object LanceLocal {

  /** The most data-file bytes a read may decode on the driver: about
    * where a full-width local read stops beating the DSv2 scan on 4
    * cores, and 4.5-6x that in decoded rows on the driver heap. */
  val CapBytes: Long = 8L << 20

  /** Catalyst rows on the driver: the decoded rows of one read, in the
    * requested column order, or the rows a write commits. */
  final case class Rows(schema: StructType, rows: IndexedSeq[InternalRow]) {
    /** A job-free DataFrame over `rows` (a `LocalRelation`). */
    def frame(spark: SparkSession): DataFrame =
      ColumnBridge.localFrame(spark, schema, rows)

    /** Whether [[write]] may commit these rows: their unsafe-row bytes,
      * an upper bound of what the encoder writes, are within [[CapBytes]]. */
    def fits: Boolean = {
      val unsafe = UnsafeProjection.create(schema)
      rows.iterator.map(r => unsafe(r).getSizeInBytes.toLong)
        .scanLeft(0L)(_ + _).forall(_ <= CapBytes)
    }

    /** The rows sorted ascending by `cols`, nulls first, as the writer's
      * `sortBy` ordering sorts them. */
    def sortedBy(cols: Seq[String]): Rows =
      if (cols.isEmpty) this
      else copy(rows = rows.sorted(new InterpretedOrdering(cols.map { c =>
        val i = schema.fieldIndex(c)
        SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)
      })))
  }

  /** Types whose catalyst values compare as Spark's equality does, so a
    * driver-side key match equals the plan's join or `isin`. */
  val ExactKeyTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    StringType, DateType, TimestampType, TimestampNTZType, BooleanType)

  /** The rows of `df` when its optimized plan is one `LocalRelation`: a
    * frame over driver rows whose projections and filters the optimizer
    * folded in (`ConvertToLocalRelation`), so no job computes them. None
    * for any other plan. */
  def folded(df: DataFrame): Option[Rows] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation => Some(Rows(DataTypeUtils.fromAttributes(l.output), l.data.toIndexedSeq))
    case _ => None
  }

  /** The rows of `df` on the driver when their unsafe-row bytes are
    * within [[CapBytes]], from one job; None when over. Each task ships
    * its partition's rows only while they stay within its share of the
    * cap, so a large frame never lands on the driver. A frame whose plan
    * is a (local) checkpoint computes nothing more, and a caller that
    * gets None runs its distributed plan over the same frame. */
  def collectWithin(df: DataFrame): Option[Rows] = {
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val share = CapBytes / math.max(rdd.getNumPartitions, 1)
    val parts = rdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      val out = Array.newBuilder[InternalRow]
      var bytes = 0L
      while (bytes <= share && it.hasNext) {
        val r = unsafe(it.next())
        bytes += r.getSizeInBytes
        out += r.copy()
      }
      Iterator(if (bytes <= share) out.result() else null)
    }.collect()
    if (parts.contains(null)) None
    else Some(Rows(schema, parts.iterator.flatten.toIndexedSeq))
  }

  private val metadataColumns = Seq(
    StructField("_rowaddr", LongType, nullable = false),
    StructField("_rowid", LongType, nullable = false))

  /** A dataset at one version: its file system, root and manifest, read
    * once. A caller that reads one version several times (a tail, a take
    * and a liveness check at one source head) passes it to [[readAt]], so
    * `_versions` is listed and the manifest parsed once. */
  final case class Snapshot(path: String, fs: FileSystem, root: Path,
                            manifest: LanceFormat.Manifest)

  /** `path` at `version`, the head when None. */
  def snapshot(spark: SparkSession, path: String,
               version: Option[Long] = None): Snapshot = {
    val (fs, root) = LanceFormat.fileSystem(path, spark.sessionState.newHadoopConf())
    Snapshot(path, fs, root,
      LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, root, version)))
  }

  /** `columns` of `path` at `version` (the head when None); see [[readAt]]. */
  def read(spark: SparkSession, path: String, version: Option[Long] = None,
           fromVersion: Option[Long] = None, columns: Seq[String] = Seq("*"),
           zoneFilters: Seq[ZoneFilter] = Nil,
           addrFilters: Seq[AddrFilter] = Nil): Option[Rows] =
    readAt(snapshot(spark, path, version), fromVersion, columns, zoneFilters, addrFilters)

  /** `columns` of `at`, only the fragments committed after `fromVersion`
    * when set; "*" stands for every data column, and `_rowaddr`/`_rowid`
    * are the metadata columns. None when the surviving fragments exceed
    * [[CapBytes]]. */
  def readAt(at: Snapshot, fromVersion: Option[Long] = None,
             columns: Seq[String] = Seq("*"), zoneFilters: Seq[ZoneFilter] = Nil,
             addrFilters: Seq[AddrFilter] = Nil): Option[Rows] = {
    val manifest = at.manifest
    val data = LanceFormat.toStructType(manifest)
    val full = StructType(data.fields ++ metadataColumns)
    val required = StructType(columns.flatMap(c =>
      if (c == "*") data.fields.toSeq else Seq(full(c))))
    val scan = new LanceScan(at.path, full, required, Some(manifest.version),
      zoneFilters = zoneFilters, fromVersion = fromVersion,
      addrFilters = addrFilters, preread = Some(manifest))
    val parts = scan.planInputPartitions().map(_.asInstanceOf[LanceInputPartition])
    val planned = parts.map(_.fragId).toSet
    val files = manifest.fragments.filter(f => planned(f.id)).flatMap(_.files)
    // manifest-recorded sizes; a file written without one is statted
    val bytes = files.iterator.scanLeft(0L) { (acc, f) =>
      acc + (if (f.fileSizeBytes > 0) f.fileSizeBytes
             else at.fs.getFileStatus(new Path(new Path(at.root, "data"), f.path)).getLen)
    }
    if (bytes.exists(_ > CapBytes)) None
    else {
      val factory = scan.createReaderFactory()
      val out = IndexedSeq.newBuilder[InternalRow]
      parts.foreach { p =>
        val reader = factory.createReader(p)
        try while (reader.next()) out += reader.get()
        finally reader.close()
      }
      Some(Rows(required, out.result()))
    }
  }

  /** Every row of `path` at `version` as external rows: decoded on the
    * driver under the cap, else collected through the DSv2 scan. For the
    * one-row and sidecar reads of the index protocol. */
  def collect(spark: SparkSession, path: String, version: Option[Long]): Array[Row] =
    read(spark, path, version) match {
      case Some(r) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(r.schema)
        r.rows.map(toRow(_).asInstanceOf[Row]).toArray
      case None =>
        val rd = spark.read.format("lance")
        version.fold(rd)(v => rd.option("versionAsOf", v)).load(path).collect()
    }

  /** Write `rows` to `path` on the driver through the DSv2 writer's own
    * classes: [[LanceBatchWrite]], one [[LanceDataWriterFactory]] writer,
    * then its commit — the same encoder, optimistic commit loop and
    * row-id, sortCols and field-id rules as `df.write.format("lance")`,
    * as one fragment. `mode` is "append" or "overwrite"; `sortBy` (sorts
    * the rows and declares the sort) and `fsl` are the writer's `sortBy`
    * and `fixedSizeList` options, and a stable dataset keeps its row ids.
    * The rows must [[Rows.fits fit]]; a caller with more runs its DSv2
    * write. */
  def write(spark: SparkSession, path: String, rows: Rows, mode: String,
            sortBy: Seq[String] = Nil, fsl: Map[String, Int] = Map.empty): Unit = {
    require(mode == "append" || mode == "overwrite", s"lance local write: mode $mode")
    require(rows.fits, s"lance local write: rows for $path exceed $CapBytes bytes")
    val batch = new LanceBatchWrite(path, rows.schema, truncate = mode == "overwrite",
      fsl, sortBy = sortBy, hadoopConf = SessionConf.broadcast(spark))
    val one: PhysicalWriteInfo = () => 1
    val writer = batch.createBatchWriterFactory(one).createWriter(0, 0L)
    val msg =
      try {
        rows.sortedBy(sortBy).rows.foreach(writer.write)
        writer.commit()
      } catch { case e: Throwable => writer.abort(); throw e }
    try batch.commit(Array(msg))
    catch { case e: Throwable => batch.abort(Array(msg)); throw e }
  }
}
