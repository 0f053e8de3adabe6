package graft.sources.lance

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** DataSource V2 read connector for Lance datasets (SURVEY §7 M2,
  * reference R1-R5: `cpp/lance_scan.cpp:75-250`, `rust/scanner.rs:9-38`).
  *
  * `spark.read.format("lance").load("/path/ds.lance")`, with
  * `option("versionAsOf", n)` time travel over `_versions/N.manifest`.
  *
  * Scale design vs the reference: the reference scans through ONE global
  * mutex-guarded stream (`cpp/lance_scan.cpp:57-71,158` — effective
  * parallelism 1). Here each Lance fragment is an InputPartition, so a
  * 1000-fragment dataset fans out across the cluster; column pruning is
  * pushed into the scan (the reference leaves it TODO at
  * `cpp/lance_scan.cpp:257-258`) and only the projected columns' byte
  * ranges are read from storage.
  */
object LanceDataSource {
  /** Total bytes range-read by this JVM's lance scans (tests assert I/O
    * shapes with it, e.g. that a blobRefs projection never reads payload
    * buffers); monotonic, process-wide. */
  val bytesRead = new java.util.concurrent.atomic.LongAdder

  /** Parse the `blobRefs` option (comma-separated binary column names). */
  private[lance] def blobRefCols(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("blobRefs")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
}

class LanceDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "lance"

  private def datasetPath(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(
      options.asScala.get("paths").map { json =>
        // DataFrameReader.load(paths*) serializes to a JSON string array; a
        // lance dataset is a single directory — reject multi-path loads
        // loudly instead of mangling them into one bogus path
        val entries = json.stripPrefix("[").stripSuffix("]")
          .split("\",\"").map(_.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        require(entries.length == 1,
          s"lance: exactly one dataset path per load, got ${entries.length} " +
          s"(${entries.mkString(", ")}); union multiple datasets with unionByName")
        entries.head
      })
    p.getOrElse(throw new IllegalArgumentException("lance: path required"))
  }

  /** `versionAsOf` (numeric) or `tagAsOf` (named ref under `_refs/tags`),
    * resolved to a concrete version. */
  private def pinnedVersion(options: CaseInsensitiveStringMap,
                            fs: org.apache.hadoop.fs.FileSystem,
                            path: Path): Option[Long] =
    Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("tagAsOf"))
        .map(t => LanceMaintenance.resolveTag(fs, path, t)))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val (fs, path) = LanceFormat.fileSystem(datasetPath(options), conf)
    val versionAsOf = pinnedVersion(options, fs, path)
    val manifest = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, path, versionAsOf))
    val base0 = LanceFormat.toStructType(manifest)
    // blob refs: the named binary columns surface as struct<path,pos,len>
    // references decoded from offsets alone — payload bytes never read
    // (graft.operators.Blobs; lance blob/storage_class analogue)
    val base = LanceDataSource.blobRefCols(options).foldLeft(base0) { (st, c) =>
      val i = st.fieldNames.indexOf(c)
      require(i >= 0, s"lance: blobRefs column '$c' not in schema ${st.fieldNames.mkString(",")}")
      require(st.fields(i).dataType == org.apache.spark.sql.types.BinaryType,
        s"lance: blobRefs column '$c' is ${st.fields(i).dataType.simpleString}, not binary")
      StructType(st.fields.updated(i,
        st.fields(i).copy(dataType = graft.operators.Blobs.refType)))
    }
    // opt-in metadata columns: lance row address (fragId << 32 | rowOffset)
    // and the move-stable row id (when the dataset carries sequences)
    val withAddr =
      if (options.getBoolean("withRowAddress", false))
        base.add(org.apache.spark.sql.types.StructField(
          "_rowaddr", org.apache.spark.sql.types.LongType, nullable = false))
      else base
    if (options.getBoolean("withRowId", false))
      withAddr.add(org.apache.spark.sql.types.StructField(
        "_rowid", org.apache.spark.sql.types.LongType, nullable = false))
    else withAddr
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val dsPath = datasetPath(options)
    val pinned =
      if (options.containsKey("tagAsOf") && !options.containsKey("versionAsOf")) {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        val (fs, path) = LanceFormat.fileSystem(dsPath, conf)
        pinnedVersion(options, fs, path)
      } else Option(options.get("versionAsOf")).map(_.toLong)
    new LanceTable(dsPath, schema, pinned)
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** `writeLayout` = the table's declared layout specs (identity columns,
  * `days/months/years(col)`, or `bucket(n,col)`), carried from CREATE
  * TABLE ... PARTITIONED BY or recovered from the manifest on load, plus
  * any declared sort columns. Writes through this table that don't spell
  * an explicit layout inherit it — SQL `INSERT INTO` keeps a partitioned
  * dataset partitioned instead of degrading it. */
class LanceTable(val path: String, tableSchema: StructType, versionAsOf: Option[Long],
                 writeLayout: Seq[String] = Nil, writeSort: Seq[String] = Nil)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"lance.`$path`"
  override def schema(): StructType = tableSchema

  /** `_rowaddr` as a DSv2 metadata column: referenced by name it joins the
    * scan output, hidden from `SELECT *` otherwise — the idiomatic face of
    * the same synthetic column the DML paths (delete/update/merge) request
    * internally and that `option("withRowAddress", true)` exposes for
    * pre-metadata-column readers. Value is lance's row address,
    * `(fragment_id << 32) | physical_row_offset` (reference: the lance
    * crate's ROW_ADDR scanner projection; address-based row ids are the
    * 0.32.1 default). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(LanceTable.RowAddrColumn, LanceTable.RowIdColumn)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LanceScanBuilder(path, tableSchema, versionAsOf,
      fromVersion = Option(options.get("fromVersion")).map(_.toLong),
      blobRefs = LanceDataSource.blobRefCols(options).toSet,
      optionAddrFilters =
        Option(options.get("addrRanges")).map(AddrRangeSet.parse).toSeq,
      splitRows = Option(options.get("splitRows")).map(_.toLong).getOrElse(0L))
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new LanceWriteBuilder(path, info, writeLayout, writeSort)

  // SQL `DELETE FROM lance.`path` WHERE ...` — filters render to a
  // condition string and run through LanceMaintenance.deleteWhere
  // (deletion vectors + a new manifest version; no data files rewritten)
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => LanceFilterSql.toSql(f).isDefined)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val cond =
      if (filters.isEmpty) "true"
      else filters.flatMap(LanceFilterSql.toSql).map(s => s"($s)").mkString(" AND ")
    LanceMaintenance.deleteWhere(SparkSession.active, path, cond)
  }
}

object LanceTable {
  /** Metadata-column descriptor for the lance row address. */
  object RowAddrColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_rowaddr"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "lance row address: (fragment_id << 32) | physical_row_offset"
  }

  /** Move-stable row id (requires the dataset written with
    * `option("stableRowIds", true)` — scans of address-only datasets
    * fail loudly when this column is referenced). */
  object RowIdColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_rowid"
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "lance move-stable row id (survives compaction; new id on update)"
  }
}

/** Renders DSv2 source filters back to SQL text for deleteWhere. */
object LanceFilterSql {
  import org.apache.spark.sql.sources._

  private def lit(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case s: org.apache.spark.unsafe.types.UTF8String =>
      Some("'" + s.toString.replace("'", "''") + "'")
    case b: Boolean => Some(b.toString)
    case n: java.lang.Number => Some(n.toString)
    case d: java.sql.Date => Some(s"DATE '$d'")
    case d: java.time.LocalDate => Some(s"DATE '$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP '$t'")
    case t: java.time.Instant => Some(s"TIMESTAMP '${java.sql.Timestamp.from(t)}'")
    case _ => None
  }
  private def col(a: String): String = s"`${a.replace("`", "``")}`"

  def toSql(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"${col(a)} = $l")
    case EqualNullSafe(a, v) =>
      lit(v).map(l => s"${col(a)} <=> $l").orElse(Some(s"${col(a)} IS NULL"))
    case GreaterThan(a, v) => lit(v).map(l => s"${col(a)} > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"${col(a)} >= $l")
    case LessThan(a, v) => lit(v).map(l => s"${col(a)} < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"${col(a)} <= $l")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.map(lit)
      if (ls.forall(_.isDefined)) Some(s"${col(a)} IN (${ls.flatten.mkString(", ")})")
      else None
    case IsNull(a) => Some(s"${col(a)} IS NULL")
    case IsNotNull(a) => Some(s"${col(a)} IS NOT NULL")
    case Not(child) => toSql(child).map(s => s"NOT ($s)")
    case And(l, r) => for (a <- toSql(l); b <- toSql(r)) yield s"($a) AND ($b)"
    case Or(l, r) => for (a <- toSql(l); b <- toSql(r)) yield s"($a) OR ($b)"
    case StringStartsWith(a, v) =>
      Some(s"${col(a)} LIKE '${v.replace("'", "''")}%'")
    case StringEndsWith(a, v) =>
      Some(s"${col(a)} LIKE '%${v.replace("'", "''")}'")
    case StringContains(a, v) =>
      Some(s"${col(a)} LIKE '%${v.replace("'", "''")}%'")
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    case _ => None
  }
}

/** A predicate usable against page zone maps (conservative: anything not
  * representable here is simply not pruned on). Numeric stats are [min,max]
  * doubles (timestamps as epoch micros, dates as epoch days); string stats
  * are the 8-byte big-endian prefixes of min/max, compared unsigned —
  * prefix comparison decides exactly when the prefixes differ, and
  * equality (undecidable from a prefix) always keeps the page. `op` "in"
  * keeps a page iff ANY of `values`/`strPrefixes` may match. */
case class ZoneFilter(colName: String, op: String, value: Double,
                      strPrefix: Long = 0L, isStr: Boolean = false,
                      values: Seq[Double] = Nil, strPrefixes: Seq[Long] = Nil) {
  /** Can a page with values in [mn, mx] contain a matching row? */
  def mayMatch(mn: Double, mx: Double): Boolean = op match {
    case ">"  => mx > value
    case ">=" => mx >= value
    case "<"  => mn < value
    case "<=" => mn <= value
    case "="  => mn <= value && mx >= value
    case "in" => values.exists(v => mn <= v && mx >= v)
    case _ => true
  }
  /** String variant over prefix-encoded page stats; keeps on prefix ties. */
  def mayMatchStr(umin: Long, umax: Long): Boolean = {
    import java.lang.Long.compareUnsigned
    op match {
      case ">" | ">=" => compareUnsigned(umax, strPrefix) >= 0
      case "<" | "<=" => compareUnsigned(umin, strPrefix) <= 0
      case "=" => compareUnsigned(umin, strPrefix) <= 0 &&
                  compareUnsigned(strPrefix, umax) <= 0
      case "in" => strPrefixes.exists(p =>
        compareUnsigned(umin, p) <= 0 && compareUnsigned(p, umax) <= 0)
      case _ => true
    }
  }
}

/** Pushed predicate on the synthetic `_rowaddr` column — the take() path:
  * ANN/index probes return row addresses, and fetching those rows should
  * open only the fragments (and decode only the pages) whose address
  * range can match (reference: the lance crate's `Dataset::take`).
  * Addresses are exact longs (`fragId << 32 | offset` exceeds double's
  * 2^53 integer range, so these do NOT reuse the double-domain
  * [[ZoneFilter]] channel). Always conservative: every filter also stays
  * residual, Spark re-evaluates on the produced rows. */
sealed trait AddrFilter extends Serializable {
  /** May any address in [start, start + rows) match? */
  def mayMatch(start: Long, rows: Long): Boolean
}
case class AddrRange(lo: Long, hi: Long) extends AddrFilter {
  override def mayMatch(start: Long, rows: Long): Boolean =
    lo < start + rows && hi >= start
}
case class AddrIn(vs: Seq[Long]) extends AddrFilter {
  override def mayMatch(start: Long, rows: Long): Boolean =
    vs.exists(v => v >= start && v < start + rows)
}

/** Disjunction of sorted, disjoint address intervals, flat-packed as
  * [lo0, hi0, lo1, hi1, ...] (inclusive bounds). The take path ships its
  * probe result as a small interval cover through the `addrRanges` scan
  * option instead of a 100k-literal Catalyst `In` (which stressed
  * analysis and plan size); exact row membership is re-checked by an
  * executor-side filter, so the cover only has to be conservative. */
case class AddrRangeSet(bounds: Array[Long]) extends AddrFilter {
  override def mayMatch(start: Long, rows: Long): Boolean = {
    // first interval whose hi >= start, via binary search on hi values
    var lo = 0
    var hi = bounds.length / 2 - 1
    var cand = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(2 * mid + 1) >= start) { cand = mid; hi = mid - 1 }
      else lo = mid + 1
    }
    cand >= 0 && bounds(2 * cand) < start + rows
  }
}

object AddrRangeSet {
  /** Parse the `addrRanges` option: "lo:hi,lo:hi,..." (inclusive). */
  def parse(s: String): AddrRangeSet = {
    val parts = s.split(',').filter(_.nonEmpty)
    val bounds = new Array[Long](parts.length * 2)
    var i = 0
    while (i < parts.length) {
      val c = parts(i).indexOf(':')
      require(c > 0, s"lance: bad addrRanges entry '${parts(i)}'")
      bounds(2 * i) = java.lang.Long.parseLong(parts(i).substring(0, c))
      bounds(2 * i + 1) = java.lang.Long.parseLong(parts(i).substring(c + 1))
      i += 1
    }
    AddrRangeSet(bounds)
  }
}

object ZoneFilter {
  /** Filter value -> the double domain of the page stats (timestamps =
    * epoch micros, dates = epoch days — the units the writer records). */
  private[lance] def numeric(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1e6 + t.getNano / 1000.0)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case _ => None
  }

  /** `colName IN (vs)` as a zone filter: numeric/temporal values or
    * strings (by 8-byte prefix); None when a value has no stat domain. */
  def in(colName: String, vs: Seq[Any]): Option[ZoneFilter] =
    if (vs.isEmpty || vs.exists(_ == null)) None
    else if (vs.forall(v => numeric(v).isDefined))
      Some(ZoneFilter(colName, "in", 0.0, values = vs.flatMap(numeric)))
    else if (vs.forall(_.isInstanceOf[String]))
      Some(ZoneFilter(colName, "in", 0.0, isStr = true,
        strPrefixes = vs.map(v => prefixLong(v.asInstanceOf[String].getBytes("UTF-8")))))
    else None

  /** First 8 bytes, big-endian, zero-padded — unsigned order equals
    * lexicographic byte order wherever the prefixes differ. */
  def prefixLong(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1 }
    v
  }
}

class LanceScanBuilder(path: String, full: StructType, versionAsOf: Option[Long],
                       fromVersion: Option[Long] = None,
                       blobRefs: Set[String] = Set.empty,
                       optionAddrFilters: Seq[AddrFilter] = Nil,
                       splitRows: Long = 0L)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._
  private var required: StructType = full
  private var limit: Option[Int] = None
  private var zoneFilters: Seq[ZoneFilter] = Nil
  private var addrFilters: Seq[AddrFilter] = Nil
  private var accepted: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[Array[Any]], String)] = None

  /** Manifest-only aggregates: COUNT(*) is the deletion-aware live row
    * count; MIN/MAX over integral/temporal columns read the exact
    * per-fragment stats the writer records — the whole query costs one
    * metadata read, no data file is ever opened. At 100 TB this is the
    * difference between a count costing a full scan and costing
    * milliseconds. Only COMPLETE pushdown is offered, and only when it is
    * provably exact:
    *  - no pushed filters (ours all stay residual, so Spark only offers
    *    aggregates on filterless scans — guarded anyway);
    *  - MIN/MAX: no deletion files anywhere (a dead row may hold the
    *    extremum), every non-empty fragment carries the column's stat
    *    (absent = all-null or foreign-written), integral/date/timestamp
    *    types only (the fixed64 stat channel is a double: big longs round,
    *    float/double NaN never enters stats), |stat| < 2^52;
    *  - COUNT(*): always exact (physicalRows - numDeleted per fragment).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val t = translateAgg(agg)
    t.foreach(r => pushedAgg = Some(r))
    t.isDefined
  }

  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]], String)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types._
    if (zoneFilters.nonEmpty || addrFilters.nonEmpty ||
        optionAddrFilters.nonEmpty || limit.isDefined ||
        fromVersion.isDefined || blobRefs.nonEmpty) return None
    val manifest =
      try {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(path, conf)
        LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, versionAsOf))
      } catch { case _: Exception => return None }
    val byName = manifest.fields.filter(_.parentId == -1).map(f => f.name -> f.id).toMap
    val Exact = 1L << 52

    // GROUP BY pushdown: only when the group keys are exactly the
    // dataset's identity partition columns (any order) and every fragment
    // carries values — then each partition VALUE is a group whose
    // fragments answer the aggregates from the manifest alone
    // (`SELECT lang, COUNT(*) ... GROUP BY lang` over a lang-partitioned
    // corpus reads ZERO data files). Groups whose rows were all deleted
    // are dropped (SQL emits no group for zero rows).
    val groupNames = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      case _ => return None
    }
    val fragGroups: Seq[(Array[Any], Seq[LanceFormat.FragmentMeta])] =
      if (groupNames.isEmpty) Seq((Array.empty[Any], manifest.fragments))
      else {
        val pcols = manifest.partitionCols
        if (pcols.isEmpty || pcols.exists(c =>
            LanceBucket.parseSpec(c).isDefined || LanceDays.parseAny(c).isDefined))
          return None
        if (groupNames.sorted != pcols.sorted) return None
        if (manifest.fragments.exists(_.partValues.length != pcols.length))
          return None
        val posOf = groupNames.map(pcols.indexOf) // group order -> value slot
        val types = groupNames.map(n =>
          full.fields.find(_.name == n).getOrElse(return None).dataType)
        if (!types.forall(LanceFormat.PartValueCodec.supported)) return None
        manifest.fragments.groupBy(_.partValues).toSeq
          .filter(_._2.map(_.liveRows).sum > 0)
          .map { case (vals, frs) =>
            (posOf.zip(types).map { case (slot, t) =>
              LanceFormat.PartValueCodec.toCatalyst(t, vals(slot)) }.toArray[Any], frs)
          }
      }

    def minMax(frags: Seq[LanceFormat.FragmentMeta],
               col: org.apache.spark.sql.connector.expressions.Expression,
               isMin: Boolean): Option[(StructField, Any)] = {
      val name = col match {
        case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
        case _ => return None
      }
      val sf = full.fields.find(_.name == name).getOrElse(return None)
      val fid = byName.getOrElse(name, return None)
      sf.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType => ()
        case _ => return None
      }
      if (frags.exists(_.deletion.isDefined)) return None
      val live = frags.filter(_.physicalRows > 0)
      if (live.isEmpty)
        return Some((StructField(name, sf.dataType, nullable = true), null))
      val stats = live.map(_.stats.find(_._1 == fid).getOrElse(return None))
      val v = if (isMin) stats.map(_._2).min else stats.map(_._3).max
      if (math.abs(v) >= Exact) return None
      val internal: Any = sf.dataType match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType | DateType => v.toInt
        case LongType | TimestampType | TimestampNTZType => v.toLong
        case _ => return None
      }
      Some((StructField(name, sf.dataType, nullable = true), internal))
    }

    // group-key columns first, then aggregate columns (the DSv2 contract
    // for complete aggregate pushdown)
    val keyFields = groupNames.map(n =>
      StructField(n, full.fields.find(_.name == n).get.dataType, nullable = false))
    var aggFields: Seq[StructField] = null
    val rows = fragGroups.map { case (keyVals, frs) =>
      val translated = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          (StructField("count_star", LongType, nullable = false),
           frs.map(_.liveRows).sum: Any)
        case m: Min => minMax(frs, m.column(), isMin = true).getOrElse(return None)
        case m: Max => minMax(frs, m.column(), isMin = false).getOrElse(return None)
        case _ => return None
      }
      aggFields = translated.map(_._1)
      keyVals ++ translated.map(_._2)
    }
    if (aggFields == null) { // zero groups: still need the agg schema
      aggFields = agg.aggregateExpressions().toSeq.map {
        case _: CountStar => StructField("count_star", LongType, nullable = false)
        case m: Min => minMax(Nil, m.column(), isMin = true).getOrElse(return None)._1
        case m: Max => minMax(Nil, m.column(), isMin = false).getOrElse(return None)._1
        case _ => return None
      }
    }
    Some((StructType(keyFields ++ aggFields), rows,
          (groupNames.map(g => s"group:$g") ++
           agg.aggregateExpressions().map(_.toString)).mkString(", ")))
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve lance field order; requiredSchema may reorder. `_rowaddr`
    // arrives here only as a requested METADATA column (it has no entry in
    // the table schema unless opted in via withRowAddress) — keep it,
    // appended, so the scan weaves it in.
    //
    // NESTED pruning: keep the REQUESTED field type, not the table's —
    // when spark.sql.optimizer.nestedSchemaPruning trims a struct to the
    // accessed subfields, the spec tree drops the unaccessed leaf columns
    // and their byte ranges are never read (struct subfields are separate
    // physical columns in lance). Subfield ORDER is preserved by Spark's
    // pruning, so the spec tree and the reported schema stay aligned.
    val reqByName = requiredSchema.fields.map(f => f.name -> f).toMap
    val base = full.fields.filter(f => reqByName.contains(f.name))
      // blobRefs columns surface a SYNTHETIC struct<path,pos,len> the
      // decoder always emits whole — keep the full type (Spark projects
      // the subfield above the scan); everything else takes the requested
      // (possibly nested-pruned) type
      .map(f => if (blobRefs.contains(f.name)) f else reqByName(f.name))
    val meta = requiredSchema.fields.filter(f =>
      (f.name == "_rowaddr" || f.name == "_rowid") &&
        !full.fieldNames.contains(f.name))
    required = StructType(base ++ meta)
  }
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  private def zoneOf(a: String, op: String, v: Any): Option[ZoneFilter] =
    ZoneFilter.numeric(v).map(ZoneFilter(a, op, _)).orElse(v match {
      case s: String =>
        Some(ZoneFilter(a, op, 0.0, ZoneFilter.prefixLong(s.getBytes("UTF-8")), isStr = true))
      case _ => None
    })

  /** Zone-map skipping only — every filter stays residual (we return all
    * filters back to Spark), so correctness never depends on the stats;
    * pages whose [min,max] cannot match are just never read. Numeric,
    * timestamp/date, string, and IN-list comparisons participate. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def zf(f: Filter): Option[ZoneFilter] = f match {
      case GreaterThan(a, v) => zoneOf(a, ">", v)
      case GreaterThanOrEqual(a, v) => zoneOf(a, ">=", v)
      case LessThan(a, v) => zoneOf(a, "<", v)
      case LessThanOrEqual(a, v) => zoneOf(a, "<=", v)
      case EqualTo(a, v) => zoneOf(a, "=", v)
      case In(a, vs) => Option(vs).flatMap(v => ZoneFilter.in(a, v.toSeq))
      case _ => None
    }
    // `_rowaddr` comparisons prune by exact address range (take path)
    def addrLong(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case _ => None
    }
    def af(f: Filter): Option[AddrFilter] = f match {
      case EqualTo("_rowaddr", v) => addrLong(v).map(x => AddrRange(x, x))
      case GreaterThan("_rowaddr", v) => addrLong(v).map(x => AddrRange(x + 1, Long.MaxValue))
      case GreaterThanOrEqual("_rowaddr", v) => addrLong(v).map(x => AddrRange(x, Long.MaxValue))
      case LessThan("_rowaddr", v) => addrLong(v).map(x => AddrRange(Long.MinValue, x - 1))
      case LessThanOrEqual("_rowaddr", v) => addrLong(v).map(x => AddrRange(Long.MinValue, x))
      case In("_rowaddr", vs) if vs != null && vs.nonEmpty && vs.forall(addrLong(_).isDefined) =>
        Some(AddrIn(vs.flatMap(addrLong).toSeq))
      case _ => None
    }
    zoneFilters = filters.flatMap(zf(_)).toSeq
    addrFilters = filters.flatMap(af(_)).toSeq
    accepted = filters.filter(f => zf(f).isDefined || af(f).isDefined)
    filters // all residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = pushedAgg match {
    case Some((schema, values, desc)) =>
      new LanceManifestAggScan(path, schema, values, desc)
    case None =>
      new LanceScan(path, full, required, versionAsOf, limit, zoneFilters, fromVersion,
                    optionAddrFilters ++ addrFilters, blobRefs, splitRows)
  }
}

/** A fully-pushed-down aggregate answered from the manifest: one
  * partition, one row per group (exactly one for the ungrouped case),
  * zero data-file reads (see
  * [[LanceScanBuilder.supportCompletePushDown]]). */
class LanceManifestAggScan(path: String, schema: StructType,
                           rows: Seq[Array[Any]], desc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"LanceManifestAggScan($path, pushed=[$desc])"
  override def planInputPartitions(): Array[InputPartition] =
    Array(LanceAggPartition(rows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new LanceAggReaderFactory
}

case class LanceAggPartition(rows: Array[Array[Any]]) extends InputPartition

class LanceAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rs = p.asInstanceOf[LanceAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rs.length }
      override def get(): InternalRow = new GenericInternalRow(rs(i).clone())
      override def close(): Unit = ()
    }
}

/** One column-slice of a fragment: a data file carrying a subset of the
  * fragment's field ids (crate `merge`/`add_columns` writes these — every
  * file of a fragment has the same physical row count, split by column). */
case class LanceFileSlice(path: String, fieldIds: Array[Int],
                          columnIndices: Array[Int]) extends Serializable

/** One InputPartition per Lance fragment; rowLimit caps decoded LIVE rows
  * when a LIMIT was pushed down (whole trailing fragments are pruned
  * away). deletionPath/numDeleted come from the fragment's deletion_file:
  * readers mask those row offsets out. fragId feeds the `_rowaddr`
  * metadata column ((fragId << 32) | rowOffset — lance's row address).
  * extraFiles carries the fragment's additional column-slice files
  * (column-merged fragments); field ids route to the owning file. */
case class LanceInputPartition(dataFilePath: String, fieldIds: Array[Int],
                               columnIndices: Array[Int], numRows: Long,
                               rowLimit: Long = Long.MaxValue,
                               fragId: Long = 0L,
                               deletionPath: Option[String] = None,
                               numDeleted: Long = 0L,
                               extraFiles: Array[LanceFileSlice] = Array.empty,
                               rowIdSegs: Array[Byte] = null,
                               // physical row slice of the fragment this
                               // partition covers (sliceRows < 0 = whole
                               // fragment); see option("splitRows", n)
                               sliceStart: Long = 0L,
                               sliceRows: Long = -1L,
                               // set only when the scan reports
                               // KeyGroupedPartitioning: the fragment's
                               // partition values (codec strings) + types
                               partKeyVals: Array[String] = null,
                               partKeyTypes: Array[org.apache.spark.sql.types.DataType] = null)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {

  /** Grouping key for storage-partitioned joins; only consulted by Spark
    * when the scan reported KeyGroupedPartitioning (partKeyVals set). */
  override def partitionKey(): InternalRow = {
    require(partKeyVals != null,
      "lance: partitionKey() on a partition without partition values")
    val vs = new Array[Any](partKeyVals.length)
    var i = 0
    while (i < vs.length) {
      vs(i) = LanceFormat.PartValueCodec.toCatalyst(partKeyTypes(i), partKeyVals(i))
      i += 1
    }
    new GenericInternalRow(vs)
  }
}

class LanceScan(path: String, full: StructType, required: StructType,
                versionAsOf: Option[Long], limit: Option[Int] = None,
                zoneFilters: Seq[ZoneFilter] = Nil,
                fromVersion: Option[Long] = None,
                addrFilters: Seq[AddrFilter] = Nil,
                blobRefs: Set[String] = Set.empty,
                splitRows: Long = 0L,
                // the manifest at `versionAsOf`, when the caller already
                // read it (a driver-local read plans from it directly)
                preread: Option[LanceFormat.Manifest] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportOrdering {
  override def readSchema(): StructType = required

  /** Runtime (dynamic-pruning) zone filters, installed by Spark AFTER the
    * build side of a join materializes: the optimizer's PartitionPruning
    * rule sees `filterAttributes` on this scan, attaches an IN-subquery
    * over the join keys, and calls [[filter]] with the realized key set
    * before input partitions are planned. Fragments whose [min,max] stats
    * cannot contain any build-side key are never opened — at 100 TB this
    * is the difference between scanning the whole fact table and scanning
    * the few fragments a selective dim filter actually touches. Purely
    * additive pruning: the join re-evaluates the keys, so a conservative
    * (or absent) stat never affects correctness. */
  @volatile private var runtimeZoneFilters: Seq[ZoneFilter] = Nil

  private def allZoneFilters: Seq[ZoneFilter] = zoneFilters ++ runtimeZoneFilters

  /** Columns eligible for runtime pruning = projected top-level fields
    * whose type lands in the writer's fixed64 stat channel
    * (numeric/temporal values, string 8-byte prefixes). Restricted to the
    * READ schema — Spark resolves these against the column-pruned scan
    * output, and a join key is necessarily projected. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.types._
    required.fields.collect {
      case f if (f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType => true
        case _ => false
      }) => org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }
  }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimeZoneFilters = predicates.toSeq.flatMap(LanceScan.runtimeZone)
  }
  /** Test-visible view of what the runtime installed. */
  private[graft] def installedRuntimeFilters: Seq[ZoneFilter] = runtimeZoneFilters
  override def toBatch: Batch = this
  override def description(): String =
    s"LanceScan($path, columns=[${required.fieldNames.mkString(",")}]" +
      limit.map(n => s", limit=$n").getOrElse("") +
      fromVersion.map(v => s", fromVersion=$v").getOrElse("") +
      (if (zoneFilters.nonEmpty)
         s", zoneFilters=[${zoneFilters.map(f => s"${f.colName}${f.op}${if (f.isStr) "str" else f.value}").mkString(",")}]"
       else "") +
      (if (addrFilters.nonEmpty) s", addrFilters=${addrFilters.size}" else "") + ")"

  @transient private lazy val manifest0 = preread.getOrElse {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, versionAsOf))
  }

  /** Incremental batch read (`option("fromVersion", v)`): only fragments
    * appended AFTER version v remain — the batch-CDC face of the
    * streaming source's (start, end] version-range planning, with the
    * same append-only guard (a fragment-set shrink means overwrite or
    * compaction rewrote history, which cannot be tailed). */
  @transient private lazy val manifest: LanceFormat.Manifest = fromVersion match {
    case None => manifest0
    case Some(v) =>
      require(v <= manifest0.version,
        s"lance: fromVersion $v is newer than the read version ${manifest0.version}")
      val conf = SparkSession.active.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(path, conf)
      val baseIds =
        if (v == 0) Set.empty[Long]
        else LanceFormat.readManifest(fs,
          LanceFormat.latestManifestPath(fs, p, Some(v))).fragments.map(_.id).toSet
      val endIds = manifest0.fragments.map(_.id).toSet
      require(baseIds.subsetOf(endIds),
        s"lance: fragments ${baseIds.diff(endIds).toSeq.sorted.mkString(",")} " +
        s"disappeared after version $v — the dataset was overwritten or " +
        "compacted; incremental reads cannot continue across a rewrite")
      manifest0.copy(fragments =
        manifest0.fragments.filterNot(f => baseIds.contains(f.id)))
  }

  /** Value-partitioned layout → KeyGroupedPartitioning: every fragment of
    * a `partitionBy` write holds ONE combination of the partition columns'
    * values, so fragments ARE hash-free key groups. Reporting them lets
    * Spark run storage-partitioned joins (two lance datasets partitioned
    * on the same columns join with ZERO shuffle — the grouped fragments
    * zip pairwise) and partition-key aggregations without an exchange.
    * At 100 TB this removes the dominant fact⋈fact data movement
    * entirely; needs `spark.sql.sources.v2.bucketing.enabled=true`.
    *
    * Reported only when provably exact: every fragment carries values for
    * every partition column (an unpartitioned append or a compaction
    * clears this until a partitioned rewrite), all partition columns are
    * in the read schema (Spark resolves the identity transforms against
    * the scan output), and no LIMIT was pushed (limit trimming drops
    * whole key groups). */
  @transient private lazy val partReport
      : Option[(Array[org.apache.spark.sql.connector.expressions.Expression],
                Array[org.apache.spark.sql.types.DataType], Int)] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val cols = manifest.partitionCols
    val frs = manifest.fragments
    if (cols.isEmpty || frs.isEmpty || limit.isDefined) None
    else if (frs.exists(_.partValues.length != cols.length)) None
    else {
      // each entry: a plain column (identity transform, key = the value)
      // or "bucket(n,col)" (bucket transform, key = the bucket id; the
      // transform resolves against the lance catalog's `bucket` function,
      // so only catalog-resolved reads exploit it)
      val parsed = cols.map { spec =>
        (LanceBucket.parseSpec(spec), LanceDays.parseAny(spec)) match {
          case (Some((n, c)), _) if required.fieldNames.contains(c) =>
            Some((Expressions.bucket(n, c)
              : org.apache.spark.sql.connector.expressions.Expression,
              org.apache.spark.sql.types.IntegerType
              : org.apache.spark.sql.types.DataType))
          case (Some(_), _) => None
          // days(col): hidden date transform, key = epoch-day int; the
          // transform resolves against the lance catalog's `days` V2
          // function (catalog-resolved reads only, like bucket)
          case (None, Some((u, c))) if required.fieldNames.contains(c) &&
              LanceDays.supported(
                required.fields(required.fieldIndex(c)).dataType) =>
            val tf = u match {
              case "days" => Expressions.days(c)
              case "months" => Expressions.months(c)
              case "years" => Expressions.years(c)
            }
            Some((tf
              : org.apache.spark.sql.connector.expressions.Expression,
              org.apache.spark.sql.types.IntegerType
              : org.apache.spark.sql.types.DataType))
          case (None, Some(_)) => None
          case (None, None) if required.fieldNames.contains(spec) =>
            val t = required.fields(required.fieldIndex(spec)).dataType
            if (LanceFormat.PartValueCodec.supported(t))
              Some((Expressions.identity(spec)
                : org.apache.spark.sql.connector.expressions.Expression, t))
            else None
          case _ => None
        }
      }
      if (parsed.exists(_.isEmpty)) None
      else Some((parsed.flatten.map(_._1).toArray,
                 parsed.flatten.map(_._2).toArray,
                 frs.map(_.partValues).distinct.size))
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    partReport match {
      case Some((transforms, _, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          transforms, n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Sorted layout → per-partition SortOrder. Valid because `sortCols` is
    * a manifest-wide claim that EVERY fragment's rows are sorted by those
    * columns (cleared by any write that can't prove it), each fragment is
    * one input partition (splitRows off), and deletion masks preserve
    * order. Claimed on the longest projected prefix. When partitioning is
    * also reported, Spark may CONCATENATE same-key fragments into one
    * group — sortedness survives only if every key owns a single
    * fragment, so that is required. Combined with the partitioning
    * report, a join keyed on (partitionCols ++ sortCols) plans with no
    * exchange AND no sort. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val prefix = manifest.sortCols.takeWhile(required.fieldNames.contains)
    val groupingSafe = partReport.isEmpty ||
      manifest.fragments.map(_.partValues).distinct.size == manifest.fragments.size
    if (prefix.isEmpty || limit.isDefined || splitRows > 0 || !groupingSafe)
      Array.empty
    else prefix.map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING)).toArray
  }

  /** Row count + size from the manifest — feeds the cost model so e.g.
    * joins against small lance dims get planned as broadcasts. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = manifest.fragments.map(_.liveRows).sum
    private val bytes = {
      val listed = manifest.fragments.flatMap(_.files).map(_.fileSizeBytes).sum
      if (listed > 0) listed else rows * 64 // fallback guess when absent
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // fragment-level pruning from manifest stats: a fragment whose recorded
    // [min,max] cannot satisfy every numeric zone filter is never planned —
    // its file is never even opened (fragments without stats are kept)
    val byName = manifest.fields.filter(_.parentId == -1).map(f => f.name -> f.id).toMap
    val resolved = allZoneFilters.flatMap(z => byName.get(z.colName).map(fid => (fid, z)))
    def fragMayMatch(frag: LanceFormat.FragmentMeta): Boolean =
      resolved.forall { case (fid, z) =>
        frag.stats.find(_._1 == fid) match {
          // string columns store their 8-byte prefixes as double bit
          // patterns in the same fixed64 stat channel
          case Some((_, mn, mx)) if z.isStr =>
            z.mayMatchStr(java.lang.Double.doubleToRawLongBits(mn),
                          java.lang.Double.doubleToRawLongBits(mx))
          case Some((_, mn, mx)) => z.mayMatch(mn, mx)
          case None => true
        }
      }
    // take path: a fragment owns addresses [id << 32, id << 32 + physRows)
    def addrMayMatch(frag: LanceFormat.FragmentMeta): Boolean =
      addrFilters.forall(_.mayMatch(frag.id << 32, frag.physicalRows))
    val keyed = partReport // fragment partition keys, when reported
    val all = manifest.fragments.filter(f => fragMayMatch(f) && addrMayMatch(f)).map { frag =>
      val delPath = frag.deletion.map(d =>
        new Path(new Path(path, "_deletions"), d.fileName(frag.id)).toString)
      // a fragment is ONE partition; additional data files are column
      // slices of the same rows (crate merge/add_columns), not more rows
      val head = frag.files.head
      val extras = frag.files.tail.map(f => LanceFileSlice(
        new Path(new Path(path, "data"), f.path).toString,
        f.fieldIds.toArray, f.columnIndices.toArray)).toArray
      // the `_rowid` projection ships the fragment's row-id sequence
      // (manifest-resident segments — metadata bytes, not data)
      val segs =
        if (!required.fieldNames.contains("_rowid")) null
        else LanceFormat.encodeRowIds(frag.rowIds.getOrElse(
          throw new IllegalStateException(
            s"lance: fragment ${frag.id} of $path has no row-id sequence — " +
              "the dataset was not written with stableRowIds")))
      LanceInputPartition(
        new Path(new Path(path, "data"), head.path).toString,
        head.fieldIds.toArray, head.columnIndices.toArray, frag.physicalRows,
        fragId = frag.id, deletionPath = delPath,
        numDeleted = frag.deletion.map(_.numDeleted).getOrElse(0L),
        extraFiles = extras, rowIdSegs = segs,
        partKeyVals = keyed.map(_ => frag.partValues.toArray).orNull,
        partKeyTypes = keyed.map(_._2).orNull)
    }
    limit match {
      case None if splitRows > 0 =>
        // fragment splitting (`option("splitRows", n)`): a fragment bigger
        // than n physical rows fans out over ceil(rows/n) tasks instead of
        // one — the read-side parallelism story for datasets whose WRITER
        // cut huge fragments (a 10 GB crate-written fragment should not be
        // one task on a 1000-executor cluster). Slices address PHYSICAL
        // rows, so `_rowaddr`, deletion masks, and row-id segments stay
        // exact; readers clip boundary pages. Not combined with a pushed
        // LIMIT (whole-fragment trimming is already minimal there).
        all.flatMap { p =>
          if (p.numRows <= splitRows) Seq(p)
          else (0L until p.numRows by splitRows).map(lo =>
            p.copy(sliceStart = lo, sliceRows = math.min(splitRows, p.numRows - lo)))
        }.toArray
      case None => all.toArray
      case Some(n) =>
        // keep fragments until the cumulative LIVE row count covers the limit
        val out = Array.newBuilder[InputPartition]
        var remaining = n.toLong
        val it = all.iterator
        while (remaining > 0 && it.hasNext) {
          val p = it.next()
          out += p.copy(rowLimit = remaining)
          remaining -= (p.numRows - p.numDeleted)
        }
        out.result()
    }
  }

  /** Required column names -> ColSpec field trees (minus `_rowaddr`).
    * Struct kids follow the REQUIRED (possibly nested-pruned) type: a
    * subfield Spark pruned away gets no spec, so its physical column's
    * byte ranges are never read. */
  private def requiredSpecs: Array[ColSpec] = {
    val byName = manifest.fields.filter(_.parentId == -1).map(f => f.name -> f).toMap
    def specOf(f: LanceFormat.LanceField,
               want: Option[org.apache.spark.sql.types.DataType]): ColSpec = {
      // maps normalize to [key, value] kids whichever spelling the writer
      // used (direct children vs Arrow's intermediate entries struct);
      // the physical column layout is identical either way
      val kids =
        if (f.logicalType == "map") {
          val (k, v) = LanceFormat.mapKeyValue(manifest, f)
          Array(specOf(k, None), specOf(v, None))
        } else {
          val all = manifest.fields.filter(_.parentId == f.id)
          want match {
            case Some(st: org.apache.spark.sql.types.StructType)
                if f.logicalType == "struct" =>
              // nested pruning: manifest order, required subfields only,
              // recursing with each subfield's requested type
              all.filter(c => st.fieldNames.contains(c.name))
                .map(c => specOf(c, Some(st(c.name).dataType))).toArray
            case _ => all.map(specOf(_, None)).toArray
          }
        }
      // blob-ref projection: same physical column, refs-only decode
      val lt =
        if (blobRefs.contains(f.name) && f.parentId == -1 &&
            (f.logicalType == "binary" || f.logicalType == "large_binary"))
          "blobref"
        else f.logicalType
      ColSpec(f.id, lt, f.name, kids)
    }
    required.fields.filterNot(f => f.name == "_rowaddr" || f.name == "_rowid")
      .map(f => specOf(byName(f.name), Some(f.dataType)))
  }

  /** Streaming source: tail appended versions as micro-batches. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LanceMicroBatchStream(path, requiredSpecs, checkpointLocation)

  override def createReaderFactory(): PartitionReaderFactory = {
    val byName = manifest.fields.filter(_.parentId == -1).map(f => f.name -> f).toMap
    // `_rowaddr`/`_rowid` are synthetic (no physical column): readers
    // weave them in
    val rowAddrPos = required.fieldNames.indexOf("_rowaddr")
    val rowIdPos = required.fieldNames.indexOf("_rowid")
    val cols = requiredSpecs
    // zone filters resolved to field ids (unknown columns dropped);
    // includes any runtime (DPP) filters — BatchScanExec applies runtime
    // filters before building the reader factory, so page-level zone
    // pruning sees them too (and an earlier-built factory just prunes less)
    val zf = allZoneFilters.flatMap(z => byName.get(z.colName).map(f => (f.id, z)))
    // the session's Hadoop conf reaches executors as one broadcast per
    // session (see SessionConf), not a copy inside every task binary
    val conf = SessionConf.broadcast(SparkSession.active)
    // Spark requires every partition of a scan to agree on columnar vs
    // row-based — one deleted fragment (or one fragment predating an added
    // column, which the row reader null-fills) forces the scan row-based
    val anyDeletions = manifest.fragments.exists(_.deletion.isDefined)
    def physIds(s: ColSpec): Seq[Int] = s.logicalType match {
      case "struct" => s.kids.toSeq.flatMap(physIds)
      case "list" | "large_list" | "map" => s.fieldId +: s.kids.toSeq.flatMap(physIds)
      case _ => Seq(s.fieldId)
    }
    val needed = cols.toSeq.flatMap(physIds).toSet
    val anyMissing = manifest.fragments.exists { fr =>
      val have = fr.files.flatMap(_.fieldIds).toSet
      needed.exists(id => !have.contains(id))
    }
    // sliced partitions clip boundary pages — the row reader handles that;
    // Spark requires all partitions of a scan to agree row-vs-columnar
    val anySplit = limit.isEmpty && splitRows > 0 &&
      manifest.fragments.exists(_.physicalRows > splitRows)
    new LanceReaderFactory(cols.toArray, conf, zf, rowAddrPos,
      anyDeletions || anyMissing || anySplit, addrFilters, rowIdPos)
  }
}

object LanceScan {
  import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.types._

  /** Above this many build-side keys the per-fragment IN check would cost
    * more than it saves — collapse to a [min,max] range pair instead. */
  private val InListCap = 4096

  /** Translate a runtime V2 predicate (`IN(col, v1..vn)` / `=(col, v)`,
    * the shapes Spark's runtime-filter translation emits) into zone
    * filters. V2 literals carry CATALYST-internal values (UTF8String,
    * days-int for dates, micros-long for timestamps) — the same units the
    * writer's stat channel records, so no re-encoding beyond widening. */
  private[lance] def runtimeZone(p: Predicate): Seq[ZoneFilter] = {
    val kids = p.children()
    if ((p.name() != "IN" && p.name() != "=") || kids.length < 2) return Nil
    val col = kids(0) match {
      case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      case _ => return Nil
    }
    val lits = kids.drop(1)
    if (!lits.forall(_.isInstanceOf[V2Literal[_]])) return Nil
    val typed = lits.map(_.asInstanceOf[V2Literal[_]])
    def num(l: V2Literal[_]): Option[Double] = (l.dataType(), l.value()) match {
      case (_, null) => None
      case (_: NumericType, v: java.math.BigDecimal) => Some(v.doubleValue())
      case (_: NumericType, v: org.apache.spark.sql.types.Decimal) => Some(v.toDouble)
      case (_: NumericType | DateType | TimestampType | TimestampNTZType, v: Number) =>
        Some(v.doubleValue())
      case _ => None
    }
    def strPrefix(l: V2Literal[_]): Option[Long] = (l.dataType(), l.value()) match {
      case (StringType, v) if v != null =>
        Some(ZoneFilter.prefixLong(v.toString.getBytes("UTF-8")))
      case _ => None
    }
    val nums = typed.flatMap(num)
    val strs = typed.flatMap(strPrefix)
    if (nums.length == typed.length) {
      if (nums.length <= InListCap) Seq(ZoneFilter(col, "in", 0.0, values = nums.toSeq))
      else Seq(ZoneFilter(col, ">=", nums.min), ZoneFilter(col, "<=", nums.max))
    } else if (strs.length == typed.length) {
      import java.lang.Long.compareUnsigned
      if (strs.length <= InListCap)
        Seq(ZoneFilter(col, "in", 0.0, isStr = true, strPrefixes = strs.toSeq))
      else {
        val mn = strs.reduce((a, b) => if (compareUnsigned(a, b) <= 0) a else b)
        val mx = strs.reduce((a, b) => if (compareUnsigned(a, b) >= 0) a else b)
        Seq(ZoneFilter(col, ">=", 0.0, mn, isStr = true),
            ZoneFilter(col, "<=", 0.0, mx, isStr = true))
      }
    } else Nil
  }
}

/** One required output column as a recursive field tree: kids present for
  * list/struct/map fields (struct kids may nest one more struct level;
  * list kids may be a struct; map kids are [key, value]). */
case class ColSpec(fieldId: Int, logicalType: String, name: String = "",
                   kids: Array[ColSpec] = Array.empty)
    extends Serializable

object ColSpec {
  /** Spark type of a spec tree (mirrors LanceFormat.toStructType). */
  def sparkTypeOf(cs: ColSpec): org.apache.spark.sql.types.DataType =
    cs.logicalType match {
      case "struct" =>
        StructType(cs.kids.map(k =>
          org.apache.spark.sql.types.StructField(k.name, sparkTypeOf(k))))
      case "list" | "large_list" =>
        org.apache.spark.sql.types.ArrayType(sparkTypeOf(cs.kids.head),
          containsNull = false)
      case "map" =>
        org.apache.spark.sql.types.MapType(sparkTypeOf(cs.kids(0)),
          sparkTypeOf(cs.kids(1)), valueContainsNull = true)
      case "blobref" => graft.operators.Blobs.refType
      case t => LanceFormat.toSparkType(t)
    }
}

class LanceReaderFactory(colSpecs: Array[ColSpec],
                         conf: Broadcast[SerializableConfiguration],
                         zf: Seq[(Int, ZoneFilter)] = Nil,
                         rowAddrPos: Int = -1,
                         anyDeletions: Boolean = false,
                         addrFilters: Seq[AddrFilter] = Nil,
                         rowIdPos: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LanceInputPartition]
    new LancePartitionReader(p, colSpecs, zf, conf.value.value, rowAddrPos, addrFilters,
                             rowIdPos)
  }

  /** Columnar path: scalar projections, list-of-numeric columns (the
    * embedding scan shape — child values bulk-decoded into the array child
    * vector), and struct columns (leaves decode into child vectors).
    * Lists of strings, datasets with deletion vectors, and `_rowaddr`
    * projections fall back to the row reader (the choice is scan-wide:
    * Spark rejects mixed row/columnar partitions). */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    rowAddrPos < 0 && rowIdPos < 0 && !anyDeletions &&
    colSpecs.forall { cs =>
      (cs.kids.isEmpty && cs.logicalType != "blobref") ||
        (cs.logicalType == "struct" && cs.kids.forall(_.kids.isEmpty)) ||
        ((cs.logicalType == "list" || cs.logicalType == "large_list") &&
          cs.kids.head.kids.isEmpty &&
          Set("float", "double", "int32", "int64")(cs.kids.head.logicalType))
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[LanceInputPartition]
    new LanceColumnarReader(p, colSpecs, zf, conf.value.value)
  }
}

/** One page's metadata: buffer layout, row count, numeric zone map,
  * optional string zone map (8-byte big-endian min/max prefixes), and the
  * dictionary-encoding marker (page proto tag 14). */
private[lance] final case class PMeta(offs: Seq[Long], sizes: Seq[Long],
                                      rows: Long, mn: Double, mx: Double,
                                      sMin: Long = 0L, sMax: Long = 0L,
                                      hasStr: Boolean = false,
                                      dictEnc: Boolean = false,
                                      enc: LanceEncodings.PageEnc = LanceEncodings.NativeShape,
                                      codec: Int = 0, rawSizes: Seq[Long] = Nil)

/** Page-granular fragment access: footer + column-metadata parse once, then
  * lazy ranged reads of individual page buffers. Readers iterate
  * [[pagePlan]] (zone-masked, limit-capped page indices) and decode ONE
  * page at a time — a 1 GB fragment never materializes whole in a task;
  * resident memory is one page set (writer default 64Ki rows) per column.
  *
  * Page indices are aligned across columns (the writer flushes all columns
  * together; list child pages are written 1:1 with their offsets pages).
  * Files violating that (foreign writers) are detected via per-page row
  * counts and fall back to whole-column decode ([[aligned]] = false).
  */
private[lance] final class FragmentPages(part: LanceInputPartition,
                                         colSpecs: Array[ColSpec],
                                         zoneFilters: Seq[(Int, ZoneFilter)],
                                         conf: Configuration,
                                         addrFilters: Seq[AddrFilter] = Nil)
    extends AutoCloseable {
  /** One open data file of the fragment (the primary file, or a column
    * slice added by a column merge): lazy footer + column-meta-offset
    * table, ranged reads. */
  private final class SliceHandle(val path: String, val fieldIds: Array[Int],
                                  val columnIndices: Array[Int]) {
    private val (fs, p) = LanceFormat.fileSystem(path, conf)
    private val fileLen = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    def readRange(off: Long, len: Int): Array[Byte] = {
      LanceDataSource.bytesRead.add(len)
      val b = new Array[Byte](len); in.readFully(off, b); b
    }
    private val footer = readRange(fileLen - 40, 40)
    private val footerBB =
      java.nio.ByteBuffer.wrap(footer).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(footer(36) == 'L' && footer(39) == 'C', s"bad lance magic in $path")
    val cmoBB = java.nio.ByteBuffer.wrap(
      readRange(footerBB.getLong(8), footerBB.getInt(28) * 16))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
  }

  private val primary =
    new SliceHandle(part.dataFilePath, part.fieldIds, part.columnIndices)
  // extra column-slice files open lazily — a scan projecting none of a
  // slice's columns never touches its file
  private val extraHandles = new Array[SliceHandle](part.extraFiles.length)
  private def extraHandle(i: Int): SliceHandle = {
    if (extraHandles(i) == null) {
      val s = part.extraFiles(i)
      extraHandles(i) = new SliceHandle(s.path, s.fieldIds, s.columnIndices)
    }
    extraHandles(i)
  }
  /** The file owning `fieldId`, or null if no file of this fragment
    * carries it (column added after the fragment was written). */
  private def handleOf(fieldId: Int): SliceHandle =
    if (part.fieldIds.contains(fieldId)) primary
    else {
      val i = part.extraFiles.indexWhere(_.fieldIds.contains(fieldId))
      if (i < 0) null else extraHandle(i)
    }

  private val metaCache = scala.collection.mutable.HashMap.empty[Int, IndexedSeq[PMeta]]

  /** Deleted row offsets of this fragment (deletion_file BITMAP = roaring
    * `.bin`, or ARROW_ARRAY `.arrow` via the Arrow Java reader). */
  private val deletedRows: Option[java.util.BitSet] =
    part.deletionPath.map(DeletionFiles.read(_, conf))
  def hasDeletions: Boolean = deletedRows.isDefined
  def isDeleted(physRow: Long): Boolean =
    deletedRows.exists(_.get(physRow.toInt))

  /** Parsed page metas of a column (cached; one ranged read per column). */
  def pageMetasOf(fieldId: Int): IndexedSeq[PMeta] = metaCache.getOrElseUpdate(fieldId, {
    val h = handleOf(fieldId)
    require(h != null, s"field id $fieldId not in fragment ${part.dataFilePath}")
    val fi = h.fieldIds.indexOf(fieldId)
    val colIdx = h.columnIndices(fi)
    val cmoBB = h.cmoBB
    val metaBytes = h.readRange(cmoBB.getLong(colIdx * 16), cmoBB.getLong(colIdx * 16 + 8).toInt)
    val fsMeta = Proto.parse(metaBytes)
    Proto.all(fsMeta, 2).map { pg =>
      val pf = Proto.parse(pg.bytes)
      val mn = pf.find(f => f.tag == 10 && f.wire == 1)
        .map(f => java.lang.Double.longBitsToDouble(f.varint)).getOrElse(Double.NaN)
      val mx = pf.find(f => f.tag == 11 && f.wire == 1)
        .map(f => java.lang.Double.longBitsToDouble(f.varint)).getOrElse(Double.NaN)
      val sMin = pf.find(f => f.tag == 12 && f.wire == 1).map(_.varint)
      val sMax = pf.find(f => f.tag == 13 && f.wire == 1).map(_.varint)
      val dictPage = Proto.firstVarint(pf, 14).contains(1L)
      val codec = Proto.firstVarint(pf, 15).getOrElse(0L).toInt
      PMeta(Proto.packedVarints(pf, 1), Proto.packedVarints(pf, 2),
            Proto.firstVarint(pf, 3).getOrElse(0L), mn, mx,
            sMin.getOrElse(0L), sMax.getOrElse(0L),
            hasStr = sMin.isDefined && sMax.isDefined,
            dictEnc = dictPage,
            // our own dict marker wins; otherwise the page's encoding proto
            // decides foreign (bitpacked/dictionary/miniblock/…) vs native
            enc = if (dictPage || codec != 0) LanceEncodings.NativeShape
                  else LanceEncodings.parsePage(pf),
            codec = codec,
            rawSizes = if (codec != 0) Proto.packedVarints(pf, 16) else Nil)
    }.toIndexedSeq
  })

  /** Is this field id physically present in the fragment? (A fragment
    * written before an addColumn lacks the new ids — reads null-fill.) */
  private def present(id: Int): Boolean = handleOf(id) != null

  /** Columns whose page row counts equal the output row count (scalars,
    * struct leaves at any depth, list/map offset columns — NOT element
    * value columns). */
  private def rowAlignedOf(s: ColSpec): Array[Int] = s.logicalType match {
    case "struct" => s.kids.flatMap(rowAlignedOf)
    case _ => Array(s.fieldId) // scalar / fsl / list / map (offsets)
  }
  private val rowAlignedIds: Array[Int] =
    colSpecs.flatMap(rowAlignedOf).filter(present)

  /** Every field id owning a physical column in the spec tree. */
  private def physIdsOf(s: ColSpec): Array[Int] = s.logicalType match {
    case "struct" => s.kids.flatMap(physIdsOf)
    case "list" | "large_list" | "map" => s.fieldId +: s.kids.flatMap(physIdsOf)
    case _ => Array(s.fieldId)
  }

  /** True iff all projected (and present) columns share page boundaries. */
  val aligned: Boolean = rowAlignedIds.isEmpty || {
    val rowCounts = rowAlignedIds.map(id => pageMetasOf(id).map(_.rows))
    rowCounts.forall(_ == rowCounts.head) && {
      val nPages = rowCounts.head.length
      colSpecs.flatMap(physIdsOf).filter(present)
        .forall(id => pageMetasOf(id).length == nPages)
    }
  }

  private val nPages: Int =
    if (rowAlignedIds.isEmpty) 0 else pageMetasOf(rowAlignedIds.head).length

  /** Zone-map page mask: page survives iff every filter may match it
    * (numeric [min,max] or string prefix stats; pages without the relevant
    * stats are never pruned). */
  private val keep: Array[Boolean] = {
    val base = Array.fill(nPages)(true)
    // take path: a page at physical rows [cum, cum + rows) owns addresses
    // [fragStart + cum, ...) — pages outside every pushed address range
    // are never read (a point lookup decodes ONE page of the fragment)
    if (aligned && addrFilters.nonEmpty && nPages > 0) {
      val metas = pageMetasOf(rowAlignedIds.head)
      val fragStart = part.fragId << 32
      var cum = 0L
      var i = 0
      while (i < nPages) {
        if (!addrFilters.forall(_.mayMatch(fragStart + cum, metas(i).rows)))
          base(i) = false
        cum += metas(i).rows
        i += 1
      }
    }
    // zone filters on columns this fragment predates can't prune (the
    // column reads all-null here)
    if (aligned) zoneFilters.withFilter(f => present(f._1)).foreach { case (fid, z) =>
      val metas = pageMetasOf(fid)
      if (metas.length == nPages) {
        var i = 0
        while (i < nPages) {
          val m = metas(i)
          val may =
            if (z.isStr) !m.hasStr || z.mayMatchStr(m.sMin, m.sMax)
            else m.mn.isNaN || m.mx.isNaN || z.mayMatch(m.mn, m.mx)
          if (!may) base(i) = false
          i += 1
        }
      }
    }
    base
  }

  /** Physical start row of each page (cumulative rows, counting pruned
    * pages too — deletion offsets and `_rowaddr` are physical). */
  lazy val pageStarts: Array[Long] = {
    if (rowAlignedIds.isEmpty) Array(0L) // synthetic single page
    else {
      val metas = pageMetasOf(rowAlignedIds.head)
      val arr = new Array[Long](metas.length)
      var cum = 0L
      var i = 0
      while (i < metas.length) { arr(i) = cum; cum += metas(i).rows; i += 1 }
      arr
    }
  }

  /** (pageIdx, rowsToTake) for surviving pages, capped by the pushed limit.
    * An empty projection (count(*) scans) has no columns to page over —
    * emit the fragment's LIVE row count as one synthetic page. With
    * deletions, pages decode whole (masking happens per row in the
    * reader); the limit counts live rows and the reader re-applies it. */
  /** Physical row slice this partition covers (whole fragment unless a
    * `splitRows` scan split it). */
  val sliceLo: Long = part.sliceStart
  val sliceHi: Long =
    if (part.sliceRows < 0) part.numRows
    else math.min(part.numRows, part.sliceStart + part.sliceRows)
  private val sliced = part.sliceRows >= 0

  /** Plan entries are (pageIdx, skipRowsInPage, takeRows): a sliced
    * partition clips its boundary pages (decode skip+take rows, emit the
    * tail `take`); unsliced scans always have skip 0. */
  val pagePlan: Array[(Int, Int, Int)] = if (rowAlignedIds.isEmpty) {
    if (hasDeletions && colSpecs.nonEmpty) {
      // every projected column postdates this fragment (null-fill): emit
      // physical rows so the reader's deletion mask indexes correctly
      Array((0, sliceLo.toInt, (sliceHi - sliceLo).toInt))
    } else if (sliced) {
      // synthetic count page over a slice: live rows within [lo, hi)
      val dead =
        if (!hasDeletions) 0L
        else deletedRows.get.get(sliceLo.toInt, sliceHi.toInt).cardinality().toLong
      Array((0, 0, (sliceHi - sliceLo - dead).toInt))
    } else {
      val live = part.numRows - part.numDeleted
      Array((0, 0, math.min(live, part.rowLimit).toInt))
    }
  } else {
    val out = Array.newBuilder[(Int, Int, Int)]
    var remaining = part.rowLimit
    var i = 0
    while (i < nPages && remaining > 0) {
      val metas = pageMetasOf(rowAlignedIds.head)
      val pStart = pageStarts(i)
      val pRows = metas(i).rows
      val ovLo = math.max(pStart, sliceLo)
      val ovHi = math.min(pStart + pRows, sliceHi)
      if (keep(i) && ovLo < ovHi) {
        if (hasDeletions || sliced) {
          val skip = (ovLo - pStart).toInt
          val take = (ovHi - ovLo).toInt
          out += ((i, skip, take))
          if (hasDeletions) {
            val dead = deletedRows.get.get(ovLo.toInt, ovHi.toInt).cardinality()
            remaining -= (take - dead)
          } else remaining -= take
        } else {
          val take = math.min(pRows, remaining).toInt
          out += ((i, 0, take))
          remaining -= take
        }
      }
      i += 1
    }
    out.result()
  }

  /** Raw buffers of one page (lazy ranged reads, routed to the owning
    * file slice). */
  def readPageBufs(fieldId: Int, pageIdx: Int): Seq[Array[Byte]] = {
    val m = pageMetasOf(fieldId)(pageIdx)
    val h = handleOf(fieldId)
    val raw = m.offs.zip(m.sizes).map { case (o, s) => h.readRange(o, s.toInt) }
    if (m.codec == 0) raw
    else {
      require(m.rawSizes.length == raw.length,
        s"lance: compressed page carries ${m.rawSizes.length} raw sizes for ${raw.length} buffers")
      raw.zip(m.rawSizes).map { case (b, rs) =>
        LanceCodec.decompress(m.codec, b, rs.toInt)
      }
    }
  }

  /** Boxed decode of the first `rows` rows of one page of `spec`
    * (row-reader path; recursive: struct assembly at any supported depth,
    * list/map reconstruction from offsets + element columns). */
  def decodeBoxedPage(spec: ColSpec, pageIdx: Int, rows: Int): Array[Any] = {
    spec.logicalType match {
      case lt if lt != "struct" && !present(spec.fieldId) =>
        new Array[Any](rows) // column added after this fragment: all null
      case "struct" =>
        val leafVals = spec.kids.map(k => decodeBoxedPage(k, pageIdx, rows))
        val out = new Array[Any](rows)
        var i = 0
        while (i < rows) {
          val vals = new Array[Any](leafVals.length)
          var j = 0
          while (j < leafVals.length) { vals(j) = leafVals(j)(i); j += 1 }
          out(i) = new GenericInternalRow(vals)
          i += 1
        }
        out
      case "list" | "large_list" | "map"
          if (pageMetasOf(spec.fieldId)(pageIdx).enc match {
            case fz: LanceEncodings.FullZipPage => fz.hasRep
            case _ => false
          }) =>
        // 2.1 structural encoding: the whole list rides ONE zipped page of
        // the list field (rep/def levels + leaf values); no child column
        require(spec.logicalType != "map",
          "lance: full-zip rep-level map pages are unsupported")
        val fz = pageMetasOf(spec.fieldId)(pageIdx).enc
          .asInstanceOf[LanceEncodings.FullZipPage]
        LanceEncodings.decodeFullZipRep(spec.kids(0).logicalType, fz,
          readPageBufs(spec.fieldId, pageIdx), rows)
      case "list" | "large_list" | "map" =>
        val offBufs = readPageBufs(spec.fieldId, pageIdx)
        val (validity, offs) =
          if (offBufs.length == 2) (Some(offBufs(0)), offBufs(1))
          else (None, offBufs.head)
        val offBB = java.nio.ByteBuffer.wrap(offs).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val totalVals = if (rows == 0) 0 else offBB.getLong((rows - 1) * 8).toInt
        val isMap = spec.logicalType == "map"
        val elems = decodeBoxedPage(spec.kids(0), pageIdx, totalVals)
        val vals = if (isMap) decodeBoxedPage(spec.kids(1), pageIdx, totalVals) else null
        val out = new Array[Any](rows)
        var prev = 0
        var i = 0
        while (i < rows) {
          val end = offBB.getLong(i * 8).toInt
          val isNull = validity.exists(vb => ((vb(i >> 3) >> (i & 7)) & 1) == 0)
          out(i) =
            if (isNull) null
            else if (isMap)
              new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  java.util.Arrays.copyOfRange(elems.asInstanceOf[Array[AnyRef]], prev, end)),
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  java.util.Arrays.copyOfRange(vals.asInstanceOf[Array[AnyRef]], prev, end)))
            else new org.apache.spark.sql.catalyst.util.GenericArrayData(
              java.util.Arrays.copyOfRange(elems.asInstanceOf[Array[AnyRef]], prev, end))
          prev = end
          i += 1
        }
        out
      case "blobref" =>
        // refs-only decode: read the validity + offsets buffers, NEVER the
        // bytes buffer — each row becomes (file path, absolute byte
        // position, length), an externally-resolvable range in a stable
        // data file (graft.operators.Blobs.fetch; lance blob API analogue)
        val m = pageMetasOf(spec.fieldId)(pageIdx)
        require(!m.dictEnc && m.codec == 0 && !m.enc.foreign,
          "lance: blobRefs requires plain uncompressed binary pages (this " +
          "page is " + (if (m.dictEnc) "dictionary-encoded"
            else if (m.codec != 0) "page-compressed"
            else "foreign-encoded") + ") — read the column without blobRefs")
        val nBufs = m.offs.length
        require(nBufs == 2 || nBufs == 3,
          s"lance: blobref page expects 2-3 buffers, got $nBufs")
        val h = handleOf(spec.fieldId)
        val pathStr = org.apache.spark.unsafe.types.UTF8String.fromString(h.path)
        val validity =
          if (nBufs == 3) Some(h.readRange(m.offs(0), m.sizes(0).toInt)) else None
        val offIdx = nBufs - 2
        val offs = h.readRange(m.offs(offIdx), m.sizes(offIdx).toInt)
        val bytesPos = m.offs(nBufs - 1)
        val bb = java.nio.ByteBuffer.wrap(offs).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val out = new Array[Any](rows)
        var prev = 0L
        var i = 0
        while (i < rows) {
          val end = bb.getLong(i * 8)
          val isNull = validity.exists(vb => ((vb(i >> 3) >> (i & 7)) & 1) == 0)
          out(i) =
            if (isNull) null
            else new GenericInternalRow(Array[Any](pathStr, bytesPos + prev, end - prev))
          prev = end
          i += 1
        }
        out
      case _ =>
        val m = pageMetasOf(spec.fieldId)(pageIdx)
        if (m.enc.foreign)
          LanceEncodings.decodeForeign(spec.logicalType, m.enc,
            readPageBufs(spec.fieldId, pageIdx), rows)
        else
          LanceColumnDecoder.decode(spec.logicalType,
            Seq((readPageBufs(spec.fieldId, pageIdx), rows.toLong, m.dictEnc)), rows)
    }
  }

  /** Fallback for foreign files with misaligned pages: decode every page of
    * every column (old whole-fragment behavior — correctness over memory). */
  def decodeAllFallback(): (Array[Array[Any]], Int) = {
    // with deletions the reader masks and limits on live rows — decode all
    val numRows = if (hasDeletions) part.numRows.toInt
                  else math.min(part.numRows, part.rowLimit).toInt
    // first physically-present row-aligned id of the spec tree (absent for
    // columns added after this fragment was written -> all-null fill)
    def pacerId(s: ColSpec): Option[Int] = s.logicalType match {
      case "struct" => s.kids.iterator.map(pacerId).collectFirst { case Some(id) => id }
      case _ => if (present(s.fieldId)) Some(s.fieldId) else None
    }
    val colValues = colSpecs.map { spec =>
      if (pacerId(spec).isEmpty) {
        new Array[Any](numRows)
      } else if (spec.kids.nonEmpty || spec.logicalType == "blobref") {
        // per-column page walk (struct leaves / list offsets share row
        // counts; struct parents own no physical column — use a leaf's)
        val metas = pageMetasOf(pacerId(spec).get)
        val out = Array.newBuilder[Any]
        var cum = 0L
        var pi = 0
        while (pi < metas.length && cum < numRows) {
          val take = math.min(metas(pi).rows, numRows - cum).toInt
          out ++= decodeBoxedPage(spec, pi, take)
          cum += take
          pi += 1
        }
        out.result()
      } else {
        val metas = pageMetasOf(spec.fieldId)
        val out = Array.newBuilder[Any]
        var cum = 0L
        var pi = 0
        while (pi < metas.length && cum < numRows) {
          val take = math.min(metas(pi).rows, numRows - cum).toInt
          val bufs = readPageBufs(spec.fieldId, pi)
          out ++= (if (metas(pi).enc.foreign)
            LanceEncodings.decodeForeign(spec.logicalType, metas(pi).enc, bufs, take)
          else
            LanceColumnDecoder.decode(spec.logicalType,
              Seq((bufs, take.toLong, metas(pi).dictEnc)), take))
          cum += take
          pi += 1
        }
        out.result()
      }
    }
    (colValues, colValues.headOption.map(_.length).getOrElse(numRows))
  }

  override def close(): Unit = {
    primary.in.close()
    extraHandles.foreach(h => if (h != null) h.in.close())
  }
}

/** Columnar reader: one ColumnarBatch PER PAGE, decoded straight into
  * OnHeapColumnVectors ([[LanceVectorDecoder]] — no boxed intermediates). */
class LanceColumnarReader(part: LanceInputPartition, colSpecs: Array[ColSpec],
                          zoneFilters: Seq[(Int, ZoneFilter)],
                          conf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val pages = new FragmentPages(part, colSpecs, zoneFilters, conf)
  private val schema = StructType(colSpecs.zipWithIndex.map { case (cs, i) =>
    org.apache.spark.sql.types.StructField(s"c$i", ColSpec.sparkTypeOf(cs))
  })
  private var planIdx = 0
  private var fallbackDone = false
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    if (!pages.aligned) return nextFallback()
    if (planIdx >= pages.pagePlan.length) return false
    val (pi, skip, rows) = pages.pagePlan(planIdx)
    // sliced partitions force the row-based reader at the factory level
    require(skip == 0, "lance: columnar reader cannot serve a sliced partition")
    planIdx += 1
    val vectors = OnHeapColumnVector.allocateColumns(rows, schema)
    var c = 0
    while (c < colSpecs.length) {
      val spec = colSpecs(c)
      if (spec.logicalType == "struct")
        // columnar structs are flat (supportColumnarReads gate): kids are
        // scalar leaves, one page each
        LanceVectorDecoder.decodeStructPage(spec.kids.map(_.logicalType),
          spec.kids.map(k => pages.readPageBufs(k.fieldId, pi)),
          spec.kids.map(k => pages.pageMetasOf(k.fieldId)(pi).dictEnc),
          rows, vectors(c))
      else if (spec.kids.nonEmpty)
        LanceVectorDecoder.decodeListPage(spec.kids.head.logicalType,
          pages.readPageBufs(spec.fieldId, pi),
          pages.readPageBufs(spec.kids.head.fieldId, pi), rows, vectors(c))
      else {
        val m = pages.pageMetasOf(spec.fieldId)(pi)
        if (m.enc.foreign) {
          // foreign encodings (bitpacked/dictionary/miniblock): boxed
          // decode, then a generic vector fill — only foreign files pay it
          val vals = LanceEncodings.decodeForeign(spec.logicalType, m.enc,
            pages.readPageBufs(spec.fieldId, pi), rows)
          val dt = schema.fields(c).dataType
          var childOff = 0
          var i = 0
          while (i < rows) {
            if (vals(i) == null) vectors(c).putNull(i)
            else dt match {
              case org.apache.spark.sql.types.ArrayType(et, _) =>
                val arr = vals(i).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
                val n = arr.numElements()
                val child = vectors(c).getChild(0)
                child.reserve(childOff + n)
                var j = 0
                while (j < n) { putBoxed(child, childOff + j, et, arr.get(j, et)); j += 1 }
                vectors(c).putArray(i, childOff, n)
                childOff += n
              case other => putBoxed(vectors(c), i, other, vals(i))
            }
            i += 1
          }
        } else
          LanceVectorDecoder.decodePage(spec.logicalType,
            pages.readPageBufs(spec.fieldId, pi), rows, vectors(c), m.dictEnc)
      }
      c += 1
    }
    batch = new ColumnarBatch(
      vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], rows)
    true
  }

  /** Misaligned foreign file: single boxed batch (old behavior). */
  private def nextFallback(): Boolean = {
    if (fallbackDone) return false
    fallbackDone = true
    val (colValues, numRows) = pages.decodeAllFallback()
    val vectors = OnHeapColumnVector.allocateColumns(numRows, schema)
    var c = 0
    while (c < colValues.length) {
      val vec = vectors(c)
      val vals = colValues(c)
      val dt = schema.fields(c).dataType
      var childOff = 0
      var i = 0
      while (i < numRows) {
        val v = vals(i)
        if (v == null) vec.putNull(i)
        else dt match {
          case org.apache.spark.sql.types.ArrayType(et, _) =>
            val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            val n = arr.numElements()
            val child = vec.getChild(0)
            child.reserve(childOff + n)
            var j = 0
            while (j < n) { putBoxed(child, childOff + j, et, arr.get(j, et)); j += 1 }
            vec.putArray(i, childOff, n)
            childOff += n
          case st: StructType =>
            val r = v.asInstanceOf[InternalRow]
            var k = 0
            while (k < st.length) {
              val cvec = vec.getChild(k)
              if (r.isNullAt(k)) cvec.putNull(i)
              else putBoxed(cvec, i, st.fields(k).dataType, r.get(k, st.fields(k).dataType))
              k += 1
            }
          case other => putBoxed(vec, i, other, v)
        }
        i += 1
      }
      c += 1
    }
    batch = new ColumnarBatch(
      vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], numRows)
    true
  }

  private def putBoxed(vec: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
                       i: Int, dt: org.apache.spark.sql.types.DataType, v: Any): Unit = dt match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => vec.putLong(i, v.asInstanceOf[Long])
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType => vec.putInt(i, v.asInstanceOf[Int])
    case org.apache.spark.sql.types.DoubleType => vec.putDouble(i, v.asInstanceOf[Double])
    case org.apache.spark.sql.types.FloatType => vec.putFloat(i, v.asInstanceOf[Float])
    case org.apache.spark.sql.types.BooleanType => vec.putBoolean(i, v.asInstanceOf[Boolean])
    case org.apache.spark.sql.types.ByteType => vec.putByte(i, v.asInstanceOf[Byte])
    case org.apache.spark.sql.types.ShortType => vec.putShort(i, v.asInstanceOf[Short])
    case d: org.apache.spark.sql.types.DecimalType =>
      vec.putDecimal(i, v.asInstanceOf[org.apache.spark.sql.types.Decimal], d.precision)
    case org.apache.spark.sql.types.StringType =>
      val b = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      vec.putByteArray(i, b, 0, b.length)
    case org.apache.spark.sql.types.BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      vec.putByteArray(i, b, 0, b.length)
    case other => throw new UnsupportedOperationException(s"columnar: $other")
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) batch.close()
    pages.close()
  }
}

/** Row reader (list/struct projections): pages decode lazily one at a
  * time; resident memory is one page's boxed values per column. */
class LancePartitionReader(part: LanceInputPartition, colSpecs: Array[ColSpec],
                           zoneFilters: Seq[(Int, ZoneFilter)],
                           conf: Configuration,
                           rowAddrPos: Int = -1,
                           addrFilters: Seq[AddrFilter] = Nil,
                           rowIdPos: Int = -1)
    extends PartitionReader[InternalRow] {

  private val pages = new FragmentPages(part, colSpecs, zoneFilters, conf, addrFilters)
  private val nCols = colSpecs.length
  private val nOut = nCols + (if (rowAddrPos >= 0) 1 else 0) +
    (if (rowIdPos >= 0) 1 else 0)

  /** Physical offset -> move-stable row id: prefix sums over the
    * fragment's segments, binary-searched (segments are few; offsets
    * within a run resolve by arithmetic). */
  private val rowIdSegs: Array[LanceFormat.RowIdSeg] =
    if (rowIdPos < 0) null else LanceFormat.decodeRowIds(part.rowIdSegs).toArray
  private val segStarts: Array[Long] =
    if (rowIdSegs == null) null
    else rowIdSegs.scanLeft(0L)(_ + _.count)
  private def rowIdOf(phys: Long): Long = {
    var lo = 0
    var hi = rowIdSegs.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (segStarts(mid) <= phys) lo = mid else hi = mid - 1
    }
    rowIdSegs(lo) match {
      case LanceFormat.RangeSeg(s, _) => s + (phys - segStarts(lo))
      case LanceFormat.ArraySeg(ids)  => ids((phys - segStarts(lo)).toInt)
    }
  }

  private val rows: Iterator[InternalRow] = {
    val base: Iterator[InternalRow] =
      if (!pages.aligned) {
        // fallback materializes ALL physical rows; a slice iterates its
        // physical sub-range of the materialized columns
        val (colValues, numRows) = pages.decodeAllFallback()
        (pages.sliceLo.toInt until math.min(pages.sliceHi, numRows.toLong).toInt)
          .iterator
          .filter(r => !pages.isDeleted(r))
          .map(r => assemble(colValues, r, r))
      } else if (colSpecs.isEmpty && (rowAddrPos >= 0 || rowIdPos >= 0)) {
        // metadata-only projection (e.g. min/max over addresses, or an
        // address handoff to a take): no physical column decodes —
        // addresses enumerate live physical offsets directly
        val live = (pages.sliceLo until pages.sliceHi).iterator
          .filter(r => !pages.isDeleted(r))
          .map(r => assemble(Array.empty, 0, r))
        if (part.rowLimit < Int.MaxValue) live.take(part.rowLimit.toInt) else live
      } else if (colSpecs.isEmpty) {
        // synthetic count(*) page: take is already the live row count
        pages.pagePlan.iterator.flatMap { case (_, _, take) =>
          (0 until take).iterator.map(_ => new GenericInternalRow(0): InternalRow)
        }
      } else pages.pagePlan.iterator.flatMap { case (pi, skip, take) =>
        // boundary pages of a slice decode skip+take rows and emit the
        // tail `take`; physical offsets stay exact for deletions/_rowaddr
        val colValues = colSpecs.map(s => pages.decodeBoxedPage(s, pi, skip + take))
        val start = pages.pageStarts(pi)
        (0 until take).iterator
          .filter(r => !pages.isDeleted(start + skip + r))
          .map(r => assemble(colValues, skip + r, start + skip + r))
      }
    // with deletions, page-level planning over-decodes; the live-row limit
    // is re-applied here (no-op when nothing was pushed down)
    if (pages.hasDeletions && part.rowLimit < Int.MaxValue)
      base.take(part.rowLimit.toInt)
    else base
  }

  private def assemble(colValues: Array[Array[Any]], r: Int, phys: Long): InternalRow = {
    if (rowAddrPos < 0 && rowIdPos < 0) {
      val arr = new Array[Any](nCols)
      var i = 0
      while (i < nCols) { arr(i) = colValues(i)(r); i += 1 }
      new GenericInternalRow(arr)
    } else {
      val arr = new Array[Any](nOut)
      var i = 0 // source column cursor
      var o = 0 // output slot cursor
      while (o < nOut) {
        if (o == rowAddrPos) arr(o) = (part.fragId << 32) | phys
        else if (o == rowIdPos) arr(o) = rowIdOf(phys)
        else { arr(o) = colValues(i)(r); i += 1 }
        o += 1
      }
      new GenericInternalRow(arr)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = pages.close()
}
