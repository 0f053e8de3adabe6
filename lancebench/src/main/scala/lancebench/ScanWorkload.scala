package lancebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.lance.{LanceFormat, LanceMaintenance}

/** `scan`: analytics over one large lineitem-shaped Lance table (several
  * fragments, ~1% deleted through a deletion vector) and an `orders`
  * table beside it. A closed loop cycles four query shapes; every query
  * pins the head version it read from the manifest, and its result is
  * compared with the same query over a parquet copy of the live rows,
  * answered by Spark's parquet reader in preparation. */
final class ScanWorkload(ctx: Ctx) extends Workload {
  import ScanWorkload._
  private val spark = ctx.spark
  val cycle = Cycle.size
  private var li = ""
  private var ord = ""
  private val params = Gen.scanParams(ctx.seed, ParamSets)
  private var liveRows = 0L
  private var reference = Map.empty[(String, Int), Seq[Row]]

  def setup(dir: java.nio.file.Path): Unit = {
    li = dir.resolve("lineitem.lance").toString
    ord = dir.resolve("orders.lance").toString
    Gen.lineitem(spark, ctx.seed, Rows, Fragments).write.format("lance").mode("overwrite").save(li)
    LanceMaintenance.deleteWhere(spark, li, Gen.deletionSlice(ctx.seed))
    Gen.orders(spark, ctx.seed, Rows, 2).write.format("lance").mode("overwrite").save(ord)
  }

  override def prepare(): Unit = {
    val pq = ctx.work.resolve("reference")
    Gen.lineitem(spark, ctx.seed, Rows, Fragments).filter(not(expr(Gen.deletionSlice(ctx.seed))))
      .write.mode("overwrite").parquet(pq.resolve("lineitem").toString)
    Gen.orders(spark, ctx.seed, Rows, 2).write.mode("overwrite").parquet(pq.resolve("orders").toString)
    val pli = spark.read.parquet(pq.resolve("lineitem").toString)
    val pord = spark.read.parquet(pq.resolve("orders").toString)
    liveRows = pli.count()
    reference = (for {
      s <- Shapes if s != "limit"
      p <- params.indices
    } yield (s, p) -> query(s, params(p), pli, pord).collect().toSeq).toMap
    // warm-up: each shape once over the Lance tables (codegen, page metas)
    Shapes.foreach(s => query(s, params(0), spark.read.format("lance").load(li),
      spark.read.format("lance").load(ord)).collect())
  }

  /** Reads the head manifest, as a client pinning a snapshot does. */
  private def head(path: String): Long = ManifestProbe.read(ctx, path).version

  def op(i: Long): Op = {
    val shape = Cycle((i % Cycle.size).toInt)
    // the cycle's two q1 queries take different parameter sets
    val p = ((i / Cycle.size + (if (i % Cycle.size == Cycle.size - 1) 1 else 0)) % params.size).toInt
    Op(shape, write = false, rows = liveRows, run = () => {
      val v = head(li)
      val lance = spark.read.format("lance").option("versionAsOf", v).load(li)
      val o = spark.read.format("lance").load(ord)
      val got = ctx.span("scan.exec") { query(shape, params(p), lance, o).collect().toSeq }
      () => check(shape, p, got)
    })
  }

  private def check(shape: String, p: Int, got: Seq[Row]): Option[String] =
    if (shape == "limit") {
      val q = params(p).qtyMin
      val del = math.floorMod(ctx.seed, 14L)
      val bad = got.exists(r => r.getDouble(1) < q ||
        (r.getInt(2) == 7 && math.floorMod(r.getLong(0), 14L) == del))
      if (got.size != LimitRows) Some(s"scan.limit: ${got.size} rows, want $LimitRows")
      else if (bad) Some("scan.limit: a row fails the predicate or is deleted")
      else None
    } else {
      val want = reference((shape, p))
      if (sameRows(got, want)) None else Some(s"scan.$shape: result differs from the parquet reference")
    }

  def finish(): Seq[String] = Nil
  // every query is exact: 1 over the queries run
  def answerRecall: Metric = Metric("answer_recall", 1.0, "ratio", 1)
  def figures: Seq[Metric] = Seq(Metric("table_rows", liveRows.toDouble, "rows", 1))
  override def spaceAmp: Option[Double] = {
    val onDisk = Report.dirBytes(java.nio.file.Paths.get(li)) + Report.dirBytes(java.nio.file.Paths.get(ord))
    Some(onDisk / logicalBytes)
  }
  // 8 bytes a numeric value, string bytes for the rest
  private def logicalBytes: Double = liveRows * (8.0 * 8 + 4 + 1 + 1) + (Rows / 4) * (8.0 * 4 + 1 + 10)
}

object ScanWorkload {
  val Rows = 2000000L
  val Fragments = 8
  val ParamSets = 2
  val LimitRows = 1000
  val Shapes = IndexedSeq("q1", "range", "limit", "join")
  /** One cycle of the closed loop. Two of five queries are the full
    * aggregate, so the median latency falls inside one query shape
    * instead of on the edge between two. */
  val Cycle = IndexedSeq("q1", "range", "join", "limit", "q1")

  def day(d: Int): org.apache.spark.sql.Column =
    lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond((Gen.ShipDay0 + d) * 86400L)))

  def query(shape: String, p: Gen.ScanParams, li: DataFrame, ord: DataFrame): DataFrame = shape match {
    case "q1" =>
      li.filter(col("l_shipdate") <= day(Gen.ShipDays - p.q1Delta))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))),
          avg("l_discount"), count(lit(1)))
        .orderBy("l_returnflag", "l_linestatus")
    case "range" =>
      li.filter(col("l_shipdate") >= day(p.rangeDay) && col("l_shipdate") < day(p.rangeDay + 90) &&
          col("l_quantity") < 24)
        .agg(count(lit(1)), sum(col("l_extendedprice") * col("l_discount")))
    case "limit" =>
      li.filter(col("l_quantity") >= p.qtyMin).select("l_orderkey", "l_quantity", "l_linenumber")
        .limit(LimitRows)
    case "join" =>
      li.join(ord.filter(col("o_orderdate") >= day(p.joinDay) && col("o_orderdate") < day(p.joinDay + 365)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)), sum("l_extendedprice"))
        .orderBy("o_orderpriority")
  }

  /** Row equality, doubles to 1e-9 relative (sums are order-dependent). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (u: Double, v: Double) => math.abs(u - v) <= 1e-9 * math.max(1.0, math.max(math.abs(u), math.abs(v)))
          case (u, v) => u == v
        }
      }
    }
}

/** The client's manifest read: head path, then the manifest itself. */
object ManifestProbe {
  def read(ctx: Ctx, path: String): LanceFormat.Manifest = {
    val conf = ctx.spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    ctx.tracer.span("manifest.read", -1L, (m: LanceFormat.Manifest) => Seq(
        "version" -> m.version.toDouble, "fragments" -> m.fragments.size.toDouble)) {
      val mp = LanceFormat.latestManifestPath(fs, p, None)
      ctx.tracer.note("bytes", fs.getFileStatus(mp).getLen.toDouble)
      LanceFormat.readManifest(fs, mp)
    }
  }
}
