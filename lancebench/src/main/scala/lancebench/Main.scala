package lancebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. `run.py` validates the arguments,
  * builds this package and starts it as
  * `lancebench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR`;
  * `--selftest` checks the generator instead. The last stdout line is the
  * result JSON. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: java.nio.file.Path)

  /** Reads the arguments `run.py` passes, which it has already validated. */
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, java.nio.file.Paths.get(kv("work")))
  }

  /** The session `graft.Bench` grades with, at `cores` cores; scratch
    * files stay under `work`. */
  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lancebench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.lance", "graft.sources.lance.LanceCatalog")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) { SelfTest.run(argv.drop(1)); return }
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    try run(spark, a) finally spark.stop()
  }

  def run(spark: SparkSession, a: Args): Unit = {
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, tracer, a.work.resolve("data"), a.seed, a.cores)
    val w: Workload = a.workload match {
      case "scan" => new ScanWorkload(ctx)
      case "serve" => new ServeWorkload(ctx)
      case "pipeline" => new PipelineWorkload(ctx)
    }

    val clock0 = System.nanoTime()
    def phase(p: String): Unit = println(f"[lancebench] phase $p%-8s at ${(System.nanoTime() - clock0) / 1e9}%.1f s")
    w.warmUp(ctx.work.resolve("warmup"))
    deleteTree(ctx.work.resolve("warmup"))
    phase("warm-up")
    // a traced run reports no set-up time, so it sets up once
    val setupS = (0 until (if (a.trace) 1 else w.setupReps)).map { r =>
      val dir = ctx.work.resolve(s"setup$r")
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) deleteTree(ctx.work.resolve(s"setup${r - 1}"))
      s
    }
    phase("setup")
    w.prepare()
    System.gc()
    phase("prepare")

    // the closed loop: one client thread, next op as soon as the last one
    // returns, ending on a cycle boundary so every run has the same op mix.
    // A traced run alternates untraced and traced cycles, starting and
    // ending untraced, so each traced op can be compared with the same
    // op of the untraced cycles on either side of it.
    val recs = ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0L
    def cycleTraced(i: Long) = a.trace && (i / w.cycle) % 2 == 1
    def runOp(op: Op, traced: Boolean): Unit = {
      tracer.on = traced
      val bytes0 = graft.sources.lance.LanceDataSource.bytesRead.sum()
      val t0 = tracer.now
      val outcome: Either[Throwable, () => Option[String]] = try Right(tracer.span(s"op.${op.kind}", i,
          (_: () => Option[String]) => Seq("lance_bytes" -> (graft.sources.lance.LanceDataSource.bytesRead.sum() - bytes0).toDouble))(
          op.run()))
        catch { case e: Throwable => Left(e) }
      val t1 = tracer.now
      tracer.on = false
      val checked = outcome match {
        case Right(check) => try check() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}") }
        case Left(e) => Some(s"${op.kind} threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}")
      }
      // the traced follow-up: its own root span, outside the op's wall
      val followUp = if (!traced || outcome.isLeft) None else op.after.flatMap { f =>
        tracer.on = true
        try { tracer.span(s"side.${op.kind}", i)(f()); None }
        catch { case e: Throwable => Some(s"traced follow-up threw ${e.getClass.getSimpleName}") }
        finally tracer.on = false
      }
      val failure = checked.orElse(followUp)
      failure.foreach(f => println(s"[lancebench] FAILED op $i ${op.kind}: $f"))
      recs += OpRec(i, op.kind, op.write, op.rows, t0, t1, traced, failure)
      i += 1
    }
    // at least one cycle; a traced run at least untraced, traced, untraced
    val minOps = if (a.trace) 3 * w.cycle else w.cycle
    while (System.nanoTime() < deadline || i % w.cycle != 0 || i < minOps || cycleTraced(i - 1))
      runOp(w.op(i), cycleTraced(i))
    val loopOps = recs.size
    if (a.trace) w.maintenance.foreach(runOp(_, traced = true))
    phase("loop")
    tracer.on = a.trace
    val finals = try tracer.span("final.check", i)(w.finish())
      catch { case e: Throwable => Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally tracer.on = false
    finals.foreach(f => println(s"[lancebench] FAILED final check: $f"))

    phase("finish")
    val timed = recs.toSeq.filter(r => !r.traced)
    val wall = timed.map(_.ms).sum / 1000.0
    val reads = timed.filter(!_.write).map(_.ms)
    val writes = timed.filter(_.write).map(_.ms)
    val all = timed.map(_.ms)
    val failed = recs.count(_.failure.nonEmpty) + finals.size
    val attempted = recs.size + 1
    // the end-to-end metrics the result line carries
    val e2e = Seq(
      Metric("setup_s", Report.median(setupS), "s", setupS.size),
      Metric("ops_per_s", timed.size / wall, "1/s", timed.size),
      w.answerRecall)
    // the other figures, printed only, each where it applies
    val figures = (if (w.countsRows) Seq(Metric("rows_per_s", timed.map(_.rows).sum / wall, "rows/s", timed.size)) else Nil) ++
      Seq(
      Metric("read_p50_ms", Report.median(reads), "ms", reads.size),
      Metric("write_p50_ms", Report.median(writes), "ms", writes.size),
      Metric("op_p50_ms", Report.median(all), "ms", all.size),
      Metric("op_p90_ms", Report.quantile(all, 0.9), "ms", all.size),
      Metric("read_p90_ms", Report.quantile(reads, 0.9), "ms", reads.size),
      Metric("write_p90_ms", Report.quantile(writes, 0.9), "ms", writes.size),
      Metric("peak_rss_mb", Report.peakRssMb(), "MB", 1)).filter(_.n > 0) ++
      w.figures ++ w.spaceAmp.map(Metric("space_amp", _, "ratio", 1)) :+
      Metric("failed_op_ratio", failed.toDouble / attempted, "ratio", attempted)
    val kinds = timed.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      Metric(s"$k.p50_ms", Report.median(rs.map(_.ms)), "ms", rs.size) }
    val cycles = recs.take(loopOps).groupBy(_.id / w.cycle).toSeq.sortBy(_._1).map { case (c, rs) =>
      Metric(s"cycle$c.${if (rs.head.traced) "traced" else "untraced"}_ms", rs.map(_.ms).sum, "ms", rs.size) }
    (e2e ++ figures ++ kinds ++ cycles).foreach(m =>
      println(f"[lancebench] ${a.workload}%-8s ${m.name}%-22s ${Report.num(m.value)}%-24s ${m.unit}%-7s n=${m.n}"))

    val out = if (a.trace) {
      tracer.drain()
      val layers = Layers.compute(tracer, recs.take(loopOps).toSeq, w.cycle, a.cores)
      // beside the run's scratch directory, so it outlives it
      tracer.write(a.work.toAbsolutePath.getParent.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
      layers.foreach(m => println(f"[lancebench] ${a.workload}%-8s ${m.name}%-28s ${Report.num(m.value)}%-24s ${m.unit}%-7s n=${m.n}"))
      layers
    } else e2e
    tracer.close()
    val ms = out.map(m => s""""${m.name}":{"value":${Report.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(q => java.nio.file.Files.delete(q))
      finally st.close()
    }
}
