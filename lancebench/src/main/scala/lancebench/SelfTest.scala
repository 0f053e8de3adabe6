package lancebench

/** Generator self-test: the same seed must give an identical digest of
  * every generated input, and another seed a different one. Run with
  * `python3 lancebench/run.py --selftest`; exits non-zero on a mismatch. */
object SelfTest {
  /** One digest over every input a workload hands the engine: the scan
    * tables, deletion slice and query parameters; the serve corpus and the
    * first periods of its op schedule (writes acknowledged as they come);
    * the pipeline corpus and its planted pairs. */
  def digest(spark: org.apache.spark.sql.SparkSession, seed: Long): Long = {
    val vocab = new Gen.Vocab()
    val mix = new Gen.Mixture(seed)
    val scan = Seq(
      Gen.frameDigest(Gen.lineitem(spark, seed, ScanWorkload.Rows, ScanWorkload.Fragments)),
      Gen.frameDigest(Gen.orders(spark, seed, ScanWorkload.Rows, 2)),
      Gen.deletionSlice(seed).hashCode.toLong,
      Gen.scanParams(seed, ScanWorkload.ParamSets).hashCode.toLong)
    val corpus = Gen.serveCorpus(seed, ServeWorkload.CorpusRows, vocab, mix)
    val sched = new ServeWorkload.Schedule(seed, corpus, vocab, mix)
    val ops = (0L until 4L * ServeWorkload.Period).map { i =>
      val op = sched.next(i)
      sched.ack(op)
      op match {
        case ServeWorkload.Ann(q) => java.util.Arrays.hashCode(q).toLong
        case ServeWorkload.Append(ds) => Gen.docsDigest(ds)
        case ServeWorkload.Upsert(ds) => Gen.docsDigest(ds)
        case other => other.hashCode.toLong
      }
    }
    val pipe = Gen.pipelineCorpus(seed, PipelineWorkload.Docs, vocab, mix)
    (scan ++ Seq(Gen.docsDigest(corpus)) ++ ops ++
      Seq(Gen.docsDigest(pipe.docs), pipe.truePairs.toSeq.sorted.hashCode.toLong))
      .foldLeft(1125899906842597L)((h, x) => 31 * h + x)
  }

  def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Main.session(kv("cores").toInt, java.nio.file.Paths.get(kv("work")))
    val (a, b, c) = try (digest(spark, 1L), digest(spark, 1L), digest(spark, 2L)) finally spark.stop()
    println(f"[lancebench] selftest digest seed 1: $a%016x, again: $b%016x, seed 2: $c%016x")
    if (a != b) { println("[lancebench] selftest FAILED: the same seed gave different inputs"); sys.exit(1) }
    if (a == c) { println("[lancebench] selftest FAILED: different seeds gave the same inputs"); sys.exit(1) }
    println("""{"selftest":"ok"}""")
  }
}
