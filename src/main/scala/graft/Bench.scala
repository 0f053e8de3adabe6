package graft

import graft.GraftSession.{jstr, rootLine}

/** Per-round benchmark main (driver contract): runs every declared query
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are fully materialized through a noop datasource write — a
  * `count()` would let Catalyst prune the projections being measured.
  * A warmup pass (schema loads + one tiny query) runs first so JVM/codegen
  * startup isn't attributed to the first query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)

    // warmup: load all fixture views + run one small query end to end.
    // NON-FATAL: a warmup failure (e.g. a fixture schema drift, round-5's
    // events.ts regeneration) must not zero the whole round artifact — the
    // root cause is printed ON STDOUT (the driver tails stdout; stack
    // frames on stderr were getting truncated past the exception message)
    // and the per-query loop still runs, failing only what actually fails.
    try {
      Tables.register(spark, sfDir)
      Tables.names.foreach(n => spark.table(n).limit(1).collect())
      SparkEntry.allDefs.head.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      println(s"""{"warmup_error":${jstr(rootLine(e))}}""")
    }

    // each query runs twice and reports the min: the first pass pays
    // one-off codegen compilation (~2 s on complex plans) and is exposed
    // to CPU-contention spikes — a single noisy pass must not poison the
    // round artifact (round-3 lesson: one loaded run read as a 2x
    // regression that vanished on re-run)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(d: graft.queries.QDef): Double = {
      val t0 = System.nanoTime()
      try d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${d.name} failed: $e")
        failed(d.name) = rootLine(e)
      }
      val t = (System.nanoTime() - t0) / 1e9
      // operators cache intermediates (LSH signatures etc.); drop them so
      // passes are measured independently and later queries don't evict
      // earlier caches mid-flight
      spark.catalog.clearCache()
      t
    }
    // dev loop: SPARK_GRAFT_QUERIES=q25,q22 restricts the run (substring
    // match); SPARK_GRAFT_PASSES raises the minimum sample count. Unset in
    // the driver's graded run, so the artifact contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(',').map(_.trim).filter(_.nonEmpty))
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val defs = only.fold(SparkEntry.allDefs)(fs => SparkEntry.allDefs.filter(d => fs.exists(d.name.contains)))
    // adaptive sampling: sample until the two smallest passes agree within
    // 15% (up to 2 extra passes beyond the minimum) — the graded artifact
    // must not absorb ambient load on a shared driver host (round 9: a
    // diffuse +0.3-1.6 s contention spread over ~40 untouched queries read
    // as a 37% regression; the committed same-code run was flat). Extra
    // passes are paid only by the queries that actually came back noisy.
    // `spread` (relative gap of the two smallest samples) rides along per
    // query so a reader can see which numbers were still unsettled.
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = defs.map { d =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until math.max(passes, 2)).foreach(_ => times += timeOnce(d))
      def gap: Double = { val s = times.sorted; if (s(0) > 0) (s(1) - s(0)) / s(0) else 0.0 }
      var extra = 0
      while (gap > 0.15 && times.sorted.head > 0.15 && extra < 2) {
        times += timeOnce(d); extra += 1
      }
      spreads(d.name) = gap
      d.name -> times.min
    }
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // DuckDB-side oracle wall times (scripts/selfcheck.py --timings, min
    // of 2, same box + same parquet) ride along in the artifact so
    // bench-vs-oracle stops being a per-round judge re-measurement. The
    // committed ORACLE_SECS.json is regenerated whenever oracles change;
    // vs_oracle_median is the median spark/duckdb ratio over shared keys.
    // The oracle file is matched to the DATA SCALE being measured —
    // ORACLE_SECS.json was timed at sf0.1 and ORACLE_SF1_SECS.json (a
    // 24-query subset; the rest are resource-infeasible in DuckDB at
    // sf1) at sf1. Any other data dir has no committed oracle: emit NO
    // oracle column rather than a cross-scale ratio (the round-11
    // BENCH_SF1.json embedded the sf0.1 oracle against sf1 walls — a
    // meaningless 18x "median" over an 0.07x reality).
    val oracleFile: String = sys.env.getOrElse("SPARK_GRAFT_ORACLE_SECS",
      java.nio.file.Paths.get(sfDir).getFileName.toString match {
        case "sf0.1" => "ORACLE_SECS.json"
        case "sf1"   => "ORACLE_SF1_SECS.json"
        case _       => ""
      })
    val oracleSecs: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get(oracleFile)
        if (oracleFile.nonEmpty && java.nio.file.Files.exists(p)) {
          val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          // flat {"name": secs} object — parse with a regex, no json lib on
          // the classpath beyond spark's shaded ones
          """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        } else Map.empty
      } catch { case _: Throwable => Map.empty }
    val oracleJson =
      if (oracleSecs.isEmpty) ""
      else {
        val shared = results.collect {
          case (k, v) if oracleSecs.get(k).exists(_ > 0) => v / oracleSecs(k) }
        val med = if (shared.isEmpty) 0.0
          else {
            val s = shared.sorted
            // true median: average the middle pair on even sizes (size/2
            // alone is the upper-middle — biased the headline ratio up)
            if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
          }
        val os = results.flatMap { case (k, _) => oracleSecs.get(k).map(s =>
          "\"" + k + "\":" + fmt(s)) }.mkString("{", ",", "}")
        // label the comparison: which oracle file, and over how many
        // shared queries the median was computed (sf1's committed subset
        // is 24 queries — a reader must not take the median as full-coverage)
        s""","oracle_file":${jstr(oracleFile)},"oracle_queries":${shared.size},""" +
          s""""oracle_secs":$os,"vs_oracle_median":${fmt(med)}"""
      }
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"spread":$spreadJson,"sf":"$sfDir"$oracleJson}"""

    // The driver captures only the last ~2000 chars of stdout; the full
    // per-query line (~3.5 KB) gets truncated there. Persist the full JSON to
    // a well-known file, print it for complete-stdout captures, then end with
    // a short line (total + slowest queries + file pointer) that always
    // survives the tail buffer and parses.
    val outFile = java.nio.file.Paths.get("BENCH_RESULT.json")
    java.nio.file.Files.write(outFile, (full + "\n").getBytes("UTF-8"))
    // cpu-suffixed copy (r17): the driver benches the same tree at two core
    // counts and both runs wrote BENCH_RESULT.json — the scaling run
    // clobbered the main run's per-query vector (r16 lost its 32-core
    // artifact that way). The suffixed file preserves each run.
    java.nio.file.Files.write(java.nio.file.Paths.get(s"BENCH_RESULT_c$cpus.json"),
      (full + "\n").getBytes("UTF-8"))
    println(full)
    // top-10 only: the driver parses the last ~2000 stdout chars with sbt
    // noise around it — this line must stay well under that
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // failed queries are an artifact-level fact, not just stderr noise —
    // surface (count + first offender's root line) inside the tail-safe line
    val failNote = if (failed.isEmpty) ""
      else s""","failed":${failed.size},"first_failure":${jstr(failed.head._1 + " " + failed.head._2)}"""
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$slow,"sf":"$sfDir","full":"BENCH_RESULT.json"$failNote}""")
    spark.stop()
  }
}
