package graft

import graft.GraftSession.{jstr, rootLine}

/** Scale-decade smoke for the heavy families (dedup / sketch / FTS /
  * lance-lifecycle): runs each query at TWO scale factors with the same
  * session config as [[Bench]] and writes per-query seconds + the
  * sf-big/sf-small ratio to a JSON artifact. The point is the RATIOS: a
  * component whose cost grows faster than its declared contract (linear
  * for the production faces, quadratic only for the declared-contract
  * oracle twins) shows up as a ratio far above the data ratio.
  *
  * Provenance lives IN the artifact: every row carries the full
  * `sf_small_runs` / `sf_big_runs` arrays alongside the min, so a reader
  * can see which pass won and how wide the ambient spread was without a
  * NOTES cross-reference (the round-13 interleaved min-of-N protocol,
  * standardized).
  *
  * Usage: `runMain graft.BenchHeavy <sfSmallDir> <sfBigDir> <outFile>
  * [dataRatio]` (defaults: localdata/sf1 localdata/sf10
  * BENCH_SF10_HEAVY.json 10). Env knobs:
  *  - SPARK_GRAFT_SMALL_PASSES (default 2) / SPARK_GRAFT_BIG_PASSES
  *    (default 1): timed passes per row per scale factor; the committed
  *    row is the per-row MIN (the noise-robust estimator NOTES_r13
  *    adjudicated — ambient contention only ever ADDS time).
  *  - SPARK_GRAFT_HEAVY_SUBSET: comma-separated query names — restrict
  *    the run to the scale-shaped subset (e.g. the sf100 run measures
  *    only the families whose scaling is in question, not the declared-
  *    contract quadratics).
  */
object BenchHeavy {
  /** Queries excluded from the BIG scale factor, each with the reason
    * recorded in the artifact. Empty since round 11: the d06/d11 pair
    * stage moved to a prefix-filtered exact set-similarity join and d28's
    * candidates to the bucket-local kernel, so every heavy family now
    * completes the decade in-sandbox. */
  val bigSkip: Map[String, String] = Map.empty

  val allHeavy: Seq[String] = Seq(
    "d06_jaccard_pairs", "d07_minhash_lsh", "d11_cluster_dedup",
    // d18/d20 are map-only text kernels — cheap at sf10, but in the list
    // so the sf100 subset run can include two map-only families as the
    // "should be exactly data-ratio" control group
    "d18_boilerplate_ngrams", "d20_dup_span_coverage",
    "d23_dsir_sample", "d28_minhash_portable", "d33_fuzzy_decontaminate",
    "d34_neardup_capped", "e09_semantic_dedup",
    // ANN family (round 12): builds should track the data ratio, probes
    // should stay sub-linear (sqrt-scaled IVF lists + fragment pruning).
    // Since round 13 every probe row (e06_ivf_topk, e06b, e08_ivfpq_topk,
    // e10) reads a PERSISTED index; their fixtures are built by the
    // preceding build rows or warmed once untimed (warmOnce below), so
    // the timed rows measure probes.
    "e06_build", "e06_ivf_topk", "e06b_ivf_probe", "e06e_ivf_combined_live",
    "e08_build", "e08_ivfpq_topk", "e08b_ivfpq_combined_live",
    "e10_batch_ann", "e12_binary_quant",
    "f01_bm25_rank", "f02_fts_build", "f03_fts_search", "f04_fts_phrase",
    "f05_fts_sql_rewrite", "f06_fts_live", "f06b_fts_combined_live",
    "f07_fts_phrase_indexed", "f08_fts_boolean", "f09_fts_fuzzy",
    "l21_partitioned_join", "l22_partitioned_agg", "l23_bucketed_join",
    "l24_incremental_matview", "l25_ndv_sidecar", "l26_days_partitioned",
    "l27_joined_matview")

  def main(args: Array[String]): Unit = {
    val sfSmall = if (args.length > 0) args(0) else "localdata/sf1"
    val sfBig   = if (args.length > 1) args(1) else "localdata/sf10"
    val outFile = if (args.length > 2) args(2) else "BENCH_SF10_HEAVY.json"
    val dataRatio = if (args.length > 3) args(3).toInt else 10
    val smallPasses = sys.env.getOrElse("SPARK_GRAFT_SMALL_PASSES", "2").toInt
    val bigPasses = sys.env.getOrElse("SPARK_GRAFT_BIG_PASSES", "1").toInt
    val heavy = sys.env.get("SPARK_GRAFT_HEAVY_SUBSET") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(allHeavy.contains)
        require(unknown.isEmpty, s"unknown heavy queries: ${unknown.mkString(",")}")
        allHeavy.filter(want.contains) // keep canonical (fixture-building) order
      case None => allHeavy
    }
    // UNLIKE Bench: decade queries are disk-bound, so shuffle and spill
    // compression stay ON here
    val spark = GraftSession.local(GraftSession.cpus(32), compressShuffle = true)

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // shuffle files of finished queries are only reclaimed when the
      // ContextCleaner GCs their RDD references — at sf100 a single
      // query leaves 10-40 GB on disk, and four of them back-to-back
      // exhausted the sandbox before e09 ever ran. Nudge the cleaner
      // between queries (untimed) so each row starts with a clean disk.
      System.gc()
      Thread.sleep(500)
      t
    }
    // Rows whose one-time fixture (persisted index / co-partitioned
    // layout / lance docs copy) no EARLIER row builds: run once untimed
    // so a 1-pass (sf_big) measurement times the PROBE / JOIN / SEARCH,
    // not the first-touch build. e10's batch-corpus index build is the
    // e06_build operation on a 99.99%-identical corpus — its cost is
    // already a labeled row. l21/l23 exist to show the ZERO-SHUFFLE
    // co-partitioned join; their bucketed layout write is the offline
    // cost (one clustered exchange per table, data-ratio-proportional,
    // same machinery l02 labels). f05/f06 are SEARCH rows whose per-dir
    // lance-copy + index build is the f02-labeled offline cost — warmed
    // here so their timed pass measures the search (f02 itself rebuilds
    // unconditionally every invocation since round 14, so no row left
    // reports a warm memoized pass as a build).
    // f02 IS the labeled build row, but its one-time postings STAGING
    // (the shared corpus tokenize every index flavor derives from) is
    // the offline artifact: a single-pass measurement would fold the
    // stage into the first build while the min-of-2 small side excludes
    // it — warm once so both sides measure build-from-staged-postings.
    // e06e/f06b: the one-time stale-index fixture (indexed-slice build +
    // tail append + deletions) is the offline cost; the timed row is the
    // composed combined+live SEARCH the fixture exists for.
    val warmOnce = Set("e10_batch_ann", "l21_partitioned_join",
                       "l23_bucketed_join", "f02_fts_build",
                       "f05_fts_sql_rewrite", "f06_fts_live",
                       "e06e_ivf_combined_live", "e08b_ivfpq_combined_live",
                       "f06b_fts_combined_live")
    def measure(dir: String, passes: Int,
                skip: Map[String, String]): Map[String, Either[String, Seq[Double]]] = {
      Tables.register(spark, dir)
      Tables.names.foreach(n => spark.table(n).limit(1).collect())
      runOnce("d01_dedup_by_key", dir) // session/codegen warmup
      heavy.map { n =>
        val r =
          if (skip.contains(n)) Left("SKIPPED")
          else try {
            if (warmOnce.contains(n) && passes < 2) runOnce(n, dir)
            Right((1 to passes).map(_ => runOnce(n, dir)))
          }
          catch { case e: Throwable => Left(rootLine(e)) }
        println(f"[heavy] $dir $n%-26s ${r.fold(identity, ts => f"${ts.min}%8.3f s  (runs: ${ts.map(t => f"$t%.2f").mkString(", ")})")}")
        n -> r
      }.toMap
    }
    val small = measure(sfSmall, smallPasses, Map.empty)
    val big   = measure(sfBig, bigPasses, bigSkip)

    def runsJson(ts: Seq[Double]): String =
      ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    val rows = heavy.map { n =>
      val bigPart = bigSkip.get(n) match {
        case Some(reason) => Seq(s""""sf_big_skipped":${jstr(reason)}""")
        case None =>
          big(n).fold(e => Seq(s""""sf_big_error":${jstr(e)}"""),
            ts => Seq(f""""sf_big":${ts.min}%.3f""",
                      s""""sf_big_runs":${runsJson(ts)}"""))
      }
      val parts =
        small(n).fold(e => Seq(s""""sf_small_error":${jstr(e)}"""),
          ts => Seq(f""""sf_small":${ts.min}%.3f""",
                    s""""sf_small_runs":${runsJson(ts)}""")) ++
        bigPart ++
        (for (s <- small(n).toOption; b <- big(n).toOption)
          yield f""""ratio":${b.min / s.min}%.2f""")
      s"${jstr(n)}:{${parts.mkString(",")}}"
    }
    def total(m: Map[String, Either[String, Seq[Double]]]) =
      m.values.collect { case Right(ts) => ts.min }.sum
    val json =
      s"""{"metric":"heavy_scale_smoke","sf_small":${jstr(sfSmall)},""" +
      s""""sf_big":${jstr(sfBig)},"data_ratio":$dataRatio,""" +
      s""""small_passes":$smallPasses,"big_passes":$bigPasses,""" +
      f""""total_sf_small":${total(small)}%.1f,"total_sf_big":${total(big)}%.1f,""" +
      s""""note":"Per-row seconds = MIN over the recorded runs arrays (ambient contention only adds time; raw passes are in sf_small_runs/sf_big_runs per row — the round-13 interleaved min-of-N protocol, now carried in the artifact itself). Lifecycle queries (l24/l26/l27) are commit-count-bound, not data-bound. Build rows (e06_build, e08_build, f02_fts_build) rebuild unconditionally every invocation. Probe/search rows (e06_ivf_topk, e06b_ivf_probe at nProbe=12, e08_ivfpq_topk, e10_batch_ann, f03/f05/f06/f07/f08/f09) read PERSISTED indexes; fixtures are built by the labeled build rows or warmed once untimed, so their timed passes measure probes/searches. l21/l23 likewise warm their one-time co-partitioned layout untimed: the timed row is the zero-shuffle join those layouts exist for (the layout write is the offline cost).",""" +
      s""""queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
