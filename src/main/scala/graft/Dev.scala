package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import scala.collection.mutable

/** Dev main: how fast a query runs, what plan it ran and where its time
  * went, under the bench's session (`GraftSession`; SPARK_GRAFT_CPUS,
  * default 32). One subcommand per question:
  *
  *  - `time <sfDir> <q...>`: wall seconds per run. Name a query twice —
  *    the first run pays ~3 s of codegen compile.
  *  - `explain <sfDir> <q...>`: the formatted FINAL adaptive plan, after
  *    execution (what AQE actually picked — e.g. star joins that convert
  *    to broadcast at runtime, which a static explain does not show).
  *  - `metrics <sfDir> <q...>`: the final plan tree of a warm pass with
  *    per-operator runtime metrics (rows out, times, data sizes).
  *  - `profile <sfDir> <q...>`: each of two passes' wall split into
  *    Spark-job time vs driver gap (planning, manifest IO, commits), plus
  *    the second pass's top jobs.
  *  - `plans <sfDir>`: rewrites PLANS.md, the formatted physical plans of
  *    the flagship queries whose shapes PlanSpec pins, at 8 cores.
  *
  * `sbt "runMain graft.Dev time <sfDir> d07_minhash_lsh d07_minhash_lsh"`
  */
object Dev {
  private val modes: Map[String, (SparkSession, String, Seq[String]) => Unit] =
    Map("time" -> time _, "explain" -> explain _, "metrics" -> metrics _, "profile" -> profile _)

  def main(args: Array[String]): Unit = args.toList match {
    case "plans" :: sfDir :: Nil => plans(sfDir)
    case mode :: sfDir :: names if modes.contains(mode) && names.nonEmpty =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      val spark = GraftSession.local(GraftSession.cpus(32))
      Tables.register(spark, sfDir)
      Tables.names.foreach(n => spark.table(n).limit(1).collect())
      modes(mode)(spark, sfDir, names)
      spark.stop()
    case _ =>
      System.err.println(
        "usage: graft.Dev time|explain|metrics|profile <sfDir> <query...> | graft.Dev plans <sfDir>")
      sys.exit(2)
  }

  /** Runs the DataFrame's OWN QueryExecution, so its plan and metrics are
    * the executed ones (a noop write would plan a separate one). */
  private def execute(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  private def noopWrite(spark: SparkSession, sfDir: String, n: String): Unit =
    SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val t0 = System.nanoTime()
      noopWrite(spark, sfDir, n)
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[time] $n%-28s $t%8.3f s")
    }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      execute(df)
      spark.catalog.clearCache()
      println(s"=== $n (final adaptive plan) ===")
      println(df.queryExecution.explainString(FormattedMode))
    }

  private def metrics(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (k, m) =>
        m.value > 0 && (k.contains("Rows") || k.contains("time") ||
          k.contains("Time") || k.contains("dataSize") || k == "numPartitions")
      }
      val ms = interesting.toSeq.sortBy(_._1).map { case (k, m) =>
        s"$k=${m.value}" }.mkString(" ")
      println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case r: ReusedExchangeExec => walk(r.child, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach { sq => println(("  " * (depth + 1)) + "SUBQUERY:");
        walk(sq, depth + 2) }
    }
    names.foreach { n =>
      // metrics are read from the second (warm) pass
      noopWrite(spark, sfDir, n)
      spark.catalog.clearCache()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t0 = System.nanoTime()
      execute(df)
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"=== $n (wall $wall%.3f s, warm pass) ===")
      walk(df.queryExecution.executedPlan, 0)
    }
  }

  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
                            desc: String, var stages: Int = 0,
                            var tasks: Int = 0, var taskTimeMs: Long = 0L,
                            var stageNames: List[String] = Nil)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, e.time, desc = d)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (j <- stageToJob.get(e.stageInfo.stageId); r <- jobs.get(j)) {
            r.stages += 1
            r.tasks += e.stageInfo.numTasks
            r.stageNames = (e.stageInfo.name.takeWhile(_ != '(') +
              s"[${e.stageInfo.numTasks}]") :: r.stageNames
            for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
              r.taskTimeMs += c - s
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      (0 until 2).foreach { pass =>
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // drain listener events before reading (listenerBus is
        // private[spark]; a short sleep suffices for a dev profiler)
        Thread.sleep(250)
        val js = jobs.synchronized { jobs.values.toSeq }
        val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"[prof] $n pass=$pass wall=$wall%.3f s build=$tBuild%.3f s " +
          f"jobs=${js.size} jobWall=$jobWall%.3f s driverGap=${wall - jobWall}%.3f s")
        if (pass == 1) {
          js.sortBy(j => -(j.end - j.start)).take(14).foreach { j =>
            println(f"[prof]   job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s " +
              f"stages=${j.stages}%2d tasks=${j.tasks}%4d  " +
              j.stageNames.reverse.mkString(" <- ").take(120))
          }
        }
      }
    }
  }

  private def plans(sfDir: String): Unit = {
    val spark = GraftSession.local(8)
    val picks = Seq(
      "q01_pricing_summary" -> "scan -> partial HashAggregate -> exchange -> final (fixed-point long-pair sums, codegen)",
      "q25_count_distinct" -> "one deduping scan; Expand multi-distinct over the already-deduped frame",
      "d15_decontaminate" -> "map-only: one-pass gram kernel + sorted-intersect vs benchmark literal (no shuffle before sort)",
      "q03_shipping_priority" -> "star join: broadcast dims, shuffle only fact-fact, TakeOrdered",
      "q06_forecast_revenue" -> "selective filters pushed to parquet (PushedFilters), pruned ReadSchema",
      "q09_topn_per_group" -> "window top-N per group",
      "q33_asof_join" -> "as-of join via union + running last-value (single shuffle on user_id)",
      "e01_cosine_topk" -> "scaled-long exact cosine: codegen LongDot kernel, broadcast query vector",
      "e03_cosine_topk_kernel" -> "FloatCosine codegen kernel fused in WholeStageCodegen, TakeOrdered",
      "d07_minhash_lsh" -> "MinHash sketch agg -> band-bucket census -> bucket-local generate-and-filter kernel (survivors only; the candidate stream never shuffles)",
      "d12_lsh_exact_pipeline" -> "two-stage dedup: LSH candidates -> exact sorted-intersect verification",
      "l01_lance_scan_golden" -> "lance DSv2 columnar scan with column pruning",
      "l03_lance_vector_search" -> "scaled-long exact cosine over a lance dataset (columnar list<float> scan)",
      "l05_lance_delete" -> "deletion-vector-masked lance scan (row reader, live-row stats)",
      "e06c_ann_sql" -> "AnnTopKRewrite: ORDER BY graft_cosine DESC LIMIT k -> probe-list zone filter on the persisted IVF index (pruned fragments)",
      "q02_case_project" -> "sort narrow source columns; CASE/try_cast projection ABOVE the sort (range-exchange sampling re-executes only the cheap child)",
      "d10_rolling_hash" -> "map-only RollingDocHash kernel (replaces double posexplode + two keyed aggregations)",
      "e06d_ann_filtered" -> "filtered ANN (prefilter): user predicate kept, probe filter nested beneath, index fragments pruned",
      "l10_lance_take" -> "take path: pushed _rowaddr IN-list plans one fragment, decodes only owning pages",
      "f03_fts_search" -> "persisted FTS probe: term IN-list pushed into the postings scan (term-range fragments pruned), broadcast vocabulary join, fixed-point BM25, fused top-k",
      "d20_dup_span_coverage" -> "map-only gram-hash kernel -> 8-byte-key census -> skinny mark-back join (no strings shuffle)",
      "d21_pipeline_end2end" -> "quality gate -> dedup window -> budget window chained: one kernel scan, three shuffles total",
      "l20_runtime_prune" -> "dynamic pruning: the dim's realized key set reaches the lance scan as RuntimeFilters (fragments pruned at execution, join re-checks)",
      "d28_minhash_portable" -> "portable minhash: identical-signature collapse -> md5 bands mapped injectively to longs -> bucket-local kernel -> pair expansion",
      "d34_neardup_capped" -> "bounded near-dup contract: d28's portable sketch and bucket-local core edges, per-doc K-smallest partners from sliced group arrays + bounded neighbor menus — linear output, no pair materialization",
      "l21_partitioned_join" -> "storage-partitioned join: co-partitioned lance facts (KeyGroupedPartitioning) — join without exchange (broadcast at this SF; SPJ pinned in LancePartitionSpec)",
      "l22_partitioned_agg" -> "partition-key aggregation over a lang-partitioned corpus: partial aggs per value-fragment ARE the groups",
      "l23_bucketed_join" -> "bucket(16,key) SPJ through the lance catalog's bucket function: SMJ directly over the two scans, no join exchange",
      "e12_binary_quant" -> "binary quantization: sign-pack + hamming codegen kernels, top-50 candidates, exact integer-cosine re-rank",
      "d29_url_dedup" -> "URL canonicalize (map-only) -> canonical-URL survivor groupBy -> TopKAgg domain quota -> census join",
      "d31_heavy_hitters" -> "mergeable Misra-Gries summary (bounded map-side partials) -> broadcast-candidate exact recount -> provably-exact top-20",
      "d32_chunking" -> "map-only chunking: sequence+posexplode per doc, md5-pinned windows, no shuffle before the presentation sort",
      "l26_days_partitioned" -> "days(ts) SPJ through the catalog's days function: day-fragments zip on the raw timestamp (plan pinned in LanceDaysSpec)",
      "q67b_sample_reservoir" -> "portable reservoir(n): bottom-n by keyed md5 plans as TakeOrderedAndProject — per-partition O(n) heaps, no global sort",
      "f08_fts_boolean" -> "boolean FTS: ONE term-pruned postings scan + ONE per-doc aggregate answers must/should/must_not (no per-clause re-read, no semi/anti joins)",
      "e14_int8_quant" -> "int8 scalar quantization: integer-exact codes + int64 dots, broadcast query code, fused top-k")
    val sb = new StringBuilder
    sb.append(s"# PLANS — formatted physical plans of flagship queries (${Paths.get(sfDir).getFileName})\n\n")
    sb.append("Generated by `graft.Dev plans`; the shapes asserted in PlanSpec.\n")
    picks.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
