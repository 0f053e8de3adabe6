package lancebench

/** Per-layer metrics of a traced run, from the spans around each call
  * into a layer and the Spark jobs tagged with their ids. Times are the
  * mean per call of the named span; Spark figures are means per traced
  * op. A layer the workload never calls reports 0. */
object Layers {
  /** metric name -> span name whose mean duration it reports */
  val SpanTimes: Seq[(String, String)] = Seq(
    "manifest.read_ms" -> "manifest.read",
    "scan.exec_ms" -> "scan.exec",
    "write.append_ms" -> "write.append",
    "write.upsert_ms" -> "write.upsert",
    "write.delete_ms" -> "write.delete",
    "write.compact_ms" -> "write.compact",
    "ann.search_ms" -> "ann.search",
    "ann.update_ms" -> "ann.update",
    "ann.build_ms" -> "ann.build",
    "fts.search_ms" -> "fts.search",
    "fts.update_ms" -> "fts.update",
    "fts.build_ms" -> "fts.build",
    "btree.lookup_ms" -> "btree.lookup",
    "btree.update_ms" -> "btree.update",
    "dedup.lsh_ms" -> "dedup.lsh",
    "dedup.cc_ms" -> "dedup.cc")

  /** `recs` are the loop's ops. Layer times come from every recorded span:
    * the traced cycles' ops and their follow-ups, then the traced
    * maintenance and final check. Per-op figures come from the spans
    * inside the traced loop ops only. */
  def compute(t: Tracer, recs: Seq[OpRec], cycle: Int, cores: Int): Seq[Metric] = {
    val ops = recs.filter(_.traced)
    val opIds = ops.map(_.id).toSet
    val allSpans = t.spans.toSeq
    val byId = allSpans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent == 0L) s else root(byId(s.parent))
    val spans = allSpans.filter { s =>
      val r = root(s)
      r.name.startsWith("op.") && opIds.contains(r.opId)
    }
    val byName = allSpans.groupBy(_.name)
    def spansOf(n: String) = byName.getOrElse(n, Nil)
    def meanMs(n: String) = Report.mean(spansOf(n).map(_.ms))
    def attr(n: String, k: String) = spansOf(n).flatMap(_.attrs.get(k))
    val opSpans = spans.filter(_.parent == 0L)
    val opWall = opSpans.map(_.ms).sum
    val nOps = math.max(opSpans.size, 1).toDouble

    // jobs -> op: by job group (a span id), else by the op running when
    // the job started (jobs submitted from the engine's helper threads)
    val spanOp = spans.map(s => s.id.toString -> s.opId).toMap
    val jobsByOp = t.jobs.toSeq.flatMap { j =>
      spanOp.get(j.group).orElse(
        opSpans.find(o => j.start >= o.start && j.start <= o.end).map(_.opId)).map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val stageOf = t.stageRecs.toMap
    val opJobs = jobsByOp.values.flatten.toSeq
    val opStages = opJobs.flatMap(_.stages).distinct.flatMap(stageOf.get)
    val busy = opStages.map(_.busyMs).sum
    // driver gap: op wall not covered by any of its jobs
    val gap = opSpans.map { o =>
      val iv = jobsByOp.getOrElse(o.opId, Nil).map(j => (math.max(j.start.toDouble, o.start), math.min(j.end.toDouble, o.end)))
      o.ms - union(iv)
    }.sum
    // planning phases of the queries each traced op ran
    val plans = t.plans.toSeq.filter(p => opSpans.exists(o => p.start >= o.start - 1 && p.start <= o.end))

    val lanceBytes = opSpans.flatMap(_.attrs.get("lance_bytes")).sum
    val scanStages = opStages.filter(_.recordsRead > 0)
    val rowsIn = scanStages.map(_.recordsRead).sum.toDouble
    val writeSpans = spans.filter(_.name.startsWith("write."))
    val diskBytes = writeSpans.flatMap(_.attrs.get("disk_bytes")).sum
    val userBytes = writeSpans.flatMap(_.attrs.get("user_bytes")).sum
    val cand = attr("dedup.lsh", "pairs").sum
    val verified = attr("dedup.pairs", "pairs").sum
    // self time: op wall minus the part its direct children cover
    val covered = opSpans.map { o =>
      union(spans.filter(_.parent == o.id).map(c => (c.start, c.end)))
    }.sum

    def m(name: String, v: Double, unit: String, n: Long) = Metric(name, v, unit, n)
    SpanTimes.map { case (metric, span) => m(metric, meanMs(span), "ms", spansOf(span).size.toLong) } ++ Seq(
      m("manifest.bytes", Report.mean(attr("manifest.read", "bytes")), "bytes", spansOf("manifest.read").size),
      m("manifest.versions", attr("manifest.read", "version").maxOption.getOrElse(0.0), "count", spansOf("manifest.read").size),
      m("scan.bytes_read", lanceBytes / nOps, "bytes", opSpans.size),
      m("scan.rows_out", rowsIn / nOps, "rows", opSpans.size),
      m("scan.bytes_per_row", if (rowsIn > 0) lanceBytes / rowsIn else 0.0, "bytes", opSpans.size),
      m("scan.tasks", scanStages.map(_.tasks).sum / nOps, "count", opSpans.size),
      m("write.bytes_per_user_byte", if (userBytes > 0) diskBytes / userBytes else 0.0, "ratio", writeSpans.size),
      m("write.fragments", Report.mean(attr("manifest.read", "fragments")), "count", spansOf("manifest.read").size),
      m("plans.analysis_ms", plans.map(_.analysisMs).sum / nOps, "ms", plans.size),
      m("plans.optimize_ms", plans.map(_.optimizeMs).sum / nOps, "ms", plans.size),
      m("plans.physical_ms", plans.map(_.physicalMs).sum / nOps, "ms", plans.size),
      m("dedup.verify_ms", math.max(0.0, meanMs("dedup.pairs") - meanMs("dedup.lsh")), "ms", spansOf("dedup.pairs").size),
      m("dedup.candidate_pairs", Report.mean(attr("dedup.lsh", "pairs")), "count", spansOf("dedup.lsh").size),
      m("dedup.verified_pairs", Report.mean(attr("dedup.pairs", "pairs")), "count", spansOf("dedup.pairs").size),
      m("dedup.useful_pair_ratio", if (cand > 0) verified / cand else 0.0, "ratio", spansOf("dedup.lsh").size),
      m("dedup.clusters", Report.mean(attr("dedup.cc", "clusters")), "count", spansOf("dedup.cc").size),
      m("spark.jobs", opJobs.size / nOps, "count", opSpans.size),
      m("spark.stages", opStages.size / nOps, "count", opSpans.size),
      m("spark.tasks", opStages.map(_.tasks).sum / nOps, "count", opSpans.size),
      m("spark.task_busy_ms", busy / nOps, "ms", opSpans.size),
      m("spark.sched_delay_ms", opStages.map(_.schedMs).sum / nOps, "ms", opSpans.size),
      m("spark.driver_gap_ms", gap / nOps, "ms", opSpans.size),
      m("spark.shuffle_write_bytes", opStages.map(_.shuffleWrite).sum / nOps, "bytes", opSpans.size),
      m("spark.spill_bytes", opStages.map(_.spill).sum / nOps, "bytes", opSpans.size),
      m("spark.core_util", if (opWall > 0) busy / (opWall * cores) else 0.0, "ratio", opSpans.size),
      m("trace.span_coverage", if (opWall > 0) covered / opWall else 0.0, "ratio", opSpans.size),
      m("trace.overhead", overhead(recs, cycle), "ratio", ops.size))
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Traced op wall over the mean wall of the same op slot in the
    * untraced cycles before and after it, summed over traced ops: the
    * relative cost of tracing, 0 = none. */
  def overhead(recs: Seq[OpRec], cycle: Int): Double = {
    val byId = recs.map(r => r.id -> r).toMap
    val pairs = recs.filter(_.traced).flatMap { r =>
      for {
        a <- byId.get(r.id - cycle) if !a.traced
        b <- byId.get(r.id + cycle) if !b.traced
      } yield (r.ms, (a.ms + b.ms) / 2)
    }
    val u = pairs.map(_._2).sum
    if (u > 0) pairs.map(_._1).sum / u - 1 else 0.0
  }
}
