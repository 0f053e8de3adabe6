package graft.operators

import graft.sources.lance.{LanceFormat, LanceMaintenance}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained materialized aggregate views over lance
  * datasets, driven by the row-level change feed
  * ([[LanceMaintenance.changesBetween]]).
  *
  * A view is `SELECT keys, COUNT(*) AS cnt, SUM(c) AS sum_c ... GROUP BY
  * keys` over a source lance dataset with move-stable row ids. `create`
  * computes it once and stores it as its own lance dataset; `refresh`
  * advances it to the source's head WITHOUT rescanning the source: the
  * change feed between the last-refreshed version and the head yields the
  * delta rows (inserts +1, deletes -1), which aggregate to per-group
  * deltas; only AFFECTED groups are rewritten (one
  * [[LanceMaintenance.upsertWithDeletes]] commit — groups whose count
  * reaches zero are dropped).
  *
  * Exactness contract (refresh ≡ full recompute, bit-for-bit):
  *  - `cnt` is a long count; delta arithmetic is long addition.
  *  - every `SUM` column is accumulated as DECIMAL(38,6) (integral
  *    sources as BIGINT) — associative exact arithmetic, so
  *    `old + (Σ inserts − Σ deletes)` equals a recomputed sum exactly,
  *    independent of accumulation order. No float sums anywhere.
  *  - a group's sum with no non-null values is stored as 0, not NULL
  *    (SQL's `SUM` of nothing is NULL, which is not incrementally
  *    representable as `old + delta`); a per-sum-column non-null count
  *    `cntnn_<c>` IS maintained (long delta arithmetic, like `cnt`), so
  *    consumers wanting SQL semantics apply
  *    `CASE WHEN cntnn_<c> = 0 THEN NULL ELSE sum_<c> END`.
  *  - group keys must be non-null (enforced): NULL keys don't equi-join
  *    during the merge, which would duplicate groups.
  *
  * 100 TB shape: refresh work is proportional to the CHANGE SET, not the
  * corpus — for append/delete-only intervals the change feed is a
  * manifest diff (new fragments scanned whole, deletion-vector diffs
  * fetched by address; see [[LanceMaintenance.changesBetween]]), falling
  * back to `_rowid` anti-joins only across compaction/restore; the delta
  * aggregate shuffles only changed rows; the merge broadcast-semi-prunes
  * the view to affected groups before a delta-sized outer join; the
  * upsert commit stages only affected groups and patches deletion
  * bitmaps executor-side. A view over 100 TB with a 0.1% daily churn
  * refreshes with ~0.1%-of-corpus I/O.
  *
  * Refresh metadata (source path, keys, sum columns, last refreshed
  * source version) lives in `_matview/<mvVersion>.props`, keyed by the
  * view's OWN manifest version so a reader always sees metadata
  * consistent with the data it reads. The props file is written after
  * the data commit; a crash in between leaves the view one refresh
  * behind with stale-but-consistent metadata for the PREVIOUS version —
  * `refresh` detects the orphaned head (no props for head version) and
  * refuses with a "re-create" error rather than double-applying a delta.
  *
  * Reference direction: lance exposes CDC-style versioning
  * (`/root/reference` crate's `Dataset` versions); materialized-view
  * maintenance on top is our [EXT] extension — the standard
  * delta-maintenance construction for distributive aggregates.
  */
object MatView {

  /** `dims` = broadcast dimension joins applied BEFORE the aggregate
    * (the star-rollup view shape), each (dimPath, factKey, dimKey,
    * dimVersion) — chained in order, so a later dim may join on a column
    * an earlier dim contributed (snowflake). Every dim is pinned at its
    * recorded version; refresh refuses if any advanced (a dim change can
    * invalidate every group — re-create, or version the dim separately).
    * Inner joins: fact rows with no dim match contribute nothing,
    * identically in create and refresh. */
  final case class Spec(src: String, keys: Seq[String], sums: Seq[String],
                        lastVersion: Long, minMax: Seq[String] = Nil,
                        dims: Seq[(String, String, String, Long)] = Nil)

  private def metaDir(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p, "_matview")

  private def writeSpec(spark: SparkSession, mvPath: String, spec: Spec,
                        mvVersion: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(mvPath, conf)
    fs.mkdirs(metaDir(p))
    val props = new java.util.Properties
    props.setProperty("src", spec.src)
    props.setProperty("keys", spec.keys.mkString(","))
    props.setProperty("sums", spec.sums.mkString(","))
    props.setProperty("minmax", spec.minMax.mkString(","))
    props.setProperty("lastVersion", spec.lastVersion.toString)
    spec.dims.zipWithIndex.foreach { case ((dp, fk, dk, dv), i) =>
      props.setProperty(s"dim.$i", dp)
      props.setProperty(s"dim.$i.factKey", fk)
      props.setProperty(s"dim.$i.dimKey", dk)
      props.setProperty(s"dim.$i.version", dv.toString)
    }
    val out = fs.create(
      new org.apache.hadoop.fs.Path(metaDir(p), s"$mvVersion.props"), true)
    try props.store(out, "graft matview") finally out.close()
  }

  /** Load the spec consistent with the view's CURRENT head version. */
  def loadSpec(spark: SparkSession, mvPath: String): (Spec, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(mvPath, conf)
    val headManifest = LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None))
    val head = headManifest.version
    val f = new org.apache.hadoop.fs.Path(metaDir(p), s"$head.props")
    require(fs.exists(f),
      s"matview $mvPath: no metadata for head version $head — the view was " +
        "modified outside MatView (or a refresh crashed mid-commit); re-create it")
    val props = new java.util.Properties
    val in = fs.open(f)
    try props.load(in) finally in.close()
    def split(s: String) =
      if (s == null || s.isEmpty) Nil else s.split(",").toSeq
    val dims = Iterator.from(0)
      .map(i => Option(props.getProperty(s"dim.$i")).map(dp =>
        (dp, props.getProperty(s"dim.$i.factKey"),
         props.getProperty(s"dim.$i.dimKey"),
         props.getProperty(s"dim.$i.version").toLong)))
      .takeWhile(_.isDefined).flatten.toSeq
    val spec = Spec(props.getProperty("src"), split(props.getProperty("keys")),
      split(props.getProperty("sums")),
      props.getProperty("lastVersion").toLong,
      split(props.getProperty("minmax")), dims)
    // on-disk format gate: views created before the cntnn_<c> columns
    // (NULL-sum recovery) lack them in the stored layout; refresh would
    // otherwise die on an unresolved column / schema-equality require
    // with a confusing message deep inside the upsert
    val stored = headManifest.fields.filter(_.parentId == -1).map(_.name).toSet
    val missing = spec.sums.map(c => s"cntnn_$c").filterNot(stored)
    require(missing.isEmpty,
      s"matview $mvPath: stored layout predates the cntnn_<c> format " +
        s"(missing ${missing.mkString(", ")}) — the view format changed; " +
        "re-create the view with MatView.create")
    (spec, head)
  }

  /** The exact-arithmetic aggregate list for one grouped pass. */
  private def aggCols(df: DataFrame, sums: Seq[String],
                      minMax: Seq[String] = Nil): Seq[Column] =
    (count(lit(1)).as("cnt") +: sums.map { c =>
      val dt = df.schema(c).dataType
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          coalesce(sum(col(c)).cast(LongType), lit(0L)).as(s"sum_$c")
        case _: DecimalType | DoubleType | FloatType =>
          coalesce(sum(col(c).cast(DecimalType(38, 6))),
                   lit(BigDecimal(0)).cast(DecimalType(38, 6))).as(s"sum_$c")
        case other => throw new IllegalArgumentException(
          s"matview: SUM over ${other.simpleString} column '$c' unsupported")
      }
    }) ++ sums.map(c => count(col(c)).as(s"cntnn_$c")) ++ minMax.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))

  private def requireKeysNonNull(df: DataFrame, keys: Seq[String],
                                 what: String): Unit = {
    val nulls = df.filter(keys.map(col(_).isNull).reduce(_ || _)).limit(1)
    require(nulls.isEmpty,
      s"matview: NULL group key in $what — keys must be non-null " +
        "(NULL keys don't equi-join during incremental merge)")
  }

  /** Apply the spec'd broadcast dimension joins (pinned versions),
    * chained in declaration order. */
  private def joined(spark: SparkSession, df: DataFrame,
                     dims: Seq[(String, String, String, Long)]): DataFrame =
    dims.foldLeft(df) { case (acc, (dp, fk, dk, dv)) =>
      val d = spark.read.format("lance")
        .option("versionAsOf", dv.toString).load(dp)
      acc.join(broadcast(d), col(fk) === d(dk))
    }

  /** Full compute + store; returns the source version the view reflects.
    * `minMax` columns additionally maintain `min_<c>`/`max_<c>`: inserts
    * merge incrementally (`least`/`greatest`); a delete CAN retire the
    * extremum, so refresh recomputes delete-touched groups from the
    * source (semi-join pruned — work ∝ those groups' rows, which a
    * key-partitioned or sorted source layout prunes to few fragments). */
  def create(spark: SparkSession, srcPath: String, mvPath: String,
             keys: Seq[String], sums: Seq[String],
             minMax: Seq[String] = Nil,
             dims: Seq[(String, String, String)] = Nil): Long = {
    require(keys.nonEmpty, "matview needs at least one group key")
    val conf = spark.sessionState.newHadoopConf()
    val (sfs, sp) = LanceFormat.fileSystem(srcPath, conf)
    val srcManifest = LanceFormat.readManifest(sfs,
      LanceFormat.latestManifestPath(sfs, sp, None))
    require(srcManifest.stableRowIds,
      s"matview source $srcPath needs move-stable row ids " +
        "(write it with option(\"stableRowIds\", true)) — the change feed " +
        "that drives refresh requires stable row identity")
    val v = srcManifest.version
    // pin the snapshot: compute at exactly version v even if a concurrent
    // writer advances the head mid-create
    val src = spark.read.format("lance")
      .option("versionAsOf", v.toString).load(srcPath)
    // pin each dim at ITS current head — refresh joins the same versions
    val pinnedDims = dims.map { case (dp, fk, dk) =>
      (dp, fk, dk, LanceFormat.headVersion(conf, dp))
    }
    val base = joined(spark, src, pinnedDims)
    requireKeysNonNull(base.select(keys.map(col): _*), keys, srcPath)
    val aggs = aggCols(base, sums, minMax)
    val mv = base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    mv.write.format("lance").mode("overwrite").save(mvPath)
    val mvVersion = LanceFormat.headVersion(conf, mvPath)
    writeSpec(spark, mvPath,
      Spec(srcPath, keys, sums, v, minMax, pinnedDims), mvVersion)
    v
  }

  /** Sibling sessions tuned for DELTA-SIZED work: AQE off (each adaptive
    * stage otherwise materializes as its own serial job — pure overhead
    * when every stage is a few thousand rows) and few shuffle
    * partitions. Shares the SparkContext/cache with the real session;
    * picked only when the manifest-metadata change-set estimate is small,
    * so big refreshes keep AQE's coalescing and skew handling. */
  private val quietSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]
  private def quietSession(spark: SparkSession): SparkSession =
    quietSessions.synchronized {
      var q = quietSessions.get(spark)
      if (q == null) {
        q = spark.newSession()
        quietSessions.put(spark, q)
      }
      // newSession() builds session state from SparkConf DEFAULTS and
      // would drop the caller's runtime-set SQL confs (timezone, ANSI,
      // caseSensitive, ...) — a small-delta refresh must evaluate under
      // the SAME semantics as a large-delta one. Re-sync the runtime conf
      // on EVERY pick (the caller may have changed it since the sibling
      // was built), then override only the two delta-tuning knobs.
      val overrides = Set("spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions")
      val qc = q
      val callerAll = spark.conf.getAll
      callerAll.foreach { case (k, v) =>
        if (!overrides(k)) {
          try if (!qc.conf.getOption(k).contains(v)) qc.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
        }
      }
      // reverse diff: a key the caller has since UNSET (a dropped ANSI or
      // timezone override, a stale graft.* toggle) must not linger in the
      // cached sibling — unset restores the session default, matching
      // what the caller now evaluates under
      qc.conf.getAll.keys.foreach { k =>
        if (!overrides(k) && !callerAll.contains(k)) {
          try qc.conf.unset(k)
          catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf
        }
      }
      q.conf.set("spark.sql.adaptive.enabled", "false")
      q.conf.set("spark.sql.shuffle.partitions", "8")
      q
    }

  /** Advance the view to the source's head via the change feed; returns
    * the source version the view now reflects. Work ∝ |change set|. */
  def refresh(spark0: SparkSession, mvPath: String): Long = {
    val (spec, mvHead) = loadSpec(spark0, mvPath)
    val conf = spark0.sessionState.newHadoopConf()
    val srcHead = LanceFormat.headVersion(conf, spec.src)
    if (srcHead == spec.lastVersion) return spec.lastVersion // up to date
    // size the EXECUTION to the change set (known from manifest metadata
    // before planning anything). Recompute-mode (min/max) views are
    // excluded: their refresh work is proportional to the TOUCHED
    // GROUPS' full row counts, which a small change set does not bound.
    // `graft.matview.quiet=off` pins refresh to the caller's session —
    // the differential-test hook proving quiet-path ≡ main-path results
    val spark = LanceMaintenance.changeSetEstimate(
        spark0, spec.src, spec.lastVersion, srcHead) match {
      case Some(n) if n <= 2000000L && spec.minMax.isEmpty &&
          spark0.conf.get("graft.matview.quiet", "auto") != "off" =>
        quietSession(spark0)
      case _ => spark0
    }

    spec.dims.foreach { case (dp, _, _, dv) =>
      val dHead = LanceFormat.headVersion(conf, dp)
      require(dHead == dv,
        s"matview $mvPath: dimension $dp advanced (v$dv -> v$dHead) — a dim " +
          "change can invalidate every group; re-create the view")
    }
    val ch = joined(spark, LanceMaintenance.changesBetween(spark, spec.src,
      spec.lastVersion, srcHead), spec.dims)
    val sign = when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
    val isIns = col("_change") === "insert"
    // per-group deltas in the SAME exact interiors as create(); for
    // min/max columns: insert-side extrema + a delete marker
    val deltaAggs: Seq[Column] = (sum(sign).as("d_cnt") +: spec.sums.map { c =>
      val dt = ch.schema(c).dataType
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          coalesce(sum(sign * col(c)).cast(LongType), lit(0L)).as(s"d_$c")
        case _ =>
          coalesce(sum(sign.cast(DecimalType(38, 6)) *
                       col(c).cast(DecimalType(38, 6))).cast(DecimalType(38, 6)),
                   lit(BigDecimal(0)).cast(DecimalType(38, 6))).as(s"d_$c")
      }
    }) ++ spec.sums.map(c =>
      coalesce(sum(when(col(c).isNotNull, sign)).cast(LongType), lit(0L))
        .as(s"dnn_$c")) ++ spec.minMax.flatMap(c => Seq(
      min(when(isIns, col(c))).as(s"dmin_$c"),
      max(when(isIns, col(c))).as(s"dmax_$c"))) :+
      max(when(isIns, lit(0)).otherwise(lit(1))).as("_hasDel")
    val delta0 = ch.groupBy(spec.keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)

    // a delete can retire a stored extremum, so delete-touched groups of a
    // min/max view recompute from the source (semi-join pruned); pure
    // count/sum views stay fully delta-arithmetic
    val needRecompute = spec.minMax.nonEmpty
    // the per-group delta appears repeatedly downstream (under the
    // broadcast semi-prune, as the outer-join probe side, and as
    // touchedKeys in recompute mode) — persist it so the change feed is
    // evaluated once: the broadcast subjob fills the cache, every later
    // stage reads it
    val deltaCached = delta0.persist()
    val delta =
      if (needRecompute) deltaCached.filter(col("_hasDel") === 0)
      else deltaCached
    val touchedKeys =
      if (needRecompute)
        deltaCached.filter(col("_hasDel") === 1).select(spec.keys.map(col): _*)
      else null

    val cur = spark.read.format("lance").load(mvPath)
    // merge strategy by the view's size, read FREE from its manifest's
    // live-row counts: a small view broadcasts whole into the outer merge
    // (one join stage); a big view is first broadcast-semi-pruned to
    // affected groups so the outer merge is delta-sized on both sides
    val mvLiveRows = {
      val (mfs, mp) = LanceFormat.fileSystem(mvPath, conf)
      LanceFormat.readManifest(mfs,
        LanceFormat.latestManifestPath(mfs, mp, None))
        .fragments.map(_.liveRows).sum
    }
    val merged =
      if (mvLiveRows <= 1000000L) delta.join(broadcast(cur), spec.keys, "left")
      else {
        val affected = cur.join(
          broadcast(delta.select(spec.keys.map(col): _*)), spec.keys, "left_semi")
        delta.join(affected, spec.keys, "left")
      }
    val newCnt = coalesce(col("cnt"), lit(0L)) + col("d_cnt")
    val mvSchema = cur.schema
    val outCols: Seq[Column] = spec.keys.map(col) ++
      (newCnt.as("cnt") +: spec.sums.map { c =>
        val tgt = mvSchema(s"sum_$c").dataType
        (coalesce(col(s"sum_$c"), lit(0).cast(tgt)) + col(s"d_$c"))
          .cast(tgt).as(s"sum_$c")
      }) ++ spec.sums.map(c =>
        (coalesce(col(s"cntnn_$c"), lit(0L)) + col(s"dnn_$c"))
          .as(s"cntnn_$c")) ++ spec.minMax.flatMap(c => Seq(
        least(col(s"min_$c"), col(s"dmin_$c")).as(s"min_$c"),
        greatest(col(s"max_$c"), col(s"dmax_$c")).as(s"max_$c")))
    // ONE persisted materialization of the change-feed + merge DAG: the
    // upsert/zero splits, the null-key guard, and the commit's three
    // evaluations (deletion matching, emptiness probe, staging write)
    // all read this delta-sized cache instead of re-running the feed
    val resolved = merged.select((outCols :+ newCnt.as("_newCnt")): _*)
      .persist()
    // insert-only groups can't reach zero; zeros come from pure-delta mode
    val incUpserts = resolved.filter(col("_newCnt") > 0).drop("_newCnt")
    val incZeros = resolved.filter(col("_newCnt") === 0)
      .select(spec.keys.map(col): _*)

    var recomputedCache: Option[DataFrame] = None
    val (upserts, zeros) =
      if (!needRecompute) (incUpserts, incZeros)
      else {
        // recompute delete-touched groups at the pinned head snapshot
        val srcNow = joined(spark, spark.read.format("lance")
          .option("versionAsOf", srcHead.toString).load(spec.src), spec.dims)
        val touchedRows = srcNow.join(broadcast(touchedKeys),
          spec.keys, "left_semi")
        val rAggs = aggCols(srcNow, spec.sums, spec.minMax)
        val recomputed = touchedRows.groupBy(spec.keys.map(col): _*)
          .agg(rAggs.head, rAggs.tail: _*).persist()
        recomputedCache = Some(recomputed)
        // groups whose rows all vanished produce no recomputed row → drop
        val vanished = touchedKeys.join(
          recomputed.select(spec.keys.map(col): _*), spec.keys, "left_anti")
        (incUpserts.unionByName(
           recomputed.select(incUpserts.columns.map(col).toIndexedSeq: _*)),
         incZeros.unionByName(vanished))
      }
    try {
      val keyNull = spec.keys.map(col(_).isNull).reduce(_ || _)
      if (!needRecompute) {
        // ONE action materializes the delta cache AND answers every
        // guard + both branch sizes (pure-delta mode: upserts/zeros are
        // filters of `resolved`, so its stats cover them exactly):
        //  - NULL group key (would silently miss the equi-merge)
        //  - negative merged count (inconsistent feed — such a group
        //    matches neither branch and would silently survive;
        //    round-7 ADVICE)
        val st = resolved.select(
          sum(when(keyNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(col("_newCnt") < 0, 1L).otherwise(0L)).as("neg"),
          sum(when(col("_newCnt") > 0, 1L).otherwise(0L)).as("ups"),
          sum(when(col("_newCnt") === 0, 1L).otherwise(0L)).as("zeros")
        ).head()
        def n(i: Int) = if (st.isNullAt(i)) 0L else st.getLong(i)
        require(n(0) == 0,
          s"matview: NULL group key in change feed of ${spec.src} — keys " +
            "must be non-null (NULL keys don't equi-join during " +
            "incremental merge)")
        require(n(1) == 0,
          s"matview $mvPath: merged group count went negative — the " +
            "change feed is inconsistent with the stored view (source " +
            "modified outside lance-tracked commits?); re-create the view")
        if (n(2) == 0 && n(3) == 0) {
          // empty effective delta (e.g. compaction-only interval): no
          // data commit — just advance the recorded source version
          writeSpec(spark, mvPath, spec.copy(lastVersion = srcHead), mvHead)
          return srcHead
        }
        val committed = LanceMaintenance.upsertWithDeletes(
          spark, mvPath, upserts, spec.keys, zeros,
          srcEmptyHint = Some(n(2) == 0),
          // ~4M group rows per staged fragment, known exactly from the
          // stats probe — a tiny delta stages ONE fragment, not one
          // micro-fragment per cached partition
          stagePartitions = Some(
            math.min(32L, n(2) / 4000000L + 1L).toInt),
          // CAS on the view version captured at loadSpec: a racing
          // refresh of the same interval must conflict loudly (an
          // insert-only twin would otherwise pass the lenient rebase
          // and double-apply the delta)
          expectedVersion = Some(mvHead))
        writeSpec(spark, mvPath, spec.copy(lastVersion = srcHead), committed)
      } else {
        // recompute mode: `upserts` includes recomputed groups that are
        // NOT rows of `resolved`, so the guards run on the union
        requireKeysNonNull(upserts.select(spec.keys.map(col): _*),
          spec.keys, s"change feed of ${spec.src}")
        require(resolved.filter(col("_newCnt") < 0).limit(1).isEmpty,
          s"matview $mvPath: merged group count went negative — the " +
            "change feed is inconsistent with the stored view (source " +
            "modified outside lance-tracked commits?); re-create the view")
        val committed = LanceMaintenance.upsertWithDeletes(
          spark, mvPath, upserts, spec.keys, zeros,
          expectedVersion = Some(mvHead))
        writeSpec(spark, mvPath, spec.copy(lastVersion = srcHead), committed)
      }
    } finally {
      resolved.unpersist(false)
      deltaCached.unpersist(false)
      recomputedCache.foreach(_.unpersist(false))
    }
    srcHead
  }

  def read(spark: SparkSession, mvPath: String): DataFrame =
    spark.read.format("lance").load(mvPath)
}
