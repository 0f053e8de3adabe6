package graft.queries

import graft.Tables
import graft.functions.ArrayKernels.longDot
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** [EXT] Vector similarity search over `embeddings` (SURVEY §2.5).
  *
  * Oracle-checked variants quantize floats to a 1e-7 grid (double →
  * ROUND(x * 1e7) → BIGINT — identical on both engines) and do all linear
  * algebra in exact 64-bit integers: order-independent, overflow-safe
  * (|x| ≤ ~1e8 ⇒ 64-dim dot ≤ ~6e17 < 2^63), and evaluated by the
  * codegen'd [[graft.functions.LongDot]] kernel — no dims explosion, no
  * decimal slow path. Only the final cosine/sqrt happens in doubles, from
  * identical integer inputs, rounded to 9 digits (DuckDB's decimal→double
  * cast taught us 1-ulp paranoia).
  */
object VectorOps {

  /** Quantized vector: array<bigint> on the 1e-7 grid. */
  private def qvec(c: Column): Column =
    transform(c, x => round(x.cast(DoubleType) * 10000000.0).cast(LongType))

  private def quantized(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.register(s, dir)
    // dense per-row kernels (sign-pack, int8 codes, long dots) over a
    // possibly single-row-group file: fan the scan across cores first —
    // values are per-row deterministic and every consumer sorts on a
    // total key, so only the parallelism changes (the Similarity.fanOut
    // rationale at the query layer)
    val e = t("embeddings")
    val target = s.sparkContext.defaultParallelism
    val fanned = if (e.rdd.getNumPartitions >= target) e else e.repartition(target)
    fanned.select(col("vec_id"), col("label"), qvec(col("embedding")).as("v"))
  }

  /** Oracle twin of [[qvec]]+dims: one row per (vec, dim), scaled longs. */
  private val oDims =
    """SELECT vec_id, label, CAST(i AS INT) AS i,
              CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS v
       FROM (SELECT vec_id, label, embedding,
                    unnest(generate_series(1, len(embedding))) AS i
             FROM embeddings)"""

  /** Persisted-IVF index location for one fixture dir (per-JVM temp). */
  private lazy val ivfWorkDir =
    QDef.tempWorkDir("graft-ivf")
  private def ivfPath(dir: String): String =
    s"$ivfWorkDir/${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** IVF list count for a corpus of n vectors: ~sqrt(n), the standard IVF
    * sizing — probe cost nProbe · n / nLists ≈ nProbe · sqrt(n) stays
    * SUB-linear as the corpus grows (a fixed list count would make every
    * probe scan a fixed fraction of the corpus — the e09 round-10 lesson
    * applied to the index family). Floored at 16 (tiny fixtures) and
    * capped at 1024 (K-means runs on a bounded 16k Lloyd sample; more
    * lists than ~sample/16 starves centroids). */
  private def ivfLists(n: Long): Int =
    math.min(1024, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  private def ensureIvf(s: SparkSession, dir: String): Unit = {
    val vectors = new java.io.File(s"${ivfPath(dir)}/vectors.lance/_versions")
    if (!vectors.exists()) {
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      Similarity.ivfBuildPersist(corpus, "vec_id", "embedding",
        nLists = ivfLists(corpus.count()), indexPath = ivfPath(dir))
    }
  }

  /** Persisted IVF index over the BATCH corpus (`vec_id >= 10` — the
    * e10 query/corpus split), at its own path so it never collides with
    * the `vec_id > 0` index. Built on first touch per dir; probe calls
    * then pay neither a count job nor a KMeans fit. */
  private def ensureIvfBatch(s: SparkSession, dir: String): Unit = {
    val vectors = new java.io.File(s"${ivfPath(dir)}_batch/vectors.lance/_versions")
    if (!vectors.exists()) {
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") >= 10)
      Similarity.ivfBuildPersist(corpus, "vec_id", "embedding",
        nLists = ivfLists(corpus.count()), indexPath = s"${ivfPath(dir)}_batch")
    }
  }

  /** Fixture for the full between-rebuilds contract (e06e): a lance
    * corpus whose IVF index is STALE in both directions — built over
    * `vec_id % 5 <> 0` only (the %5 slice is the post-build append
    * tail), then `vec_id % 9 = 0` deleted from the live source AFTER the
    * append (hitting indexed and tail rows alike). Returns the index
    * base path; the corpus lives at `<base>/corpus.lance`. */
  private val builtComb = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def ensureIvfCombined(s: SparkSession, dir: String): String =
    // per-JVM memoization (the ensureCombinedFts pattern), NOT an
    // on-disk existence check: the guard must cover the LAST fixture
    // step, and checking the first artifact written (corpus.lance)
    // would let a crash mid-fixture leave a permanently wrong shape
    // (index-less or deletion-less) that later runs silently accept.
    // All steps overwrite/rebuild, so a re-run self-heals a partial dir.
    builtComb.computeIfAbsent(dir, _ => {
      val base = s"${ivfPath(dir)}_comb"
      val src = s"$base/corpus.lance"
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      corpus.filter(col("vec_id") % 5 =!= 0)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(s, src, "vec_id", "embedding",
        nLists = ivfLists(corpus.count()), indexPath = base)
      corpus.filter(col("vec_id") % 5 === 0)
        .write.format("lance").mode("append").save(src)
      graft.sources.lance.LanceMaintenance.deleteWhere(s, src, "vec_id % 9 = 0")
      base
    })

  /** e08b's fixture — [[ensureIvfCombined]] for the PQ flavor: an IVF_PQ
    * index built (through the meta-recording Lance face) over the
    * `vec_id % 5 <> 0` slice only, the %5 slice appended after the build,
    * then `vec_id % 9 = 0` deleted from the live source. Same per-JVM
    * memoization rationale: the guard must cover the LAST fixture step. */
  private val builtPqComb = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def ensureIvfPqCombined(s: SparkSession, dir: String): String =
    builtPqComb.computeIfAbsent(dir, _ => {
      val base = s"${ivfPath(dir)}_pqcomb"
      val src = s"$base/corpus.lance"
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      corpus.filter(col("vec_id") % 5 =!= 0)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfPqBuildPersistLance(s, src, "vec_id", "embedding",
        nLists = ivfLists(corpus.count()), indexPath = base)
      corpus.filter(col("vec_id") % 5 === 0)
        .write.format("lance").mode("append").save(src)
      graft.sources.lance.LanceMaintenance.deleteWhere(s, src, "vec_id % 9 = 0")
      base
    })

  private def ensureIvfPq(s: SparkSession, dir: String): Unit = {
    val pq = new java.io.File(s"${ivfPath(dir)}/pq.lance/_versions")
    if (!pq.exists()) {
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      Similarity.ivfPqBuildPersist(corpus, "vec_id", "embedding",
        nLists = ivfLists(corpus.count()), indexPath = ivfPath(dir))
    }
  }

  private def cosExpr(dot: Column, na: Column, nb: Column): Column =
    round(dot.cast(DoubleType) /
      (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType))), 9)

  val defs: Seq[QDef] = Seq(

    // --- exact cosine top-k against a query vector (vec_id = 0) ----------
    QDef("e01_cosine_topk", (s, dir) => {
      val e = quantized(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") > 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
                cosExpr(longDot(col("v"), col("qv")),
                        longDot(col("v"), col("v")),
                        longDot(col("qv"), col("qv"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }, Some(s"""
      WITH d AS ($oDims),
      q AS (SELECT i AS qi, v AS qv FROM d WHERE vec_id = 0),
      qn AS (SELECT CAST(SUM(qv * qv) AS BIGINT) AS qnrm FROM q),
      dots AS (SELECT vec_id, CAST(SUM(v * qv) AS BIGINT) AS dot,
                      CAST(SUM(v * v) AS BIGINT) AS nrm
               FROM d JOIN q ON i = qi WHERE vec_id > 0 GROUP BY vec_id)
      SELECT vec_id,
             ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(nrm AS DOUBLE)) * SQRT(CAST(qnrm AS DOUBLE))), 9) AS cos
      FROM dots CROSS JOIN qn
      ORDER BY cos DESC, vec_id LIMIT 10""")),

    // --- exact L2 nearest neighbours (|a-b|^2 = na + nb - 2 dot) ----------
    QDef("e04_l2_nearest", (s, dir) => {
      val e = quantized(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") > 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
                round(sqrt((longDot(col("v"), col("v")) + longDot(col("qv"), col("qv"))
                            - lit(2L) * longDot(col("v"), col("qv"))).cast(DoubleType))
                        / 10000000.0, 9).as("l2_dist"))
        .orderBy(col("l2_dist"), col("vec_id"))
        .limit(10)
    }, Some(s"""
      WITH d AS ($oDims),
      q AS (SELECT i AS qi, v AS qv FROM d WHERE vec_id = 0),
      qn AS (SELECT CAST(SUM(qv * qv) AS BIGINT) AS qnrm FROM q),
      dots AS (SELECT vec_id, CAST(SUM(v * qv) AS BIGINT) AS dot,
                      CAST(SUM(v * v) AS BIGINT) AS nrm
               FROM d JOIN q ON i = qi WHERE vec_id > 0 GROUP BY vec_id)
      SELECT vec_id,
             ROUND(SQRT(CAST(nrm + qnrm - 2 * dot AS DOUBLE)) / 10000000.0, 9) AS l2_dist
      FROM dots CROSS JOIN qn
      ORDER BY l2_dist, vec_id LIMIT 10""")),

    // --- embedding near-dup pairs (cosine >= τ, blocked by label) ---------
    // Label-blocked self-join over whole vectors; the codegen'd integer
    // dot kernel runs per pair — |pairs| rows move, not |pairs| x dim.
    // CONTRACT NOTE (sf1 bench, 56x at 10x data): label cardinality is
    // FIXED, so blocks grow with N and the exact pair compute is
    // quadratic-in-block by declaration — this is the oracle-checkable
    // exact baseline of the family, like d28's pair list. The scale
    // paths are e09 (sqrt-N k-means blocking, linear expected pair
    // work) and e05/e06 (LSH/IVF candidates + exact re-rank).
    QDef("e02_embedding_neardup", (s, dir) => {
      val e = quantized(s, dir)
      // self-norms computed ONCE per row before the pair join — inside the
      // join they would run per PAIR (|pairs| >> |rows|), tripling the
      // kernel work for values that only depend on one side
      val a = e.select(col("vec_id").as("vec_a"), col("label").as("lbl"),
                       col("v").as("va"), longDot(col("v"), col("v")).as("na"))
      val b = e.select(col("vec_id").as("vec_b"), col("label").as("lbl_b"),
                       col("v").as("vb"), longDot(col("v"), col("v")).as("nb"))
      a.join(b, col("lbl") === col("lbl_b") && col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
                cosExpr(longDot(col("va"), col("vb")),
                        col("na"), col("nb")).as("cos"))
        .filter(col("cos") >= 0.3)
        .orderBy("vec_a", "vec_b")
    }, Some(s"""
      WITH d AS ($oDims),
      norms AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm FROM d GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
        FROM d a JOIN d b ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2)
      SELECT vec_a, vec_b, cos FROM (
        SELECT vec_a, vec_b,
               ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))), 9) AS cos
        FROM dots JOIN norms na ON vec_a = na.vec_id
                  JOIN norms nb ON vec_b = nb.vec_id)
      WHERE cos >= 0.3
      ORDER BY vec_a, vec_b""")),

    // --- production kernels: brute-force + ANN (Spark-only, benched) ------
    QDef("e03_cosine_topk_kernel", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.cosineTopK(t("embeddings").filter(col("vec_id") > 0),
                            "vec_id", "embedding", query, 10)
    }, None),

    QDef("e05_ann_lsh_topk", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.annCosineTopK(t("embeddings").filter(col("vec_id") > 0),
                               "vec_id", "embedding", query, 10)
    }, None),

    // IVF build, explicitly labeled (the KMeans fit + index materialization
    // is the offline cost — benching it separately keeps e06 an honest
    // probe measurement). Persists vectors.lance (range-partitioned by
    // list_id -> fragment-stat pruning) + centroids.lance; returns the
    // list-occupancy histogram (rows-only: KMeans assignment is
    // engine-specific).
    QDef("e06_build", (s, dir) => {
      val t = Tables.register(s, dir)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      Similarity.ivfBuildPersist(corpus, "vec_id", "embedding",
                                 nLists = ivfLists(corpus.count()),
                                 indexPath = ivfPath(dir))
      s.read.format("lance").load(s"${ivfPath(dir)}/vectors.lance")
        .groupBy("list_id").agg(count(lit(1)).as("n")).orderBy("list_id")
    }, None),

    // IVF probe over the PERSISTED index (scale path): centroid read
    // (cached; ~ms from a fresh session — no KMeans), driver-side probe
    // pick, fragment-pruned scan of the probed lists, codegen cosine
    // top-k. Builds the index first if this runs standalone.
    QDef("e06_ivf_topk", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      ensureIvf(s, dir)
      Similarity.ivfSearchPersisted(s, ivfPath(dir), "vec_id", "embedding",
                                    query, k = 10, nProbe = 6)
    }, None),

    // MLlib BucketedRandomProjectionLSH approxSimilarityJoin (the SURVEY
    // §2.5-suggested similarity-join building block; bucket candidates are
    // hash-dependent -> rows-only, recall pinned by SimilaritySpec)
    QDef("e07_mllib_lsh_join", (s, dir) => {
      val t = Tables.register(s, dir)
      Similarity.l2SimilarityJoinLsh(
          t("embeddings").filter(col("vec_id") < 300), "vec_id", "embedding",
          radius = 1.2)
        .select(col("id_a"), col("id_b"), round(col("dist"), 6).as("dist"))
        .orderBy("id_a", "id_b")
    }, None),

    // the declarative ANN path: plain SQL `ORDER BY graft_cosine(...) DESC
    // LIMIT k` over the persisted index relation — no list_id or probe
    // logic in the query text; the AnnTopKRewrite optimizer rule injects
    // the probe filter and the scan prunes index fragments (SURVEY §4.2)
    QDef("e06c_ann_sql", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      ensureIvf(s, dir)
      graft.plans.GraftAnn.register(s"${ivfPath(dir)}/vectors.lance",
        Similarity.ivfCentroids(s, ivfPath(dir)), Similarity.DefaultNProbe)
      // sort key must be the bare kernel for the rule to recognize it
      s.read.format("lance").load(s"${ivfPath(dir)}/vectors.lance")
        .select(col("vec_id"),
                Similarity.cosine(col("embedding"), typedlit(query)).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos"), 9).as("cos"))
    }, None),

    // filtered ANN (lance PREFILTER analogue): a plain WHERE composes with
    // the declarative top-k — AnnTopKRewrite keeps the user predicate and
    // nests the probe filter beneath it, so ranking applies only to rows
    // passing the filter while the scan still prunes unprobed index
    // fragments (rows-only: probe set is index-specific; recall pinned by
    // SimilaritySpec's filtered-ANN test)
    QDef("e06d_ann_filtered", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      ensureIvf(s, dir)
      graft.plans.GraftAnn.register(s"${ivfPath(dir)}/vectors.lance",
        Similarity.ivfCentroids(s, ivfPath(dir)), Similarity.DefaultNProbe)
      s.read.format("lance").load(s"${ivfPath(dir)}/vectors.lance")
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"),
                Similarity.cosine(col("embedding"), typedlit(query)).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos"), 9).as("cos"))
    }, None),

    // IVF_PQ build, labeled offline (lance-index IVF_PQ analogue): writes
    // 8-byte codes instead of raw vectors; output is the compression
    // story — (rows, index_bytes, raw_bytes) with the ratio asserted
    // <= 10% by SimilaritySpec (rows-only: byte sizes are encoding-
    // specific).
    QDef("e08_build", (s, dir) => {
      import s.implicits._
      val t = Tables.register(s, dir)
      // unconditional rebuild — like e06_build, every invocation measures
      // the build (the per-JVM existence gate made second passes ~free,
      // so sf_small bench rows understated the build by ~40x; the probe
      // row keeps the gated ensureIvfPq for standalone runs)
      val corpus = t("embeddings").filter(col("vec_id") > 0)
      val n = corpus.count()
      Similarity.ivfPqBuildPersist(corpus, "vec_id", "embedding",
        nLists = ivfLists(n), indexPath = ivfPath(dir))
      val dim = corpus.select(col("embedding")).head().getSeq[Float](0).length
      def bytesOf(p: String): Long = {
        val f = new java.io.File(p)
        if (!f.exists()) 0L
        else if (f.isFile) f.length()
        else f.listFiles().map(x => bytesOf(x.getPath)).sum
      }
      val idx = bytesOf(s"${ivfPath(dir)}/pq.lance/data") +
        bytesOf(s"${ivfPath(dir)}/pq_codebooks.lance/data") +
        bytesOf(s"${ivfPath(dir)}/pq_centroids.lance/data")
      Seq((n, idx, n * dim * 4L)).toDF("n_vectors", "index_bytes", "raw_bytes")
    }, None),

    // IVF_PQ probe: ADC lookup scoring over the probed lists' 8-byte
    // codes + exact re-rank of the top candidates against the corpus
    // (recall >= 0.9 vs exact e01 pinned by SimilaritySpec)
    QDef("e08_ivfpq_topk", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      ensureIvfPq(s, dir)
      Similarity.ivfPqSearch(s, ivfPath(dir),
          t("embeddings").filter(col("vec_id") > 0), "vec_id", "embedding",
          query, k = 10, nProbe = 6)
        .select(col("vec_id"), round(col("cos"), 9).as("cos"))
    }, None),

    // probe-only twin over the PERSISTED index at double probe width —
    // the production probe path (cached centroid sidecar read +
    // fragment-pruned scan, no KMeans, no count job); nProbe=12 is the
    // wider-recall face, so vs e06_ivf_topk this row shows probe cost
    // scaling with the probed fraction (2x lists), not the corpus
    QDef("e06b_ivf_probe", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      ensureIvf(s, dir)
      Similarity.ivfSearchPersisted(s, ivfPath(dir), "vec_id", "embedding",
                                    query, k = 10, nProbe = 12)
    }, None),

    // --- the FULL between-rebuilds contract, composed (the crate's
    // dataset.search() between index rebuilds): the 2k probe candidates
    // re-rank exactly against the LIVE source (deleted rows drop out, a
    // re-appended id scores with its current vector, and the over-fetch
    // refills their slots), the tail side brute-forces only the
    // post-build fragments, and a grouped max merges the two. Rows-only
    // (IVF probe sets are index-specific); correctness pinned by the
    // combined+live/refill specs in SimilaritySpec. ----------------------
    QDef("e06e_ivf_combined_live", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val base = ensureIvfCombined(s, dir)
      Similarity.ivfSearchCombinedLive(s, base, s"$base/corpus.lance",
          "vec_id", "embedding", query, k = 10, nProbe = 6)
        .select(col("vec_id"), round(col("cos"), 9).as("cos"))
    }, None),

    // The same between-rebuilds contract, and the same body, for the PQ
    // flavor: only the candidate step differs (the top k·rerank by ADC
    // over pq.lance). Rows-only (ADC candidate sets are index-specific);
    // correctness pinned by the ivfPqSearchCombinedLive
    // mutate-all-three-ways spec.
    QDef("e08b_ivfpq_combined_live", (s, dir) => {
      val t = Tables.register(s, dir)
      val query = t("embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val base = ensureIvfPqCombined(s, dir)
      Similarity.ivfPqSearchCombinedLive(s, base, s"$base/corpus.lance",
          "vec_id", "embedding", query, k = 10, nProbe = 6)
        .select(col("vec_id"), round(col("cos"), 9).as("cos"))
    }, None),

    // --- batched ANN: per-query IVF top-k for a TABLE of query vectors ----
    // (the retrieval/dedup-pipeline shape: N queries join the corpus on
    // probed lists, grouped bounded-heap top-k per query — no driver loop;
    // rows-only: probe sets depend on the K-means fit; recall pinned by
    // SimilaritySpec)
    QDef("e10_batch_ann", (s, dir) => {
      val t = Tables.register(s, dir)
      val queries = t("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // PERSISTED index (first touch per dir builds it): probes read the
      // union of the batch's probe lists through fragment-stat pruning —
      // the production path, vs the old per-session in-memory build whose
      // bench rows measured the build, not the probe
      ensureIvfBatch(s, dir)
      val path = s"${ivfPath(dir)}_batch"
      val centroids = Similarity.ivfCentroids(s, path)
      val indexed = s.read.format("lance").load(s"$path/vectors.lance")
      Similarity.ivfBatchCosineTopK(indexed, centroids, "vec_id", "embedding",
                                    queries, "qid", "qvec", k = 5, nProbe = 6)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 9).as("cos"))
        .orderBy("qid", "rank")
    }, None),

    // --- SemDeDup-style semantic dedup: cluster-blocked cosine pairs ->
    //     connected components -> keep min id per component ---------------
    // (cluster assignments depend on the K-means fit -> rows-only; the
    // invariants — fixpoint reps, no two same-cluster survivors above the
    // threshold — are pinned by OperatorsSpec)
    QDef("e09_semantic_dedup", (s, dir) => {
      val t = Tables.register(s, dir)
      // IVF rule: clusters ~ sqrt(N), so the expected within-cluster
      // pair work stays LINEAR in N (fixed 16 clusters made blocks grow
      // 10x at sf1 and the pair join grow 100x — 12.5x wall in the sf1
      // bench). Count is one metadata-cheap job, cached by Tables
      val n = t("embeddings").count()
      graft.operators.Dedup.semanticDedup(
          t("embeddings"), "vec_id", "embedding",
          nClusters = math.max(16, math.ceil(math.sqrt(n / 8.0)).toInt),
          cosThreshold = 0.92)
        .groupBy("keep_id").agg(count(lit(1)).as("cluster_size"))
        .orderBy("keep_id")
    }, None),

    // --- late-interaction retrieval (ColBERT MaxSim; lancedb multivector) --
    // A query is a SET of vectors, a document (here: a label group) a SET
    // of vectors; score = sum over query vectors of the max cosine against
    // the doc's vectors. Scale shape: the 3-vector query BROADCASTS, the
    // corpus is touched once (codegen LongDot per pair), and only skinny
    // (label, qid, max) partials shuffle — map-side max collapses each
    // group before the exchange. Determinism: per-pair cosines round to 9
    // decimals (exact scaled-long interior), per-query maxima re-scale to
    // integer nano-units so the final per-doc SUM is order-independent.
    QDef("e11_maxsim", (s, dir) => {
      val e = quantized(s, dir)
      val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val dv = e.filter(!col("vec_id").isin(1L, 2L, 3L))
      dv.crossJoin(broadcast(q))
        .select(col("label"), col("qid"),
          cosExpr(longDot(col("v"), col("qv")),
                  longDot(col("v"), col("v")),
                  longDot(col("qv"), col("qv"))).as("c"))
        .groupBy("label", "qid").agg(max(col("c")).as("mc"))
        .select(col("label"), col("qid"),
          round(col("mc") * 1e9).cast(LongType).as("mcs"))
        .groupBy("label")
        .agg(round(sum(col("mcs")).cast(DoubleType) / 1e9, 9).as("maxsim"))
        .orderBy(col("maxsim").desc, col("label"))
    }, Some(s"""
      WITH d AS ($oDims),
      q AS (SELECT vec_id AS qid, i AS qi, v AS qv FROM d WHERE vec_id IN (1, 2, 3)),
      qn AS (SELECT qid, CAST(SUM(qv * qv) AS BIGINT) AS qnrm FROM q GROUP BY qid),
      dv AS (SELECT * FROM d WHERE vec_id NOT IN (1, 2, 3)),
      nrm AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm FROM dv GROUP BY vec_id),
      dots AS (SELECT dv.label, dv.vec_id, q.qid, CAST(SUM(dv.v * q.qv) AS BIGINT) AS dot
               FROM dv JOIN q ON dv.i = q.qi GROUP BY dv.label, dv.vec_id, q.qid),
      cosv AS (SELECT dots.label, dots.qid,
                      ROUND(CAST(dot AS DOUBLE) /
                            (SQRT(CAST(nrm AS DOUBLE)) * SQRT(CAST(qnrm AS DOUBLE))), 9) AS c
               FROM dots JOIN nrm ON dots.vec_id = nrm.vec_id
                         JOIN qn ON dots.qid = qn.qid),
      mx AS (SELECT label, qid, CAST(ROUND(MAX(c) * 1000000000.0) AS BIGINT) AS mcs
             FROM cosv GROUP BY label, qid)
      SELECT label, ROUND(CAST(SUM(mcs) AS DOUBLE) / 1000000000.0, 9) AS maxsim
      FROM mx GROUP BY label ORDER BY maxsim DESC, label""")),

    // --- binary quantization (sign-bit sketch + Hamming + exact re-rank) --
    // The 1-bit ANN tier (lance BQ shape): a 64-dim vector collapses to ONE
    // long (256x fewer bytes than float32), candidate ranking is xor +
    // popcount ([[graft.functions.LongHamming]] — one instruction pair per
    // vector), and only the top-50 Hamming candidates touch full vectors
    // for the exact integer-cosine re-rank. At 100 TB the code column is
    // the only full scan (a TakeOrderedAndProject over a skinny
    // map-only projection); the re-rank fetches 50 vectors via the take
    // path. Sign bits live on the SAME 1e-7 quantized grid as the oracle's
    // dims view, so candidates, distances, and the re-ranked top-10 are
    // all hash-exact across engines (both orders are total).
    QDef("e12_binary_quant", (s, dir) => {
      import graft.functions.ArrayKernels.{hamming, signPack}
      val e = quantized(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), signPack(col("v")).as("qcode"))
      val cand = e.filter(col("vec_id") > 0)
        .select(col("vec_id"), col("v"), signPack(col("v")).as("code"))
        .crossJoin(broadcast(q))
        .withColumn("ham", hamming(col("code"), col("qcode")))
        .orderBy(col("ham"), col("vec_id")).limit(50)
      cand.select(col("vec_id"), col("ham"),
          cosExpr(longDot(col("v"), col("qv")),
                  longDot(col("v"), col("v")),
                  longDot(col("qv"), col("qv"))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }, Some(s"""
      WITH d AS ($oDims),
      q AS (SELECT i AS qi, v AS qv FROM d WHERE vec_id = 0),
      ham AS (SELECT vec_id,
                     CAST(SUM(CASE WHEN (v > 0) <> (qv > 0) THEN 1 ELSE 0 END) AS INT) AS ham
              FROM d JOIN q ON i = qi WHERE vec_id > 0 GROUP BY vec_id),
      cand AS (SELECT vec_id, ham FROM ham ORDER BY ham, vec_id LIMIT 50),
      qn AS (SELECT CAST(SUM(qv * qv) AS BIGINT) AS qnrm FROM q),
      dots AS (SELECT d.vec_id, CAST(SUM(v * qv) AS BIGINT) AS dot,
                      CAST(SUM(v * v) AS BIGINT) AS nrm
               FROM d JOIN q ON i = qi JOIN cand c ON d.vec_id = c.vec_id
               GROUP BY d.vec_id)
      SELECT c.vec_id, c.ham,
             ROUND(CAST(dot AS DOUBLE) /
                   (SQRT(CAST(nrm AS DOUBLE)) * SQRT(CAST(qnrm AS DOUBLE))), 9) AS cos
      FROM dots JOIN cand c ON dots.vec_id = c.vec_id CROSS JOIN qn
      ORDER BY cos DESC, c.vec_id LIMIT 10""")),

    // int8 scalar quantization (the 4x embedding-compression ANN tier
    // between full-precision e01 and 1-bit e12): per-vector symmetric
    // codes q = round(127 * v / max|v|) computed in PURE INTEGER
    // arithmetic on the scaled-long grid — round-half-away as
    // (254|v| + m) div (2m) — so codes, int8 dot products, and the
    // integer reconstruction error are all hash-exact across engines.
    // At 100 TB the code column is 1/4 the bytes of f32; dots stay in
    // int64 (one multiply-add per dim), exact re-rank via the e12 path.
    QDef("e14_int8_quant", (s, dir) => {
      val e = quantized(s, dir)
      val coded = e.withColumn("m",
          expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("q", expr(
          """transform(v, x -> CASE WHEN m = 0 THEN 0L
               ELSE CAST(SIGN(x) AS BIGINT) * ((254 * abs(x) + m) DIV (2 * m))
             END)"""))
      val qv = coded.filter(col("vec_id") === 0).select(col("q").as("p"))
      coded.filter(col("vec_id") > 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"),
          longDot(col("q"), col("p")).as("dot8"),
          longDot(col("q"), col("q")).as("sum_q2"),
          expr("""aggregate(zip_with(v, q, (a, b) -> abs(127 * a - b * m)),
                  0L, (acc, x) -> acc + x)""").as("recon_l1"))
        .orderBy(col("dot8").desc, col("vec_id")).limit(10)
    }, Some(s"""
      WITH d AS ($oDims),
      m AS (SELECT vec_id, MAX(ABS(v)) AS m FROM d GROUP BY vec_id),
      c AS (SELECT d.vec_id, i,
                   v,
                   m,
                   CASE WHEN m = 0 THEN 0
                        ELSE CAST(SIGN(v) AS BIGINT) *
                             ((254 * ABS(v) + m) // (2 * m)) END AS q
            FROM d JOIN m ON d.vec_id = m.vec_id),
      p AS (SELECT i AS pi, q AS pq FROM c WHERE vec_id = 0),
      agg AS (SELECT c.vec_id,
                     CAST(SUM(q * pq) AS BIGINT) AS dot8,
                     CAST(SUM(q * q) AS BIGINT) AS sum_q2,
                     CAST(SUM(ABS(127 * v - q * m)) AS BIGINT) AS recon_l1
              FROM c JOIN p ON c.i = p.pi
              WHERE c.vec_id > 0 GROUP BY c.vec_id)
      SELECT vec_id, dot8, sum_q2, recon_l1 FROM agg
      ORDER BY dot8 DESC, vec_id LIMIT 10"""))
  )
}
