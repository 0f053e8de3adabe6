package graft.queries

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [EXT] Text-analysis + deduplication surface over `documents`
  * (SURVEY §2.5; mandated by the north star: LLM training-data pipeline
  * operators at 100 TB scale).
  *
  * Oracle-checked queries use only engine-portable constructs (split,
  * list_distinct, lambdas, md5, int/int division). MinHash/SimHash use
  * xxhash64 and are Spark-only (rows-only check) — see
  * [[graft.operators.Dedup]] for the scalable implementations.
  */
object TextOps {

  /** Languages and their (tiny, synthetic-corpus-appropriate) stopword
    * sets for the language-ID heuristic. */
  private val stopEn = Seq("the", "a", "of", "and", "is")
  private val stopEs = Seq("la", "el", "de", "los", "es")
  private val stopFr = Seq("le", "la", "les", "de", "est")
  private val stopDe = Seq("der", "die", "das", "und", "ist")

  private def inList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** d34's bounded near-dup contract over `docs(doc_id, text)`: each
    * doc's `k` smallest near-dup partners (doc_id, partner_id,
    * est_jaccard) under the portable sketch — the first `k` of the full
    * pair list ([[Dedup.portableMinHashLsh]]) per doc by partner_id,
    * without materializing that list. The distinct-signature groups and
    * their surviving edges come from the shared MinHash-LSH core; per
    * group, bounded partner menus: neighbors contribute only their k
    * smallest ids (in each direction), group-mates a k+1 slice. */
  private[graft] def cappedNearDups(docs: DataFrame, k: Int,
                                    blockSize: Int = 4096): DataFrame = {
    val run = Dedup.portableMinHashLsh(docs, "doc_id", "text", blockSize)
    val (reps, edges) = (run.reps, run.survivors)
    // both directions of every edge in ONE pass over it (explode of a
    // 2-struct array, as in Dedup.connectedComponents): a union of two
    // selects would run the kernel's subtree twice
    val gk = reps.select(col("gid").as("nbr"), slice(col("ids"), 1, k + 1).as("cands"))
    val inMenu = edges
      .select(explode(array(
          struct(col("gid_a").as("gid"), col("gid_b").as("nbr")),
          struct(col("gid_b").as("gid"), col("gid_a").as("nbr")))).as("e"),
        col("est_jaccard"))
      .join(gk, col("e.nbr") === col("nbr"))
      .select(col("e.gid").as("gid"), col("cands"), col("est_jaccard"))
    val intraMenu = reps.filter(size(col("ids")) > 1)
      .select(col("gid"), slice(col("ids"), 1, k + 1).as("cands"),
              lit(1.0).as("est_jaccard"))
    val menus = inMenu.unionAll(intraMenu)
      .select(col("gid"), explode(col("cands")).as("partner_id"),
              col("est_jaccard"))
    val perDoc = reps.select(col("gid"), explode(col("ids")).as("doc_id"))
      .join(menus, "gid")
      .filter(col("partner_id") =!= col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("partner_id")
    perDoc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("partner_id"), col("est_jaccard"))
  }

  /** The DuckDB oracles' portable-sketch chain shared by d28 and d34:
    * the salted-md5 signatures, full-md5 band self-join + distinct, and
    * the signature-estimated jaccard of every candidate pair (`est`). */
  private val portableEstSql = """
      WITH toks AS (
        SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
      sig AS (
        SELECT doc_id, p,
               MIN(substr(md5(CAST(p AS VARCHAR) || ':' || tok), 1, 13)) AS mh
        FROM toks CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(p)
        GROUP BY 1, 2),
      sigv AS (SELECT doc_id, LIST(mh ORDER BY p) AS s FROM sig GROUP BY 1),
      bands AS (
        SELECT doc_id, b, md5(s[2*b+1] || ',' || s[2*b+2]) AS bh
        FROM sigv CROSS JOIN (VALUES (0),(1),(2),(3)) t(b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8
                 AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.p = sa.p
        GROUP BY 1, 2)"""

  val defs: Seq[QDef] = Seq(

    // --- exact dedup by key: keep min doc_id per (lang, source) -----------
    // Deterministic formulation of dropDuplicates: group + arg-min. At
    // 100 TB this is a single hash aggregate on the dedup key.
    QDef("d01_dedup_by_key", (s, dir) => {
      val t = Tables.register(s, dir)
      Dedup.exactByKey(t("documents"), Seq("lang", "source"), "doc_id")
        .orderBy("lang", "source")
    }, Some("""
      SELECT lang, source, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY lang, source
      ORDER BY lang, source""")),

    // --- exact full-text dedup census --------------------------------------
    QDef("d02_dedup_exact_text", (s, dir) => {
      val t = Tables.register(s, dir)
      t("documents").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("text")).as("n_distinct_text"),
        countDistinct(md5(col("text"))).as("n_distinct_md5"))
    }, Some("""
      SELECT COUNT(*) AS n_rows,
             COUNT(DISTINCT text) AS n_distinct_text,
             COUNT(DISTINCT MD5(text)) AS n_distinct_md5
      FROM documents""")),

    // --- token statistics ---------------------------------------------------
    QDef("d03_token_stats", (s, dir) => {
      val t = Tables.register(s, dir)
      val toks = split(col("text"), " ")
      t("documents")
        .select(col("doc_id"),
                size(toks).cast(IntegerType).as("n_tokens"),
                size(array_distinct(toks)).cast(IntegerType).as("n_uniq"),
                (size(array_distinct(toks)).cast(DoubleType) /
                 size(toks).cast(DoubleType)).as("uniq_ratio"),
                (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
                 size(toks).cast(DoubleType)).as("avg_wordlen"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS INT) AS n_tokens,
             CAST(LEN(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
             CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) /
               CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) /
               CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS avg_wordlen
      FROM documents
      ORDER BY doc_id""")),

    // --- language-ID heuristic (stopword argmax, deterministic ladder) ----
    QDef("d04_lang_id", (s, dir) => {
      val t = Tables.register(s, dir)
      val toks = split(col("text"), " ")
      // one codegen pass over the token array for all 4 languages (the
      // interpreted filter/isin HOF was 154x slower than DuckDB here)
      val lists = array(Seq(stopEn, stopEs, stopFr, stopDe)
        .map(xs => array(xs.map(lit): _*)): _*)
      t("documents")
        .withColumn("hits", graft.functions.ArrayKernels.stopwordHits(toks, lists))
        .withColumn("en_hits", col("hits")(0))
        .withColumn("es_hits", col("hits")(1))
        .withColumn("fr_hits", col("hits")(2))
        .withColumn("de_hits", col("hits")(3))
        .withColumn("lang_pred",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits") &&
               col("en_hits") >= col("de_hits"), "en")
            .when(col("es_hits") >= col("fr_hits") && col("es_hits") >= col("de_hits"), "es")
            .when(col("fr_hits") >= col("de_hits"), "fr")
            .otherwise("de"))
        .select(col("doc_id"), col("en_hits"), col("es_hits"), col("fr_hits"),
                col("de_hits"), col("lang_pred"), col("lang").as("lang_label"))
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, en_hits, es_hits, fr_hits, de_hits,
             CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
                  WHEN fr_hits >= de_hits THEN 'fr'
                  ELSE 'de' END AS lang_pred,
             lang AS lang_label
      FROM (
        SELECT doc_id, lang,
          CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ${inList(stopEn)})) AS INT) AS en_hits,
          CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ${inList(stopEs)})) AS INT) AS es_hits,
          CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ${inList(stopFr)})) AS INT) AS fr_hits,
          CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ${inList(stopDe)})) AS INT) AS de_hits
        FROM documents)
      ORDER BY doc_id""")),

    // --- quality score ------------------------------------------------------
    QDef("d05_quality_score", (s, dir) => {
      val t = Tables.register(s, dir)
      // one-pass kernel (n_tok, n_uniq, stop_hits) with the stopword set
      // as an expression constant: replaces 3x split + array_distinct +
      // a per-row CreateArray of literals (the round-6 3.3x regression)
      val nTok = col("st.n_tok").cast(DoubleType)
      val uniqRatio = col("st.n_uniq").cast(DoubleType) / nTok
      val stopRatio = col("st.stop_hits").cast(DoubleType) / nTok
      t("documents")
        .select(col("doc_id"),
                graft.functions.ArrayKernels
                  .tokenQualityStats(col("text"), stopEn).as("st"))
        .select(col("doc_id"),
                (least(nTok / 50.0, lit(1.0)) * 0.4 + uniqRatio * 0.3 +
                 (lit(1.0) - stopRatio) * 0.3).as("quality"),
                col("st.n_tok").as("n_tokens"))
        .filter(col("quality") > 0.5)
        .orderBy("doc_id")
    }, Some(s"""
      SELECT doc_id, quality, n_tokens FROM (
        SELECT doc_id,
               LEAST(n_tok / 50.0, 1.0) * 0.4 + uniq_ratio * 0.3 + (1.0 - stop_ratio) * 0.3 AS quality,
               CAST(n_tok AS INT) AS n_tokens
        FROM (
          SELECT doc_id,
                 CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                 CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) /
                   CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio,
                 CAST(LEN(list_filter(string_split(text, ' '), x -> x IN ${inList(stopEn)})) AS DOUBLE) /
                   CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
          FROM documents))
      WHERE quality > 0.5
      ORDER BY doc_id""")),

    // --- bag-of-words fingerprint + fingerprint-level dedup ----------------
    QDef("d09_fingerprint", (s, dir) => {
      val t = Tables.register(s, dir)
      val fp = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
      t("documents")
        .select(col("doc_id"), fp.as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("fingerprint")
    }, Some("""
      SELECT MD5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
      FROM documents
      GROUP BY 1
      ORDER BY fingerprint""")),

    // --- exact n-gram (word set) Jaccard near-dup pairs --------------------
    // Pair space blocked by source (the realistic blocking key); exact
    // Jaccard computed by token-set join — the verification stage of any
    // LSH pipeline, and itself the oracle-checkable near-dup definition.
    QDef("d06_jaccard_pairs", (s, dir) => {
      val t = Tables.register(s, dir)
      Dedup.jaccardPairs(t("documents"), "doc_id", "text", "source", 0.82)
        .orderBy("doc_a", "doc_b")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, source, UNNEST(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.82
      ORDER BY doc_a, doc_b""")),

    // --- MinHash-LSH near-dup candidates (Spark-only: xxhash64 sketches) ---
    QDef("d07_minhash_lsh", (s, dir) => {
      val t = Tables.register(s, dir)
      Dedup.minHashLsh(t("documents"), "doc_id", "text",
                       numHashes = 64, bands = 8, jaccardThreshold = 0.82)
        .orderBy("doc_a", "doc_b")
    }, None),

    // --- MinHash-LSH with PORTABLE salted-md5 hashing: the same
    //     band-bucket pipeline as d07, but every hash is md5-based so
    //     DuckDB reproduces the ENTIRE sketch bit-for-bit — the hash
    //     oracle for the minhash family (d07 keeps the fast xxhash64
    //     kernel; its band/bucket/estimate plumbing is identical). 8
    //     salted min-hashes (mh_p = min over tokens of md5("p:" || tok)
    //     prefix), 4 bands of 2, signature-estimated jaccard = equal
    //     positions / 8. Scale shape: the shared Dedup MinHash-LSH core
    //     (collapse, bucket-local kernel, survivor join-back) — no all-pairs.
    //     NOTE the OUTPUT contract is the full near-dup PAIR list, which
    //     is inherently quadratic in duplicate-group size (5x duplicate
    //     multiplicity = ~25x pairs — measured in the round-8 scaling
    //     smoke). The compute is collapse-bounded + output-bound; at
    //     corpus scale the production path is d11's cluster dedup
    //     (linear output: one keep-decision per doc), not a pair dump.
    QDef("d28_minhash_portable", (s, dir) => {
      val t = Tables.register(s, dir)
      // identical signatures COLLAPSE before banding (the d07 shape): a
      // dup-dense corpus concentrates on equal sketches, whose intra-group
      // pairs are est 1.0 by definition — banding/distinct/estimate then
      // run per DISTINCT-signature pair, never quadratic in group size
      // (the naive doc-level band self-join was 17-45 s at sf0.1; this is
      // the same output from ~|distinct sigs|² candidate work)
      Dedup.portableMinHashLsh(t("documents"), "doc_id", "text").pairs
        .orderBy("doc_a", "doc_b")
    }, Some(portableEstSql + """
      SELECT doc_a, doc_b, est_jaccard FROM est
      WHERE est_jaccard >= 0.75
      ORDER BY doc_a, doc_b""")),

    // --- BOUNDED near-dup contract: the production face of d28 -------------
    // d28's full pair list is inherently quadratic in duplicate-group
    // size (47x wall at 5x multiplicity in the round-8 smoke). This
    // variant keeps the identical portable salted-md5 sketch (and the
    // shared Dedup core's groups and edges) but emits, per doc, only its
    // K smallest near-dup partners — O(K·N) output AND
    // O(K·(N+E)) compute: group-mates come from a slice of the sorted
    // per-signature id array, cross-group partners from the K smallest
    // ids of each banded neighbor group (any partner outside those K
    // smallest can never enter a doc's K-smallest overall), so no pair
    // set is ever materialized. The DuckDB twin states the same contract
    // declaratively (full pairs + QUALIFY row_number <= K) — affordable
    // at oracle scale, quadratic, which is exactly why this bounded form
    // is the one a 100 TB corpus runs.
    QDef("d34_neardup_capped", (s, dir) => {
      val t = Tables.register(s, dir)
      cappedNearDups(t("documents"), 3).orderBy("doc_id", "partner_id")
    }, Some(portableEstSql + """,
      pairs AS (SELECT * FROM est WHERE est_jaccard >= 0.75),
      sym AS (
        SELECT doc_a AS doc_id, doc_b AS partner_id, est_jaccard FROM pairs
        UNION ALL
        SELECT doc_b, doc_a, est_jaccard FROM pairs),
      ranked AS (
        SELECT doc_id, partner_id, est_jaccard,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY partner_id) AS rn
        FROM sym)
      SELECT doc_id, partner_id, est_jaccard
      FROM ranked WHERE rn <= 3
      ORDER BY doc_id, partner_id""")),

    // --- FUZZY decontamination: corpus × benchmark MinHash-LSH ------------
    // d15's exact-gram decontamination catches verbatim leakage; real
    // pipelines also drop NEAR-duplicates of eval data (paraphrases,
    // whitespace/punct variants). Same portable salted-md5 construction
    // as d28, CROSS-TABLE: benchmark docs (a deterministic holdout) are
    // sketched and their band table BROADCASTS — the corpus never
    // self-joins; candidates are (corpus doc, bench doc) band matches,
    // verified by signature-estimated jaccard. 100 TB shape: benchmark
    // sets are small by nature (eval suites), so the probe side is a
    // broadcast and the corpus cost is one sketch pass + a map-side band
    // match — no shuffle of corpus text at all.
    QDef("d33_fuzzy_decontaminate", (s, dir) => {
      val t = Tables.register(s, dir)
      val docs = t("documents")
      val isBench = col("source") === "src0" && col("doc_id") % 7 === 0
      // the corpus sketch feeds BOTH the band path and the verify join —
      // materialize it once (localCheckpoint) instead of paying the md5 x
      // P x tokens pass twice
      val cs = Dedup.portableSignatures(docs.filter(!isBench), "doc_id", "text")
        .localCheckpoint(true)
      val bs = Dedup.portableSignatures(docs.filter(isBench), "doc_id", "text")
        .select(col("doc_id").as("bench_id"), col("sig").as("bsig"))
      // band keys as the shared core keys them (first 64 bits of each
      // band's md5): a truncation collision only adds a candidate, which
      // the est filter drops (pigeonhole, [[Dedup.portableMinHashLsh]])
      val bandsOf = (sig: String) =>
        posexplode(Dedup.portableBandKeys(col(sig))).as(Seq("band", "bh"))
      val cand = cs.select(col("doc_id"), bandsOf("sig"))
        .join(broadcast(bs.select(col("bench_id"), bandsOf("bsig"))), Seq("band", "bh"))
        .select("doc_id", "bench_id").distinct()
      val est = (0 until Dedup.PortableHashes).map(i =>
          when(col("sig")(i) === col("bsig")(i), 1).otherwise(0))
        .reduce(_ + _).cast(DoubleType) / Dedup.PortableHashes
      cand.join(cs, "doc_id").join(broadcast(bs), "bench_id")
        .select(col("doc_id"), col("bench_id"), est.as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.75)
        .groupBy("doc_id")
        .agg(min("bench_id").as("bench_id"), max("est_jaccard").as("max_est"))
        .orderBy("doc_id")
    }, Some("""
      WITH bench AS (SELECT doc_id AS bench_id, text FROM documents
                     WHERE source = 'src0' AND doc_id % 7 = 0),
      corpus AS (SELECT doc_id, text FROM documents
                 WHERE NOT (source = 'src0' AND doc_id % 7 = 0)),
      ctoks AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS tok FROM corpus),
      btoks AS (SELECT bench_id, UNNEST(list_distinct(string_split(text,' '))) AS tok FROM bench),
      csig AS (SELECT doc_id, p, MIN(substr(md5(CAST(p AS VARCHAR) || ':' || tok),1,13)) AS mh
               FROM ctoks CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(p) GROUP BY 1,2),
      bsig AS (SELECT bench_id, p, MIN(substr(md5(CAST(p AS VARCHAR) || ':' || tok),1,13)) AS mh
               FROM btoks CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) t(p) GROUP BY 1,2),
      csigv AS (SELECT doc_id, LIST(mh ORDER BY p) AS s FROM csig GROUP BY 1),
      bsigv AS (SELECT bench_id, LIST(mh ORDER BY p) AS s FROM bsig GROUP BY 1),
      cb AS (SELECT doc_id, b, md5(s[2*b+1] || ',' || s[2*b+2]) AS bh
             FROM csigv CROSS JOIN (VALUES (0),(1),(2),(3)) t(b)),
      bb AS (SELECT bench_id, b, md5(s[2*b+1] || ',' || s[2*b+2]) AS bh
             FROM bsigv CROSS JOIN (VALUES (0),(1),(2),(3)) t(b)),
      cand AS (SELECT DISTINCT cb.doc_id, bb.bench_id
               FROM cb JOIN bb ON cb.b = bb.b AND cb.bh = bb.bh),
      est AS (SELECT c.doc_id, c.bench_id,
                     CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE)/8
                       AS est_jaccard
              FROM cand c JOIN csig sa ON sa.doc_id = c.doc_id
                          JOIN bsig sb ON sb.bench_id = c.bench_id AND sb.p = sa.p
              GROUP BY 1,2)
      SELECT doc_id, MIN(bench_id) AS bench_id, MAX(est_jaccard) AS max_est
      FROM est WHERE est_jaccard >= 0.75
      GROUP BY doc_id ORDER BY doc_id""")),

    // --- SimHash near-dup candidates (Spark-only) --------------------------
    QDef("d08_simhash", (s, dir) => {
      val t = Tables.register(s, dir)
      Dedup.simHashPairs(t("documents"), "doc_id", "text", maxHamming = 12)
        .orderBy("doc_a", "doc_b")
    }, None),

    // --- full cluster dedup pipeline: near-dup pairs -> connected
    //     components -> per-doc keep decision (the end-to-end dedup story) --
    QDef("d11_cluster_dedup", (s, dir) => {
      val t = Tables.register(s, dir)
      val docs = t("documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.82)
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .groupBy("keep_id")
        .agg(count(lit(1)).as("cluster_size"))
        .orderBy("keep_id")
    }, Some("""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id, source, UNNEST(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= 0.82),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      cc AS (
        SELECT doc_id AS u, doc_id AS label FROM documents
        UNION
        SELECT e.u, c.label
        FROM cc c JOIN edges e ON c.u = e.v),
      labels AS (SELECT u AS doc_id, MIN(label) AS keep_id FROM cc GROUP BY u)
      SELECT keep_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY keep_id ORDER BY keep_id""")),

    // --- two-stage production dedup: LSH candidates -> exact verification --
    // (candidate set depends on the hash family -> rows-only; recall vs the
    // brute-force exact pairs is pinned by DedupSpec)
    QDef("d12_lsh_exact_pipeline", (s, dir) => {
      val t = Tables.register(s, dir)
      // candidate bar just below the exact target: the 64-hash estimator's
      // sigma at j=0.82 is ~0.05, so 0.72 keeps ~2-sigma recall while the
      // exact stage verifies far fewer pairs than a loose bar would pass.
      // Scoped to a 4-source shard — this synthetic corpus is pathologically
      // near-dup-dense (half of ALL doc pairs are near-dups; d07's full-run
      // volume findings in NOTES), and production verification runs
      // per shard anyway.
      Dedup.lshExactPairs(
          t("documents").filter(col("source").isin("src0", "src1", "src2", "src3")),
          "doc_id", "text", numHashes = 64, bands = 16,
          candidateThreshold = 0.72, exactThreshold = 0.82)
        .orderBy("doc_a", "doc_b")
    }, None),

    // --- TF-IDF top terms per document (exact integer tf/df; smoothed idf
    //     in doubles from identical integer inputs on both engines) --------
    QDef("d13_tfidf", (s, dir) => {
      Tables.register(s, dir)
      s.sql("""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 8) AS tfidf
          FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        SELECT doc_id, tok, tfidf FROM (
          SELECT doc_id, tok, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, tok) AS rk
          FROM scored WHERE doc_id < 50)
        WHERE rk <= 3
        ORDER BY doc_id, tfidf DESC, tok""")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
      df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.tok,
               ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 8) AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
      SELECT doc_id, tok, tfidf FROM (
        SELECT doc_id, tok, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rk
        FROM scored WHERE doc_id < 50)
      WHERE rk <= 3
      ORDER BY doc_id, tfidf DESC, tok""")),

    // --- bigram shingles: the n-gram half of the shingling story ----------
    // one-pass codegen kernel (tokenize -> bigram -> dedupe -> sort ->
    // join in a single fused loop) instead of the 5-stage HOF chain whose
    // per-bigram concat allocations made d14 9x DuckDB
    QDef("d14_bigram_shingles", (s, dir) => {
      val t = Tables.register(s, dir)
      t("documents")
        .select(col("doc_id"),
                graft.functions.ArrayKernels.bigramShingles(col("text")).as("bg"))
        .select(col("doc_id"),
                col("bg.n_bigrams").as("n_bigrams"),
                col("bg.n_distinct").as("n_distinct"),
                md5(col("bg.joined").cast("binary")).as("shingle_fp"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(LEN(bigrams) AS INT) AS n_bigrams,
             CAST(LEN(list_distinct(bigrams)) AS INT) AS n_distinct,
             MD5(array_to_string(list_sort(list_distinct(bigrams)), ' ')) AS shingle_fp
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      ORDER BY doc_id""")),

    // --- rolling-hash document fingerprint ---------------------------------
    // Position-weighted polynomial hash, fully portable SQL: a true Horner
    // fold needs list_reduce (absent in DuckDB 1.0) or modular
    // exponentiation, so the fingerprint weights characters by
    // 8^min(pos,15) inside words and words by position — order-sensitive,
    // deterministic, and every intermediate bounded inside BIGINT
    // (127 * 8^15 * 500 chars ≈ 2.2e18 < 2^63).
    QDef("d10_rolling_hash", (s, dir) => {
      val t = Tables.register(s, dir)
      // one-pass RollingDocHash kernel — same value as the two-level
      // posexplode + two-stage aggregate it replaced (the DuckDB oracle
      // still computes it that way and pins the semantics); MAP-ONLY
      // instead of a 1.5M-char-row explode + two keyed aggregations
      t("documents")
        .select(col("doc_id"),
                graft.functions.ArrayKernels.rollingDocHash(col("text")).as("rolling_hash"))
        .orderBy("doc_id")
    }, Some("""
      WITH words AS (
        SELECT doc_id, i - 1 AS wpos, toks[i] AS word
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      ),
      chars AS (
        SELECT doc_id, wpos, j - 1 AS cpos, chs[j] AS ch
        FROM (SELECT doc_id, wpos, chs, unnest(generate_series(1, len(chs))) AS j
              FROM (SELECT doc_id, wpos, string_split(word, '') AS chs FROM words))
      ),
      whashes AS (
        SELECT doc_id, wpos,
               CAST(SUM((ASCII(ch) % 128) *
                        CAST(POW(8, LEAST(cpos, 15)) AS BIGINT)) % 1000000007 AS BIGINT) AS whash
        FROM chars GROUP BY doc_id, wpos
      )
      SELECT doc_id,
             CAST(SUM((wpos * 1000003 + whash) % 2147483647) % 2147483647 AS BIGINT)
               AS rolling_hash
      FROM whashes GROUP BY doc_id ORDER BY doc_id""")),

    // --- benchmark decontamination: n-gram overlap against an eval set ----
    // The GPT-3/Pile training-data rule: drop (or flag) corpus documents
    // sharing any word n-gram with a benchmark/eval set. Scale shape: the
    // benchmark's distinct-gram set is MBs while the corpus is TBs, so
    // the overlap test is a BROADCAST semi-join against the corpus's
    // exploded grams — the corpus is never shuffled; only per-doc hit
    // counts (skinny) aggregate. Here docs 0..19 stand in for the
    // benchmark, the rest for the corpus; 5-gram granularity.
    QDef("d15_decontaminate", (s, dir) => {
      val t = Tables.register(s, dir)
      // one-pass WordGramStats kernel per doc (tokenize + hash + rolling
      // 5-gram in a single JVM loop — the d14 lesson: per-gram string
      // concat dominates at volume, and HOF formulations re-evaluate the
      // token-hash array per element access). The benchmark's distinct
      // gram-hash set is tiny by definition (an eval set), so it ships as
      // one sorted array literal and the corpus side is MAP-ONLY: n_hits
      // = codegen sorted-merge intersect per doc, no join, NO shuffle at
      // all before the final sort. Gram identity is the 64-bit hash
      // (collisions negligible — d06 precedent; the oracle keeps strings).
      val grams = graft.functions.ArrayKernels.wordGramStats(col("text"), 5)
        .getField("hashes")
      val benchSet = t("documents").filter(col("doc_id") < 20)
        .select(explode(grams).as("g")).distinct()
        .orderBy("g").collect().map(_.getLong(0)).toSeq
      val benchLit = typedlit(benchSet)
      t("documents").filter(col("doc_id") >= 20)
        .select(col("doc_id"),
                // null text -> null kernel output; the oracle's left join
                // shape counts such docs as 0 hits
                coalesce(graft.functions.ArrayKernels
                  .sortedIntersectCount(grams, benchLit), lit(0L))
                  .as("n_contaminated_grams"))
        .withColumn("contaminated", col("n_contaminated_grams") > 0)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      grams AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(generate_series(1, len(t) - 4),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
        FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
      hits AS (
        SELECT c.doc_id, COUNT(*) AS n_hits
        FROM grams c JOIN bench b ON c.g = b.g
        WHERE c.doc_id >= 20 GROUP BY c.doc_id)
      SELECT d.doc_id,
             COALESCE(h.n_hits, 0) AS n_contaminated_grams,
             COALESCE(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id >= 20
      ORDER BY d.doc_id""")),

    // --- repetition filters (Gopher/MassiveText quality rules) -------------
    // Per-document duplicate-n-gram fractions: top-bigram occupancy and
    // the fraction of bigram occurrences that are repeats; `keep` applies
    // Gopher-style thresholds. Scale shape: one explode + two-stage
    // keyed aggregate on (doc_id, gram) — map-side partial aggregation
    // collapses in-document repeats before the (skinny) shuffle; no
    // cross-document state.
    QDef("d16_gopher_repetition", (s, dir) => {
      val t = Tables.register(s, dir)
      // the Gopher rule is PER-DOCUMENT, so the scale-right shape is
      // map-only: the one-pass kernel returns (total, distinct, max
      // multiplicity) per row — no explode, no shuffle before the sort
      val st = graft.functions.ArrayKernels.wordGramStats(col("text"), 2)
      t("documents")
        .select(col("doc_id"), st.as("st"))
        .filter(col("st.total") > 0) // <2-token docs emit no bigrams (oracle drops them)
        .select(col("doc_id"),
                (col("st.max_count").cast(DoubleType) /
                 col("st.total").cast(DoubleType)).as("top_bigram_frac"),
                ((col("st.total") - col("st.n_distinct")).cast(DoubleType) /
                 col("st.total").cast(DoubleType)).as("dup_bigram_frac"))
        .withColumn("keep",
          col("top_bigram_frac") <= 0.18 && col("dup_bigram_frac") <= 0.4)
        .orderBy("doc_id")
    }, Some("""
      WITH bg AS (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
      agg AS (SELECT doc_id, SUM(c) AS total, MAX(c) AS mx,
                     COUNT(*) AS n_distinct
              FROM cnt GROUP BY doc_id)
      SELECT doc_id,
             CAST(mx AS DOUBLE) / CAST(total AS DOUBLE) AS top_bigram_frac,
             CAST(total - n_distinct AS DOUBLE) / CAST(total AS DOUBLE) AS dup_bigram_frac,
             (CAST(mx AS DOUBLE) / CAST(total AS DOUBLE)) <= 0.18 AND
             (CAST(total - n_distinct AS DOUBLE) / CAST(total AS DOUBLE)) <= 0.4 AS keep
      FROM agg
      ORDER BY doc_id""")),

    // --- token-budget stratified sampling (data-mixing budgeter) ----------
    // The mixture step of a training-data pipeline: per stratum (lang),
    // take documents in quality order until a token budget fills.
    // Deterministic: quality ranking tie-broken by doc_id; the running
    // token total is a window cumsum (exact integers), cut at the budget.
    // Scale shape: one window over (lang) — at 100 TB the stratum-ordered
    // cumsum is a range-partitioned sort per stratum, no driver state.
    QDef("d17_token_budget_sample", (s, dir) => {
      val t = Tables.register(s, dir)
      val toks = size(split(col("text"), " "))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      t("documents")
        .select(col("doc_id"), col("lang"), toks.cast("long").as("n_tokens"),
                col("n_chars"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= 3000L)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("lang", "cum_tokens")
    }, Some("""
      SELECT doc_id, lang, n_tokens, cum_tokens
      FROM (
        SELECT doc_id, lang,
               CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               -- CAST to BIGINT: DuckDB SUM over integers yields HUGEINT
               -- (int128), which the driver's hasher canonicalizes
               -- differently from Spark's int64 -> hash mismatch (r6 d17)
               CAST(SUM(CAST(LEN(string_split(text, ' ')) AS BIGINT)) OVER (
                 PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM documents)
      WHERE cum_tokens <= 3000
      ORDER BY lang, cum_tokens""")),

    // --- corpus-level boilerplate n-gram census (C4-style) -----------------
    // The C4/CCNet boilerplate rule adapted to gram granularity: a 3-gram
    // appearing in >= 3 distinct documents is "common" (boilerplate);
    // each document reports what fraction of its distinct grams are
    // common, with a keep threshold. Scale shape: the census is ONE
    // hash aggregate over (gram-hash) — the only full shuffle, and it
    // carries 8-byte hashes, not strings; the common set is small by
    // definition (boilerplate = high-df tail of a zipfian distribution),
    // so applying it back to the corpus is a BROADCAST semi-join + a
    // skinny per-doc count. Gram identity is the 64-bit kernel hash
    // (d06/d15 precedent; the oracle keeps strings).
    QDef("d18_boilerplate_ngrams", (s, dir) => {
      val t = Tables.register(s, dir)
      val st = graft.functions.ArrayKernels.wordGramStats(col("text"), 3)
      val docGrams = t("documents")
        .select(col("doc_id"), st.getField("hashes").as("hs"))
      val grams = docGrams.select(col("doc_id"), explode(col("hs")).as("g"))
      val common = grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select("g")
      val hits = grams.join(broadcast(common), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      docGrams.select(col("doc_id"), size(col("hs")).cast(LongType).as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
                coalesce(col("n_common"), lit(0L)).as("n_common"))
        .withColumn("boilerplate_frac",
          when(col("n_grams") === 0L, lit(0.0))
            .otherwise(col("n_common").cast(DoubleType) / col("n_grams").cast(DoubleType)))
        .withColumn("keep", col("boilerplate_frac") <= 0.5)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      grams AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(generate_series(1, len(t) - 2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM toks),
      df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
      common AS (SELECT g FROM df WHERE df >= 3),
      hits AS (
        SELECT c.doc_id, COUNT(*) AS n_common
        FROM grams c JOIN common b ON c.g = b.g
        GROUP BY c.doc_id),
      per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(p.n_grams, 0) AS n_grams,
             COALESCE(h.n_common, 0) AS n_common,
             CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
                  ELSE CAST(COALESCE(h.n_common, 0) AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
             END AS boilerplate_frac,
             CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
                  ELSE CAST(COALESCE(h.n_common, 0) AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
             END <= 0.5 AS keep
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
                       LEFT JOIN hits h ON d.doc_id = h.doc_id
      ORDER BY d.doc_id""")),

    // --- unigram-LM quality scoring (CCNet-style perplexity filter) --------
    // A smoothed unigram language model is fit on a reference slice
    // (source 'src0' stands in for the high-quality corpus); every
    // document is scored by average negative log-likelihood and bucketed
    // head/middle/tail on fixed calibrated thresholds (CCNet uses fixed
    // thresholds from a held-out calibration, precisely because a
    // data-dependent tercile would need a global sort at 100 TB).
    // Scale shape: the vocabulary count table is bounded (a vocab), so
    // it ships as a BROADCAST; the corpus side is explode -> broadcast
    // left join -> per-doc partial aggregate — the only shuffle carries
    // one pre-aggregated row per document. Determinism: per-token
    // -ln p is snapped to a scaled long (ROUND(ln*1e8)) so the per-doc
    // sum is exact integer arithmetic; the final double expression runs
    // once per doc from identical integer inputs on both engines
    // (the d13/q22 fixed-point pattern).
    QDef("d19_lm_quality", (s, dir) => {
      val t = Tables.register(s, dir)
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val ref = toks(t("documents").filter(col("source") === "src0"))
      val counts = ref.groupBy("tok").agg(count(lit(1)).as("c"))
      val scal = ref.agg(count(lit(1)).as("nn"), countDistinct(col("tok")).as("vv"))
      toks(t("documents"))
        .join(broadcast(counts), Seq("tok"), "left")
        .select(col("doc_id"),
                round(log(coalesce(col("c"), lit(0L)) + lit(1.0)) * lit(1e8), 0)
                  .cast(LongType).as("s"))
        .groupBy("doc_id")
        .agg(sum(col("s")).as("sum_s"), count(lit(1)).as("n_tok"))
        .crossJoin(broadcast(scal))
        .select(col("doc_id"), col("n_tok"),
                round(log(col("nn") + col("vv")) -
                      (col("sum_s").cast(DoubleType) / lit(1e8)) / col("n_tok"), 6)
                  .as("avg_nll"))
        .withColumn("quality_bucket",
          when(col("avg_nll") <= 3.40, "head")
            .when(col("avg_nll") <= 3.43, "middle")
            .otherwise("tail"))
        .orderBy("doc_id")
    }, Some("""
      WITH ref AS (
        SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents WHERE source = 'src0'),
      counts AS (SELECT tok, COUNT(*) AS c FROM ref GROUP BY tok),
      scal AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT tok) AS vv FROM ref),
      corpus AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      scored AS (
        SELECT c.doc_id,
               CAST(ROUND(LN(COALESCE(k.c, 0) + 1.0) * 1e8, 0) AS BIGINT) AS s
        FROM corpus c LEFT JOIN counts k ON c.tok = k.tok),
      per_doc AS (
        SELECT doc_id, SUM(s) AS sum_s, COUNT(*) AS n_tok FROM scored GROUP BY doc_id)
      SELECT doc_id, n_tok,
             ROUND(LN(nn + vv) - (CAST(sum_s AS DOUBLE) / 1e8) / n_tok, 6) AS avg_nll,
             CASE WHEN ROUND(LN(nn + vv) - (CAST(sum_s AS DOUBLE) / 1e8) / n_tok, 6) <= 3.40 THEN 'head'
                  WHEN ROUND(LN(nn + vv) - (CAST(sum_s AS DOUBLE) / 1e8) / n_tok, 6) <= 3.43 THEN 'middle'
                  ELSE 'tail' END AS quality_bucket
      FROM per_doc CROSS JOIN scal
      ORDER BY doc_id""")),

    // --- exact duplicated-span coverage (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better") ---------------------------
    // Per document: how much of it is an exact 8-token span that also
    // occurs verbatim in ANOTHER document (the substring-dedup signal; a
    // high fraction marks boilerplate clones the fuzzy pipelines miss).
    // Scale shape: the kernel emits distinct gram HASHES map-only (one
    // JVM pass per doc); the cross-doc census is one hash aggregate over
    // 8-byte keys; marking back is a shuffle join on the same skinny key
    // carrying (hash, doc_id) pairs — no strings ever shuffle, no
    // all-pairs stage exists. The oracle recomputes with real substrings
    // (collisions at 64 bits are negligible; d06/d15 precedent).
    QDef("d20_dup_span_coverage", (s, dir) => {
      val t = Tables.register(s, dir)
      val st = graft.functions.ArrayKernels.wordGramStats(col("text"), 8)
      val base = t("documents")
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"), col("st.total").as("n_grams"),
                col("st.n_distinct").as("n_distinct"),
                col("st.hashes").as("hs"))
      val g = base.select(col("doc_id"), explode(col("hs")).as("gh"))
      val shared = g.groupBy("gh").agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1).select("gh")
      val ns = g.join(shared, Seq("gh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      base.drop("hs")
        .join(ns, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
                coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("dup_frac",
          when(col("n_distinct") === 0L, lit(0.0))
            .otherwise(round(col("n_shared").cast(DoubleType) /
                             col("n_distinct").cast(DoubleType), 6)))
        .withColumn("keep", col("dup_frac") < 0.5)
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - 7)) AS i FROM t)),
      gd AS (SELECT DISTINCT doc_id, gram FROM g),
      per_doc AS (
        SELECT doc_id, GREATEST(len(toks) - 7, 0) AS n_grams FROM t),
      nd AS (SELECT doc_id, COUNT(*) AS n_distinct FROM gd GROUP BY doc_id),
      sh AS (SELECT gram FROM gd GROUP BY gram HAVING COUNT(*) > 1),
      ns AS (SELECT doc_id, COUNT(*) AS n_shared
             FROM gd JOIN sh USING (gram) GROUP BY doc_id)
      SELECT p.doc_id, p.n_grams,
             COALESCE(nd.n_distinct, 0) AS n_distinct,
             COALESCE(ns.n_shared, 0) AS n_shared,
             CASE WHEN COALESCE(nd.n_distinct, 0) = 0 THEN 0.0
                  ELSE ROUND(CAST(COALESCE(ns.n_shared, 0) AS DOUBLE)
                             / CAST(nd.n_distinct AS DOUBLE), 6) END AS dup_frac,
             CASE WHEN COALESCE(nd.n_distinct, 0) = 0 THEN 0.0
                  ELSE ROUND(CAST(COALESCE(ns.n_shared, 0) AS DOUBLE)
                             / CAST(nd.n_distinct AS DOUBLE), 6) END < 0.5 AS keep
      FROM per_doc p LEFT JOIN nd ON p.doc_id = nd.doc_id
                     LEFT JOIN ns ON p.doc_id = ns.doc_id
      ORDER BY p.doc_id""")),

    // --- end-to-end pipeline composition: quality -> dedup -> budget -------
    // The three core stages of a training-data pipeline CHAINED in one
    // declarative plan (what a user actually runs): Gopher-style
    // repetition gate (thresholds calibrated to bite on this corpus) ->
    // exact-text dedup keeping the smallest doc_id -> per-language token
    // budget. One kernel pass, one dedup window, one budget window — the
    // whole pipeline is three shuffles at any scale, no driver state.
    QDef("d21_pipeline_end2end", (s, dir) => {
      val t = Tables.register(s, dir)
      val st = graft.functions.ArrayKernels.wordGramStats(col("text"), 2)
      val kept = t("documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"),
                st.as("st"))
        .filter(col("st.total") > 0)
        .filter(col("st.max_count").cast(DoubleType) /
                  col("st.total").cast(DoubleType) <= 0.04 &&
                (col("st.total") - col("st.n_distinct")).cast(DoubleType) /
                  col("st.total").cast(DoubleType) <= 0.05)
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("text").orderBy("doc_id")
      val sur = kept.withColumn("rk", row_number().over(wd))
        .filter(col("rk") === 1)
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      sur.select(col("doc_id"), col("lang"),
                 size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
                 col("n_chars"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wb))
        .filter(col("cum_tokens") <= 1500L)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("lang", "cum_tokens")
    }, Some("""
      WITH bg AS (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
      agg AS (SELECT doc_id, SUM(c) AS total, MAX(c) AS mx,
                     COUNT(*) AS n_distinct
              FROM cnt GROUP BY doc_id),
      kept AS (
        SELECT doc_id FROM agg
        WHERE CAST(mx AS DOUBLE) / total <= 0.04
          AND CAST(total - n_distinct AS DOUBLE) / total <= 0.05),
      sur AS (
        SELECT doc_id, lang, text, n_chars FROM (
          SELECT d.doc_id, d.lang, d.text, d.n_chars,
                 ROW_NUMBER() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rk
          FROM documents d JOIN kept k ON d.doc_id = k.doc_id)
        WHERE rk = 1),
      sel AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               -- BIGINT cast: avoid HUGEINT in driver-hashed output (see d17)
               CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                 PARTITION BY lang ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM sur)
      SELECT doc_id, lang, n_tokens, cum_tokens
      FROM sel WHERE cum_tokens <= 1500
      ORDER BY lang, cum_tokens""")),

    // --- sequence packing (concat-and-chunk training batches) --------------
    // The GPT-style packing shape: documents concatenate in a stable order
    // and split into fixed-length training sequences; each doc reports the
    // sequence span it lands in (first_seq..last_seq) plus how many
    // boundaries cut it. Packing runs PER LANGUAGE (the stratum key), so
    // at 100 TB each stratum's cumulative sum is an independent window —
    // shard by stratum, never a global single-partition scan. One window
    // pass, no shuffle beyond the partition-by.
    QDef("d22_pack_sequences", (s, dir) => {
      val t = Tables.register(s, dir)
      val L = 256L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      t("documents")
        .select(col("doc_id"), col("lang"),
                size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("end_tok", sum(col("n_tok")).over(w))
        .withColumn("start_tok", col("end_tok") - col("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
                floor(col("start_tok") / L).cast(LongType).as("first_seq"),
                floor((col("end_tok") - 1L) / L).cast(LongType).as("last_seq"))
        .withColumn("n_splits", col("last_seq") - col("first_seq"))
        .orderBy("lang", "doc_id")
    }, Some("""
      WITH s AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_tok
        FROM documents)
      SELECT doc_id, lang, n_tok,
             CAST(FLOOR((end_tok - n_tok) / 256.0) AS BIGINT) AS first_seq,
             CAST(FLOOR((end_tok - 1) / 256.0) AS BIGINT) AS last_seq,
             CAST(FLOOR((end_tok - 1) / 256.0) AS BIGINT)
               - CAST(FLOOR((end_tok - n_tok) / 256.0) AS BIGINT) AS n_splits
      FROM s ORDER BY lang, doc_id""")),

    // --- DSIR importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling") -----------------------
    // Select raw-corpus documents whose hashed-n-gram feature distribution
    // looks like a TARGET domain (here: source 'src0'): per-feature weight
    // = smoothed log-likelihood ratio log p_target(b) - log p_raw(b); a
    // document's importance is its feature-count-weighted sum. This is the
    // paper's HASHED construction: bigrams bucket into a fixed 16-bit
    // feature space via a PORTABLE hash (the first 4 hex chars of md5 —
    // identical on both engines, unlike the engines' native hash seeds),
    // so the weight table is bounded at 65536 rows and BROADCASTS — the
    // corpus never shuffles gram strings, only (doc, 4-char-bucket)
    // counts, and the weight join is shuffle-free at any corpus size.
    // Determinism: each LN is rounded to 8 digits (the BM25 idf pattern),
    // the difference snaps to micro-units, and per-doc sums are exact
    // integer arithmetic.
    QDef("d23_dsir_sample", (s, dir) => {
      val t = Tables.register(s, dir)
      // bigram buckets via ONE fused kernel pass — the per-doc (bucket,
      // count) census comes straight off the scan, so the exploded stream
      // is one row per DISTINCT (doc, bucket) instead of one per bigram,
      // and no gram string or hex md5 is ever materialized (the kernel
      // feeds tokA/' '/tokB to the digest directly; value-identical to
      // explode(zip_with)->md5->substring->groupBy, which the DuckDB
      // oracle mirrors — BigramBucketCounts scaladoc). (History: a lead()
      // window formulation was 8x the oracle; the zip_with explode +
      // groupBy it replaced still shuffled and counted every bigram row.)
      val cnt = t("documents")
        .select(col("doc_id"), col("source"),
          explode(graft.functions.ArrayKernels.bigramBuckets(col("text"))).as("e"))
        .select(col("doc_id"), col("source"),
          col("e.b").as("b"), col("e.c").as("c"))
      val raw = cnt.groupBy("b").agg(sum("c").as("rc"))
      val tgt = cnt.filter(col("source") === "src0")
        .groupBy("b").agg(sum("c").as("tc"))
      val scal = raw.agg(sum(col("rc")).as("rtot"), count(lit(1)).as("v"))
        .crossJoin(tgt.agg(coalesce(sum(col("tc")), lit(0L)).as("ttot")))
      val wts = raw.join(tgt, Seq("b"), "left")
        .withColumn("tc", coalesce(col("tc"), lit(0L)))
        .crossJoin(broadcast(scal))
        .select(col("b"),
                floor((round(log((col("tc") + lit(0.5)) /
                         (col("ttot").cast(DoubleType) + lit(0.5) * col("v").cast(DoubleType))), 8)
                       - round(log((col("rc") + lit(0.5)) /
                         (col("rtot").cast(DoubleType) + lit(0.5) * col("v").cast(DoubleType))), 8))
                        * lit(1e6) + lit(0.5)).cast(LongType).as("wm"))
      cnt.join(broadcast(wts), Seq("b"))
        .groupBy("doc_id")
        .agg(round(sum(col("c") * col("wm")) / lit(1e6), 6).as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(25)
    }, Some("""
      WITH bg0 AS (
        SELECT doc_id, source,
               UNNEST(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1])) AS g
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)),
      bg AS (SELECT doc_id, source, substring(md5(g), 1, 4) AS b FROM bg0),
      cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
      raw AS (SELECT b, COUNT(*) AS rc FROM bg GROUP BY b),
      tgt AS (SELECT b, COUNT(*) AS tc FROM bg WHERE source = 'src0' GROUP BY b),
      scal AS (SELECT (SELECT SUM(rc) FROM raw) AS rtot,
                      (SELECT COUNT(*) FROM raw) AS v,
                      (SELECT COUNT(*) FROM bg WHERE source = 'src0') AS ttot),
      wts AS (
        SELECT raw.b,
               CAST(FLOOR((ROUND(LN((COALESCE(tgt.tc, 0) + 0.5)
                                    / (CAST(scal.ttot AS DOUBLE) + 0.5 * CAST(scal.v AS DOUBLE))), 8)
                         - ROUND(LN((raw.rc + 0.5)
                                    / (CAST(scal.rtot AS DOUBLE) + 0.5 * CAST(scal.v AS DOUBLE))), 8))
                          * 1e6 + 0.5) AS BIGINT) AS wm
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN scal)
      SELECT doc_id, ROUND(SUM(c * wm) / 1e6, 6) AS dsir_score
      FROM cnt JOIN wts ON cnt.b = wts.b
      GROUP BY doc_id
      ORDER BY dsir_score DESC, doc_id LIMIT 25""")),

    // --- multimodal column conventions: binary payload + typed metadata ----
    // Text stands in for an opaque media payload (the container has no
    // image/audio codecs — SURVEY §2.5 multimodal: the decode step is a
    // deterministic stub, the schema/plumbing is real).
    QDef("m01_multimodal_meta", (s, dir) => {
      val t = Tables.register(s, dir)
      t("documents")
        .withColumn("payload", col("text").cast(BinaryType))
        .withColumn("mime", lit("text/plain"))
        .select(col("doc_id"),
                length(col("payload")).cast(IntegerType).as("n_bytes"),
                col("mime"),
                ascii(col("text")).cast(IntegerType).as("first_byte"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS INT) AS n_bytes,
             'text/plain' AS mime,
             CAST(ASCII(text) AS INT) AS first_byte
      FROM documents
      ORDER BY doc_id""")),

    // --- audio modality: real WAV/RIFF container parsing ------------------
    // The audio twin of m02's image-header decode: payloads are VALID PCM
    // WAV files synthesized from fixture columns (params derived from
    // doc_id, data = a deterministic byte stream), the Spark side PARSES
    // the RIFF/fmt/data chunks partition-wise (Multimodal.decodeAudio —
    // the mapInPandas shape), and the oracle recomputes every field from
    // the generating arithmetic — so a mis-parsed offset, a wrong
    // endianness, or one corrupted data byte breaks the hash. Codec-free
    // (PCM metadata is pure byte layout); pixel/sample DSP stays out of
    // scope per SURVEY §2.5.
    QDef("m03_wav_audio_meta", (s, dir) => {
      import s.implicits._
      val t = Tables.register(s, dir)
      val rows = t("documents").select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nc) =>
          val channels = (1 + id % 2).toInt
          val rate = (id % 3) match {
            case 0 => 8000; case 1 => 16000; case _ => 44100 }
          val bits = if (id % 2 == 0) 8 else 16
          val n = math.min(nc, 200L).toInt
          graft.operators.Multimodal.AudioRow(id,
            graft.operators.Multimodal.syntheticWav(id, channels, rate, bits, n))
        }
      graft.operators.Multimodal.decodeAudio(rows)
        .select(col("doc_id"), col("mime"), col("n_bytes"), col("channels"),
                col("sample_rate"), col("bits"), col("n_samples"),
                col("duration_ms"), col("pcm_sum"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id,
               CAST(1 + doc_id % 2 AS INT) AS channels,
               CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT) AS bits,
               LEAST(n_chars, 200) AS n
        FROM documents),
      sized AS (
        SELECT *, n * channels * (bits // 8) AS data_len FROM base),
      sums AS (
        SELECT doc_id, CAST(SUM((doc_id * 31 + i * 7) % 256) AS BIGINT) AS pcm_sum
        FROM (SELECT doc_id, unnest(generate_series(0, CAST(data_len AS BIGINT) - 1)) AS i
              FROM sized)
        GROUP BY doc_id)
      SELECT s.doc_id, 'audio/wav' AS mime,
             CAST(44 + s.data_len AS INT) AS n_bytes,
             s.channels, s.sample_rate, s.bits,
             CAST(s.n AS BIGINT) AS n_samples,
             CAST((s.n * 1000) // s.sample_rate AS BIGINT) AS duration_ms,
             m.pcm_sum
      FROM sized s JOIN sums m ON s.doc_id = m.doc_id
      ORDER BY s.doc_id""")),

    // Heavy hitters with a PROVABLY-exact top-k: one merged Misra-Gries
    // summary (map-side partials bounded at `cap` entries — the shuffle
    // carries summaries, never tokens), then an exact recount of ONLY
    // the summary's <= cap candidates (broadcast semi-join, map-only
    // filter). The MG guarantee (any token with true count >
    // n/(cap+1) is in the summary) plus the runtime check that the
    // 20th recounted frequency clears that threshold makes the top-20
    // EXACT — hash-verified against DuckDB's exact census. At 100 TB
    // the corpus-wide token census this replaces would shuffle every
    // token; this shuffles <= cap x partitions summary entries.
    QDef("d31_heavy_hitters", (s, dir) => {
      import graft.functions.SketchAggs
      val t = Tables.register(s, dir)
      val cap = 4096
      val toks = t("documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val row = toks
        .agg(SketchAggs.freqSketch(col("tok"), cap).as("mg"),
             count(lit(1)).as("n"))
        .collect().head // bounded: one row, <= cap summary entries
      val n = row.getLong(1)
      val cand = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      import s.implicits._
      val candDf = cand.toDF("tok")
      val top = toks.join(broadcast(candDf), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(20)
        .collect()
      val threshold = n / (cap + 1)
      require(top.length < 20 || top.last.getLong(1) > threshold,
        s"heavy-hitters: 20th frequency ${top.last.getLong(1)} does not " +
          s"clear the MG threshold $threshold — raise cap for provable " +
          "exactness at this scale")
      s.createDataFrame(
        s.sparkContext.parallelize(top.toIndexedSeq, 1),
        StructType(Seq(StructField("tok", StringType, nullable = false),
                       StructField("cnt", LongType, nullable = false))))
    }, Some("""
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""")),

    // Document chunking (the RAG/embedding prep shape): fixed-size
    // character windows with overlap — size 500, stride 400 (100-char
    // overlap), every doc yields >= 1 chunk. Map-only: a sequence()
    // posexplode per doc, no shuffle until the final presentation sort.
    // Chunk content is pinned by md5, so an off-by-one in the stride,
    // window clipping, or chunk count breaks the hash.
    QDef("d32_chunking", (s, dir) => {
      val t = Tables.register(s, dir)
      t("documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          expr("GREATEST(1, (length(text) + 299) DIV 400)").as("n"))
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0L), col("n") - 1)))
        .select(col("doc_id"), col("col").as("ci"),
          expr("substring(text, CAST(col * 400 + 1 AS INT), 500)").as("ch"))
        .select(col("doc_id"), col("ci"),
          length(col("ch")).as("chunk_len"), md5(col("ch")).as("chunk_md5"))
        .orderBy("doc_id", "ci")
    }, Some("""
      SELECT doc_id, ci, CAST(LENGTH(ch) AS INT) AS chunk_len,
             MD5(ch) AS chunk_md5
      FROM (
        SELECT doc_id, ci,
               SUBSTRING(text, CAST(ci * 400 + 1 AS INT), 500) AS ch
        FROM (
          SELECT doc_id, text,
                 unnest(generate_series(0,
                   GREATEST(1, (LENGTH(text) + 299) // 400) - 1)) AS ci
          FROM documents WHERE text IS NOT NULL))
      ORDER BY doc_id, ci"""))
  )
}
