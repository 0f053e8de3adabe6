package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full-text search with BM25 ranking — the lance-index FTS analogue.
  *
  * The reference engine gets full-text search from the lance crate's
  * tantivy-backed inverted index (`/root/reference/Cargo.lock`: `lance-index`
  * -> `tantivy 0.24`): `create_index` builds term postings, queries rank with
  * BM25. This module re-expresses that Spark-first:
  *
  *  - [[buildIndex]] persists an inverted index as lance datasets:
  *    `postings.lance` `(term, doc_id, tf, dl)` range-partitioned and sorted
  *    by term — each fragment covers a narrow term range, so the manifest's
  *    per-fragment/page min-max stats let a query's term IN-list prune
  *    whole fragments without opening them (same mechanism the IVF index
  *    uses for `list_id`); `terms.lance` `(term, df)` (vocabulary-sized,
  *    same layout); `stats.lance` (one row: corpus size + total token
  *    count).
  *  - [[searchPersisted]] scores a term query against the index: the
  *    postings scan reads only probed-term fragments, document frequencies
  *    arrive via a broadcast join of the (pruned) vocabulary, scores
  *    accumulate in an order-independent fixed-point interior, and the
  *    final top-k fuses to TakeOrderedAndProject. At 100 TB the per-query
  *    cost is proportional to the query terms' posting lists — never the
  *    corpus — and the only shuffle is the skinny `(doc_id, long)`
  *    aggregation.
  *
  * Scoring is Lucene/tantivy-shape BM25:
  * {{{
  *   idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   w(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  * }}}
  * with k1 = 1.2, b = 0.75.
  *
  * Determinism contract (the d13/Det recipe): `idf` is rounded to 8
  * decimals (both engines' `ln` agree far past that at these magnitudes),
  * each per-(doc,term) contribution is floored to an exact micro-unit long
  * `floor(w * 1e6 + 0.5)`, and the per-doc score is the SUM of those longs
  * — associative, order-independent, bit-identical between a distributed
  * Spark aggregation and DuckDB's single-node oracle.
  *
  * A lance-attached index ([[buildIndexLance]]) is a published index
  * ([[graft.sources.lance.IndexStore]]): `built.lance` holds
  * (built_version, id_col, text_col, postings_version, terms_version,
  * stats_version), and every reader takes the sidecar pins and the source
  * version from one record. A plain-build index has no publish point and
  * reads sidecar heads.
  */
object Fts {
  import graft.sources.lance.{IndexStore, LanceFormat, LanceLocal, MaintenanceLock}
  import IndexStore.Published

  val K1 = 1.2
  val B  = 0.75

  /** Tokenized postings `(doc_id, dl, term, tf, positions)` — one row per
    * distinct (document, term); `dl` is the document's token count and
    * `positions` the sorted token offsets (what tantivy's
    * `with_position` postings store — they power persisted phrase
    * queries and cost nothing at ranking time: BM25 scans prune the
    * column). Tokenization is single-space split, matching the corpus
    * convention (and the oracle's `string_split`). All of a document's
    * tokens are in its row, so one codegen pass per row
    * ([[graft.functions.FtsPostings]]) emits its postings: a map-only
    * frame, no exchange and no aggregate. A document id is one
    * document: a duplicated id posts each of its rows separately.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast(LongType).as("doc_id"),
                inline(graft.functions.ArrayKernels.ftsPostings(col(textCol))))
      .select("doc_id", "dl", "term", "tf", "positions")

  /** Corpus stats: one row `(n_docs, total_len)`. NULL-text documents are
    * excluded — they post no terms (see [[postings]]), so counting them
    * here would make the statistics diverge between the raw path and the
    * postings-derived path ([[buildIndexFromPostings]]). */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
           sum(size(split(col(textCol), " ")).cast(LongType)).as("total_len"))

  /** Build and persist the inverted index under `indexPath` (three lance
    * datasets — see the object doc). The postings write is the one big job
    * (the per-document postings kernel + the range shuffle that is the
    * build's only corpus-sized exchange); everything else is
    * vocabulary-sized or constant.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String, writePartitions: Int = 8): Unit =
    buildIndexFromPostings(docs.sparkSession,
      postings(docs, idCol, textCol), indexPath, writePartitions)

  /** [[buildIndex]] interior over an ALREADY-TOKENIZED postings frame
    * (the [[postings]] schema) — the "stage the tokenization once" path:
    * several index flavors over the same corpus (plain, lance-attached,
    * a live twin) each derive their sidecars from one staged
    * `(doc_id, dl, term, tf, positions)` dataset instead of re-tokenizing
    * the corpus per flavor. The frame is written to `postings.lance`
    * FIRST and the vocabulary + corpus stats derive from the on-disk
    * copy in ONE skinny aggregate ([[writeVocabulary]]), so the
    * single-build path tokenizes the corpus only for its write.
    *
    * Stats parity: every tokenized document posts ≥ 1 term (split never
    * returns an empty array), exactly one of them at position 0, and its
    * tfs sum to its `dl`, so (postings at position 0, Σ tf) equals
    * [[corpusStats]] on the raw table exactly. Documents with NULL text post no terms and
    * are excluded from the statistics everywhere (they can never match
    * a term query); corpora that want them counted must coalesce
    * upstream.
    */
  def buildIndexFromPostings(spark: SparkSession, p: DataFrame,
                             indexPath: String,
                             writePartitions: Int = 8): Unit =
    // same lock updateIndex holds: two concurrent rebuilds (or a rebuild
    // racing an update) would interleave sidecar overwrites — readers
    // pin, so they stay consistent, but the LOSER's sidecars could end
    // up published under the winner's tombstone/pins
    MaintenanceLock.withLock(indexPath, spark.sessionState.newHadoopConf()) {
      buildIndexFromPostingsLocked(spark, p, indexPath, writePartitions)
    }

  private def buildIndexFromPostingsLocked(spark: SparkSession, p: DataFrame,
                                           indexPath: String,
                                           writePartitions: Int): Unit = {
    writePostings(p, indexPath, "overwrite", writePartitions)
    writeVocabulary(spark, indexPath, writePartitions)
    // a rebuild over a previously pinned path must retire the stale
    // publish point ITSELF, not just this JVM's cache: built.lance pins
    // the OLD sidecar versions and any other process would keep reading
    // them. Retire = overwrite with a TOMBSTONE row (every version field
    // = NoBuilt, which reads as "no pin"), NOT a delete: deleting resets
    // the dataset's version counter to 1 on the next publish, and a remote
    // cache keyed at (1, old record) would treat that republished
    // version-1 head as already-seen — stale pins forever. The tombstone
    // keeps the publish point's version strictly monotonic across rebuilds.
    try {
      val (bfs, bp) = LanceFormat.fileSystem(builtPath(indexPath),
        spark.sessionState.newHadoopConf())
      if (bfs.exists(bp))
        IndexStore.publish(spark, builtPath(indexPath), None,
          "built_version" -> NoBuilt, "id_col" -> "", "text_col" -> "",
          "postings_version" -> NoBuilt, "terms_version" -> NoBuilt,
          "stats_version" -> NoBuilt)
    } catch { case _: Exception => () } // best-effort; readers stat per read
  }

  private def writePostings(p: DataFrame, indexPath: String, mode: String,
                            writePartitions: Int): Unit =
    p.repartitionByRange(writePartitions, col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.format("lance").mode(mode).save(s"$indexPath/postings.lance")

  private def writeTerms(dfs: DataFrame, indexPath: String,
                         writePartitions: Int): Unit =
    dfs.repartitionByRange(math.max(writePartitions / 4, 1), col("term"))
      .sortWithinPartitions("term")
      .write.format("lance").mode("overwrite").save(s"$indexPath/terms.lance")

  /** `terms.lance` and `stats.lance` from the [[vocabulary]] of the
    * written postings, one skinny aggregate. Both commit on the driver
    * ([[LanceLocal.write]]) when the vocabulary fits the cap; over it,
    * terms take [[writeTerms]]. */
  private def writeVocabulary(spark: SparkSession, indexPath: String,
                              writePartitions: Int): Unit = {
    val vocab = vocabulary(spark.read.format("lance").load(s"$indexPath/postings.lance"))
    val (nDocs, totalLen) = LanceLocal.collectWithin(vocab) match {
      case Some(v) =>
        val terms = LanceLocal.Rows(StructType(v.schema.take(2)),
          v.rows.map(r => InternalRow(r.getUTF8String(0), r.getLong(1))))
        LanceLocal.write(spark, s"$indexPath/terms.lance", terms.sortedBy(Seq("term")), "overwrite")
        (v.rows.iterator.map(_.getLong(3)).sum, v.rows.iterator.map(_.getLong(2)).sum)
      case None =>
        writeTerms(vocab.select("term", "df"), indexPath, writePartitions)
        corpusOf(vocab)
    }
    LanceLocal.write(spark, s"$indexPath/stats.lance",
      LanceLocal.Rows(StatsSchema, IndexedSeq(InternalRow(nDocs, totalLen))), "overwrite")
  }

  /** Per term of a postings frame: `df` (postings are one row per (doc,
    * term)), `len` = Σ tf and `docs` = its postings at position 0, one per
    * tokenized document, so the sums of `docs` and `len` over the
    * vocabulary are the corpus's (n_docs, total_len). */
  private def vocabulary(p: DataFrame): DataFrame =
    p.groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("len"),
      count_if(col("positions").getItem(0) === 0).as("docs"))

  /** (n_docs, total_len) of a [[vocabulary]]; (0, 0) when empty. */
  private def corpusOf(vocab: DataFrame): (Long, Long) = {
    val st = vocab.agg(coalesce(sum("docs"), lit(0L)), coalesce(sum("len"), lit(0L))).head()
    (st.getLong(0), st.getLong(1))
  }

  /** Sentinel version of a tombstoned publish point. */
  private val NoBuilt = -1L

  private def builtPath(indexPath: String): String = s"$indexPath/built.lance"

  private def published(spark: SparkSession, indexPath: String): Option[Published] =
    IndexStore.published(spark, builtPath(indexPath))

  /** The record of a lance-attached index, for operations that need its
    * source version and column names: refuses a plain-build index and a
    * tombstone (after a plain-path rebuild those fields are retired, and
    * e.g. an incremental update or a combined search would CDC-scan from
    * a bogus source version). */
  private def requirePublished(pub: Option[Published],
                               indexPath: String): Published =
    pub.filter(_.built != NoBuilt).getOrElse(throw new IllegalArgumentException(
      s"$indexPath: publish point is missing or a tombstone — the index was " +
        "rebuilt by the plain buildIndex path since its last lance-attached " +
        "publish; re-run buildIndexLance against the source dataset"))

  /** A sidecar scan at the version `pub` pins (the head when unpinned). */
  private def sidecar(spark: SparkSession, indexPath: String, name: String,
                      pub: Option[Published]): DataFrame =
    IndexStore.pinned(spark, indexPath, s"$name.lance",
      pub.flatMap(_.pin(s"${name}_version")))

  /** Corpus stats cached per index, keyed by the stats.lance version they
    * were read at: its pin, or for an unpinned index its head (one
    * manifest stat per read). A publish, a cross-process rebuild or a
    * stats overwrite all advance that version and so invalidate. When the
    * head stat fails the read bypasses the cache and caches nothing. */
  private val statsCache = new graft.functions.Lru[String, (Long, (Long, Long))](32)

  private def statsOf(spark: SparkSession, indexPath: String,
                      pub: Option[Published]): (Long, Long) = {
    val v = pub.flatMap(_.pin("stats_version")).orElse(
      try Some(LanceFormat.headVersion(spark.sessionState.newHadoopConf(),
        s"$indexPath/stats.lance"))
      catch { case _: Exception => None })
    statsCache.get(indexPath).filter(c => v.contains(c._1)).map(_._2).getOrElse {
      val st = readStats(spark, indexPath, v)
      v.foreach(k => statsCache.put(indexPath, (k, st)))
      st
    }
  }

  private def readStats(spark: SparkSession, indexPath: String,
                        v: Option[Long]): (Long, Long) = {
    val r = LanceLocal.collect(spark, s"$indexPath/stats.lance", v).head
    (r.getLong(0), r.getLong(1))
  }

  /** Test hook: simulate a fresh session (forces the stats/pins re-read). */
  private[graft] def clearStatsCache(): Unit = {
    statsCache.clear()
    IndexStore.clear()
  }

  /** The fixed-point BM25 contribution of one posting row, as a long in
    * micro-units. Columns required: term, tf, dl, df; `nDocs`/`avgdl` are
    * corpus constants folded into the expression.
    *
    * Every constant is a plain decimal literal (`2.2`, `1.2`, `0.25`,
    * `0.75`) so the Spark expression and the DuckDB oracle parse the SAME
    * double — a computed `K1 + 1.0` could round differently from a parsed
    * `2.2`. The operation order mirrors the oracle SQL's parse tree
    * exactly; identical IEEE ops on identical inputs give identical bits.
    */
  private[graft] def contribMicro(nDocs: Long, avgdl: Double): org.apache.spark.sql.Column = {
    val idf8 = round(log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 8)
    val tfw = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))
    floor(idf8 * tfw * lit(1e6) + lit(0.5)).cast(LongType)
  }

  /** [[contribMicro]] as a plain function of one posting: the same IEEE
    * operations in the same order, with Spark's `ln` (StrictMath) and
    * HALF_UP `round` over the double's decimal spelling, so the driver
    * path scores bit-identically. Defined where the expression is (every
    * divisor is positive: tf >= 1, df >= 0, avgdl > 0). */
  private[graft] def contribMicroOf(nDocs: Long, avgdl: Double,
                                    tf: Long, dl: Long, df: Long): Long = {
    val idf8 = roundHalfUp(StrictMath.log(1.0 +
      (nDocs.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)), 8)
    val tfw = tf.toDouble * 2.2 /
      (tf.toDouble + 1.2 * (0.25 + 0.75 * dl.toDouble / avgdl))
    math.floor(idf8 * tfw * 1e6 + 0.5).toLong
  }

  /** A per-doc score from its summed micro-units, as
    * `round(sum / 1e6, 6)` computes it. */
  private[graft] def scoreOf(micro: Long): Double = roundHalfUp(micro / 1e6, 6)

  private def roundHalfUp(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Score `terms` against prepared postings+df frames (index-free path:
    * both derived from the raw table; index path: both lance scans with the
    * IN-list pushed). Returns `(doc_id, score)`, top `k` by score desc with
    * doc_id tie-break.
    */
  def bm25TopK(postings: DataFrame, termDf: DataFrame, nDocs: Long,
               totalLen: Long, terms: Seq[String], k: Int): DataFrame =
    bm25Scores(postings, termDf, nDocs, totalLen, terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Per-doc BM25 scores of `terms` (no ranking cut) — the shared interior
    * of [[bm25TopK]] and [[searchBoolean]]. */
  def bm25Scores(postings: DataFrame, termDf: DataFrame, nDocs: Long,
                 totalLen: Long, terms: Seq[String]): DataFrame = {
    val avgdl = totalLen.toDouble / nDocs
    postings.filter(col("term").isin(terms: _*))
      // left join + df->0: identical to inner when postings and vocabulary
      // derive from the same corpus (every posted term has a df row);
      // lets [[searchCombined]]'s tail-only terms score at the formula's
      // df->0 limit instead of vanishing
      .join(broadcast(termDf.filter(col("term").isin(terms: _*))),
            Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .select(col("doc_id"), contribMicro(nDocs, avgdl).as("micro"))
      .groupBy("doc_id")
      .agg(round(sum(col("micro")) / lit(1e6), 6).as("score"))
  }

  /** Index-free BM25 (the oracle-shaped path): everything computed from the
    * raw table in one lineage. Used when no index exists — the full-corpus
    * tokenize is the price.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int): DataFrame = {
    val p  = postings(docs, idCol, textCol)
    val df = p.groupBy("term").agg(count(lit(1)).as("df"))
    val st = corpusStats(docs, idCol, textCol).head()
    bm25TopK(p, df, st.getLong(0), st.getLong(1), terms, k)
  }

  /** Search a persisted index: corpus stats from the (cached) one-row
    * sidecar; postings and vocabulary scans carry the term IN-list into the
    * lance source, so fragments outside the probed term ranges are never
    * opened.
    */
  def searchPersisted(spark: SparkSession, indexPath: String,
                      terms: Seq[String], k: Int): DataFrame = {
    val pub = published(spark, indexPath)
    val (nDocs, totalLen) = statsOf(spark, indexPath, pub)
    probe(spark, indexPath, pub, nDocs, totalLen, terms, k)
  }

  /** The probe plan with corpus stats supplied by the caller — shared by
    * [[searchPersisted]] and the declarative rewrite
    * ([[graft.plans.FtsTopKRewrite]], whose registry caches the stats at
    * registration so PLANNING never runs a job).
    */
  def searchWithStats(spark: SparkSession, indexPath: String, nDocs: Long,
                      totalLen: Long, terms: Seq[String], k: Int): DataFrame =
    probe(spark, indexPath, published(spark, indexPath), nDocs, totalLen, terms, k)

  private def probe(spark: SparkSession, indexPath: String,
                    pub: Option[Published], nDocs: Long, totalLen: Long,
                    terms: Seq[String], k: Int): DataFrame =
    bm25TopK(sidecar(spark, indexPath, "postings", pub),
      sidecar(spark, indexPath, "terms", pub), nDocs, totalLen, terms, k)

  /** Delete-aware search of a persisted index: postings store a COPY of
    * the term statistics, so a document deleted from `sourcePath` after
    * the build would otherwise still rank. The probe over-fetches a
    * bounded candidate set, verifies liveness against the source with a
    * pushed id IN-list (zone-pruned point reads — O(k), never a corpus
    * scan), and returns the top `k` live survivors. Scores keep the
    * build-era statistics (the stale-FTS contract — tantivy segments
    * likewise score deleted-doc-free results with segment-era stats until
    * a merge).
    */
  def searchPersistedLive(spark: SparkSession, indexPath: String,
                          sourcePath: String, idCol: String,
                          terms: Seq[String], k: Int): DataFrame = {
    val over = math.max(4 * k, k + 64)
    val candsDf = searchPersisted(spark, indexPath, terms, over)
    liveTopK(spark, sourcePath, idCol, candsDf, k)
  }

  /** The liveness mask shared by [[searchPersistedLive]] and
    * [[searchCombinedLive]]: the source joins the broadcast candidate
    * set `(doc_id, score)`, and the lance scan's
    * SupportsRuntimeV2Filtering receives the realized
    * candidate ids as an IN-list zone filter once the broadcast
    * materializes — bounded point reads, never a corpus scan, no
    * driver-side collect, and the probe's broadcast is shared with the
    * pruning subquery so it executes once. The result stays a lazy
    * distributed plan. The grouped first-win restores semi-join
    * semantics when the source holds duplicate ids (update-by-append) —
    * grouping on the id alone keeps the exchange keyed on ≤candidates
    * ids after map-side partial aggregation, cheaper than an
    * all-columns distinct. */
  private def liveTopK(spark: SparkSession, sourcePath: String,
                       idCol: String, candsDf: DataFrame, k: Int): DataFrame = {
    val cands = if (idCol == "doc_id") candsDf
                else candsDf.withColumnRenamed("doc_id", idCol)
    val src = spark.read.format("lance").load(sourcePath).select(col(idCol))
    src.join(broadcast(cands), Seq(idCol), "inner")
      .groupBy(col(idCol)).agg(max(col("score")).as("score"))
      .select(col(idCol).as("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Fuzzy term search over a persisted index (tantivy `FuzzyTermQuery`
    * parity — lance FTS exposes `fuzziness` on match queries): each query
    * term expands to every VOCABULARY term within Levenshtein distance
    * `maxDist`, and the union of expanded terms scores through the normal
    * BM25 probe — each matched index term contributes with its OWN
    * document frequency (tantivy semantics: a fuzzy query is an OR over
    * the matched index terms, not a frequency merge).
    *
    * Scale shape: expansion is a scan of `terms.lance` (vocabulary-sized,
    * millions of rows at worst — orders of magnitude under the corpus)
    * with a codegen `levenshtein` filter; only the matched terms (a
    * handful, bounded by `maxExpansions` like tantivy's 50-state cap)
    * come back to the driver to become the probe's IN-list, which then
    * prunes postings fragments exactly like an exact-term search. The
    * collect is O(maxExpansions), never O(vocab).
    */
  def searchFuzzy(spark: SparkSession, indexPath: String,
                  terms: Seq[String], maxDist: Int, k: Int,
                  maxExpansions: Int = 50): DataFrame = {
    val pub = published(spark, indexPath)
    val matched = sidecar(spark, indexPath, "terms", pub)
      .filter(terms.map(t => levenshtein(col("term"), lit(t)) <= maxDist)
                   .reduce(_ || _))
      // deterministic cap: most-frequent terms first (tantivy keeps the
      // automaton's first matches; a df-ordered cap is the analogous
      // bounded choice and is stable across runs)
      .orderBy(col("df").desc, col("term"))
      .limit(maxExpansions)
      .select("term").collect().map(_.getString(0)).toSeq
    val (nDocs, totalLen) = statsOf(spark, indexPath, pub)
    probe(spark, indexPath, pub, nDocs, totalLen,
      if (matched.isEmpty) Seq("\u0000") else matched, k)
  }

  /** Build the index FOR a lance dataset, recording the source head
    * version and column names in the `built.lance` sidecar so
    * [[searchCombined]] can cover the append tail (the ANN/scalar
    * combined-search pattern applied to FTS) and [[attachIndex]] can
    * re-register in a fresh session. Also registers the index with
    * [[graft.plans.GraftFts]], enabling the declarative
    * `graft_bm25(...) ORDER BY ... LIMIT k` rewrite over `sourcePath`.
    */
  def buildIndexLance(spark: SparkSession, sourcePath: String, idCol: String,
                      textCol: String, indexPath: String,
                      writePartitions: Int = 8,
                      stagedPostings: Option[DataFrame] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    // hold the maintenance lock across rebuild AND republish: without it
    // a concurrent updateIndex (or twin rebuild) could interleave between
    // the interior's tombstone and this publish, and cross-process
    // readers would head-read a mix of two writers' sidecars
    MaintenanceLock.withLock(indexPath, conf) {
    val builtV = LanceFormat.headVersion(conf, sourcePath)
    // stagedPostings: a pre-tokenized [[postings]] frame of the SAME
    // corpus content as `sourcePath` at `builtV` (the caller's
    // responsibility) — lets N index flavors over one corpus tokenize it
    // once instead of once per flavor
    val tokenized = stagedPostings.getOrElse {
      postings(spark.read.format("lance")
        .option("versionAsOf", builtV).load(sourcePath), idCol, textCol)
    }
    // locked interior — the public wrapper's lock is NOT reentrant
    buildIndexFromPostingsLocked(spark, tokenized, indexPath, writePartitions)
    val pub = publish(spark, indexPath, None, builtV, idCol, textCol)
    val (nDocs, totalLen) = statsOf(spark, indexPath, Some(pub))
    graft.plans.GraftFts.register(sourcePath, graft.plans.GraftFts.IndexInfo(
      indexPath, idCol, textCol, nDocs, totalLen, builtV))
    builtV
    } // withLock
  }

  /** Incrementally fold the post-build append tail into the persisted
    * index — the crate's `optimize_indices` analogue (tantivy adds a
    * segment; it does not re-tokenize old ones). Cost is O(tail), never
    * O(corpus):
    *
    *  - tail postings (a `fromVersion` CDC scan of only the new
    *    fragments) APPEND to `postings.lance` as new range-sorted
    *    fragments — old fragments are untouched, and term IN-list
    *    pruning keeps working per fragment;
    *  - the vocabulary merges tail dfs into `terms.lance` (vocabulary-
    *    sized rewrite — the one small non-incremental piece, same as a
    *    tantivy segment-metadata merge);
    *  - corpus stats advance by the tail's exact delta (no rescan).
    *
    * Appended doc_ids are NEW documents, so `df_new = df_old + df_tail`
    * and the merged statistics equal a from-scratch rebuild's EXACTLY —
    * [[searchPersisted]] after an update is bit-identical to a fresh
    * [[buildIndexLance]] at the head version (pinned by FtsSpec's
    * differential test). A tail, tail postings and vocabulary that fit
    * [[graft.sources.lance.LanceLocal.CapBytes]] are read, merged and
    * committed on the driver with no Spark job. Returns the new covered
    * version.
    */
  def updateIndex(spark: SparkSession, sourcePath: String, indexPath: String,
                  writePartitions: Int = 4): Long =
    MaintenanceLock.withLockFenced(indexPath,
        spark.sessionState.newHadoopConf()) { fence =>
      updateIndexLocked(spark, sourcePath, indexPath, writePartitions, fence)
    }

  /** Publish the sidecar heads this build or update produced, with the
    * covered source version and column names, to `built.lance`. */
  private def publish(spark: SparkSession, indexPath: String,
                      fence: Option[MaintenanceLock.Fence], builtV: Long,
                      idCol: String, textCol: String): Published = {
    val conf = spark.sessionState.newHadoopConf()
    def head(name: String): Long =
      LanceFormat.headVersion(conf, s"$indexPath/$name.lance")
    IndexStore.publish(spark, builtPath(indexPath), fence,
      "built_version" -> builtV, "id_col" -> idCol, "text_col" -> textCol,
      "postings_version" -> head("postings"), "terms_version" -> head("terms"),
      "stats_version" -> head("stats"))
  }

  /** The update body; callers hold the maintenance lock — a racing twin
    * would double-merge the tail dfs into the vocabulary (silent BM25
    * corruption), which the lock turns into a loud refusal. Every input
    * (the source bound, the terms and stats merged into) comes from the
    * record read under the lock, and `built.lance` publishes last
    * ([[graft.sources.lance.IndexStore]]): after a fence abort or crash
    * the next updater sweeps the orphan postings tail, while orphan
    * terms/stats overwrites are simply dead versions (their merges read
    * the pinned inputs) — exactly-once without double-appended postings
    * or double-merged dfs. */
  private def updateIndexLocked(spark: SparkSession, sourcePath: String,
                                indexPath: String, writePartitions: Int,
                                fence: MaintenanceLock.Fence): Long = {
    val pub = requirePublished(published(spark, indexPath), indexPath)
    val (builtV, idCol, textCol) =
      (pub.built, pub.row.getString(1), pub.row.getString(2))
    val headV = LanceFormat.headVersion(spark.sessionState.newHadoopConf(), sourcePath)
    if (headV == builtV) return builtV
    fence.check()
    pub.pin("postings_version").foreach(
      IndexStore.sweep(spark, indexPath, "postings.lance", _))
    // the tail's (n_docs, total_len) delta, its postings and vocabulary
    // merge committed on the driver when they fit the cap, else as jobs
    val (tailN, tailLen) =
      updateLocal(spark, sourcePath, indexPath, builtV, headV, idCol, textCol,
          pub, fence).getOrElse {
        val conf = spark.sessionState.newHadoopConf()
        val postingsPath = s"$indexPath/postings.lance"
        val before = LanceFormat.headVersion(conf, postingsPath)
        val tail = spark.read.format("lance")
          .option("fromVersion", builtV).option("versionAsOf", headV)
          .load(sourcePath)
        fence.check() // pre-commit fence: abort BEFORE publishing anything
        writePostings(postings(tail, idCol, textCol), indexPath, "append", writePartitions)
        // the df merge and the stats delta read the appended fragments back
        // (as the build does), so the tail is scanned and tokenized once
        val staged = spark.read.format("lance").option("fromVersion", before)
          .option("versionAsOf", LanceFormat.headVersion(conf, postingsPath))
          .load(postingsPath)
        // terms.lance is both input and output; safe because lance is
        // versioned — the scan pins the PUBLISHED version, data files are
        // immutable, and the overwrite commits a NEW version
        val tailVocab = vocabulary(staged)
        val mergedTerms = sidecar(spark, indexPath, "terms", Some(pub))
          .unionByName(tailVocab.select("term", "df"))
          .groupBy("term").agg(sum(col("df")).as("df"))
        fence.check()
        writeTerms(mergedTerms, indexPath, writePartitions)
        corpusOf(tailVocab)
      }
    // a fresh read at the pin, never the cache: a stale cached entry would
    // double- or under-count another process's merged tail
    val (oldN, oldLen) = readStats(spark, indexPath, pub.pin("stats_version"))
    val (newN, newLen) = (oldN + tailN, oldLen + tailLen)
    fence.check()
    val stats = LanceLocal.Rows(StatsSchema, IndexedSeq(InternalRow(newN, newLen)))
    LanceLocal.write(spark, s"$indexPath/stats.lance", stats, "overwrite")
    // the publish fence decides which of two racing maintainers commits
    val newPub = publish(spark, indexPath, Some(fence), headV, idCol, textCol)
    newPub.pin("stats_version").foreach(v =>
      statsCache.put(indexPath, (v, (newN, newLen))))
    graft.plans.GraftFts.register(sourcePath, graft.plans.GraftFts.IndexInfo(
      indexPath, idCol, textCol, newN, newLen, headV))
    headV
  }

  /** The schema of `stats.lance`: one row (n_docs, total_len). */
  private val StatsSchema = StructType(Seq(
    StructField("n_docs", LongType, nullable = false),
    StructField("total_len", LongType, nullable = false)))

  /** [[postings]] of driver rows `(id, text)` (`docId` reads the id) as
    * catalyst rows `(doc_id, dl, term, tf, positions)`, by the kernel's
    * own body ([[graft.functions.FtsPostings.postings]]); NULL text posts
    * nothing. */
  private def postingsOf(docs: LanceLocal.Rows,
                         docId: InternalRow => Long): IndexedSeq[InternalRow] =
    docs.rows.filter(!_.isNullAt(1)).flatMap { r =>
      val id = docId(r)
      val posted = graft.functions.FtsPostings.postings(r.getUTF8String(1))
      (0 until posted.numElements()).map { i =>
        val p = posted.getStruct(i, 4)
        InternalRow(id, p.getLong(0), p.getUTF8String(1), p.getLong(2), p.getArray(3))
      }
    }

  /** The update's postings, vocabulary and stats delta computed on the
    * driver, with no Spark job: the tail read through [[LanceLocal]] and
    * tokenized by [[postingsOf]]; its postings appended and the
    * vocabulary at its pin merged with the tail dfs and overwritten, each
    * by [[LanceLocal.write]] after a fence. Returns the tail's (n_docs,
    * total_len) as [[vocabulary]] counts them; None, having committed
    * nothing, when a read or write is over the cap or the id column is
    * not an integer, and the caller runs the DSv2 plan. */
  private def updateLocal(spark: SparkSession, sourcePath: String, indexPath: String,
                          builtV: Long, headV: Long, idCol: String, textCol: String,
                          pub: Published, fence: MaintenanceLock.Fence): Option[(Long, Long)] = {
    for {
      tail <- LanceLocal.read(spark, sourcePath, Some(headV), Some(builtV), Seq(idCol, textCol))
        .filter(_.schema(textCol).dataType == StringType)
      tailId <- Similarity.idsOf(tail)
      posted = postingsOf(tail, tailId)
      postingRows = LanceLocal.Rows(postings(tail.frame(spark), idCol, textCol).schema,
        posted).sortedBy(Seq("term", "doc_id"))
      if postingRows.fits
      vocab <- LanceLocal.read(spark, s"$indexPath/terms.lance", pub.pin("terms_version"),
        columns = Seq("term", "df"))
      // df_new = df_old + df_tail: every posting is a (doc, term) pair
      merged = LanceLocal.Rows(vocab.schema,
        (vocab.rows.map(r => r.getUTF8String(0) -> r.getLong(1)) ++
          posted.map(p => p.getUTF8String(2) -> 1L))
          .groupMapReduce(_._1)(_._2)(_ + _)
          .iterator.map { case (t, n) => InternalRow(t, n) }.toIndexedSeq)
        .sortedBy(Seq("term"))
      if merged.fits
    } yield {
      fence.check() // pre-commit fence: abort BEFORE publishing anything
      LanceLocal.write(spark, s"$indexPath/postings.lance", postingRows, "append")
      fence.check()
      LanceLocal.write(spark, s"$indexPath/terms.lance", merged, "overwrite")
      (posted.count(_.getArray(4).getInt(0) == 0).toLong, posted.map(_.getLong(3)).sum)
    }
  }

  /** Re-attach a persisted index in a fresh session: corpus stats and
    * column names reload from the sidecars, and the rewrite registry is
    * repopulated — the FTS twin of re-registering an IVF index from its
    * centroid sidecar. */
  def attachIndex(spark: SparkSession, sourcePath: String,
                  indexPath: String): Unit = {
    // re-attach = drop cached state and re-read the publish point —
    // including the failure-fallback roster: serving pre-attach pins
    // after an explicit re-attach could pin vacuumed sidecar versions
    IndexStore.forget(builtPath(indexPath))
    statsCache.remove(indexPath)
    val pub = requirePublished(published(spark, indexPath), indexPath)
    val (nDocs, totalLen) = statsOf(spark, indexPath, Some(pub))
    graft.plans.GraftFts.register(sourcePath, graft.plans.GraftFts.IndexInfo(
      indexPath, pub.row.getString(1), pub.row.getString(2), nDocs, totalLen,
      pub.built))
  }

  /** Search covering rows appended to `sourcePath` after the index build:
    * the index probe unions with postings computed on the fly from ONLY
    * the post-build fragments (a `fromVersion` CDC scan — a sliver until
    * the next rebuild). Scores use the BUILD-ERA corpus statistics
    * (df/N/avgdl), the standard stale-FTS contract (tantivy segments
    * behave the same until a merge): rankings stay internally consistent,
    * drift is bounded by the tail's relative size, and a rebuild
    * refreshes. Tail-only terms (df = 0 in the vocabulary) are scored
    * with the maximal idf `ln(1 + (N + 0.5) / 0.5)`, matching the
    * formula's df -> 0 limit.
    */
  def searchCombined(spark: SparkSession, indexPath: String,
                     sourcePath: String, idCol: String, textCol: String,
                     terms: Seq[String], k: Int): DataFrame = {
    // the tail bound and the pins from ONE record: a publish landing
    // between two reads would pair an old bound with new postings, and
    // the tail would re-score rows the pinned postings already hold
    val pub = requirePublished(published(spark, indexPath), indexPath)
    val (nDocs, totalLen) = statsOf(spark, indexPath, Some(pub))
    val idxPost = sidecar(spark, indexPath, "postings", Some(pub))
    val tailPost = postings(
      spark.read.format("lance").option("fromVersion", pub.built).load(sourcePath),
      idCol, textCol)
    val termDf = sidecar(spark, indexPath, "terms", Some(pub))
    bm25TopK(idxPost.unionByName(tailPost), termDf, nDocs, totalLen, terms, k)
  }

  /** The full between-rebuilds search contract ([[searchCombined]] +
    * [[searchPersistedLive]] composed — the FTS counterpart of
    * [[graft.operators.Similarity.ivfSearchCombinedLive]], which re-scores
    * its candidates against the live source instead): appended
    * docs rank via on-the-fly tail postings, and docs deleted from the
    * source since the build (indexed OR appended) drop from the final
    * ranked set through the same runtime-filter liveness join — the
    * realized over-fetch candidate ids reach the source scan as an
    * IN-list zone filter, O(k) point reads, no driver collect. Scores
    * keep build-era statistics (the stale-FTS contract).
    *
    * Documented limit: a doc DELETED and RE-APPENDED under the same id
    * scores as the union of its indexed and tail postings (tf merges —
    * [[searchCombined]]'s append contract cannot tell which indexed
    * rows the deletion masked, since postings key on doc_id, not row
    * address). A rebuild restores exact scoring; tantivy's
    * segment-level scoring has the analogous between-merge drift. */
  def searchCombinedLive(spark: SparkSession, indexPath: String,
                         sourcePath: String, idCol: String, textCol: String,
                         terms: Seq[String], k: Int): DataFrame = {
    val over = math.max(4 * k, k + 64)
    val pub = requirePublished(published(spark, indexPath), indexPath)
    combinedLiveLocal(spark, indexPath, sourcePath, idCol, textCol, terms, k,
        over, pub).getOrElse {
      val candsDf = searchCombined(spark, indexPath, sourcePath, idCol,
        textCol, terms, over)
      liveTopK(spark, sourcePath, idCol, candsDf, k)
    }
  }

  /** [[searchCombinedLive]] computed on the driver through bounded local
    * reads ([[LanceLocal]]), with no Spark job: the pinned postings and
    * vocabulary of the query terms, the tail tokenized as [[postings]]
    * does (single-space split, one row per (doc, dl, term)), scores in
    * the plan's fixed-point micro-units ([[contribMicroOf]]), and the
    * liveness of the over-fetched candidates — the tail and the liveness
    * read at ONE source head. None when a read is over the cap, the id
    * column is not a bigint or holds nulls, the text column is not a
    * string, or the corpus stats are empty; the caller runs the DSv2
    * plan. */
  private def combinedLiveLocal(spark: SparkSession, indexPath: String,
                                sourcePath: String, idCol: String,
                                textCol: String, terms: Seq[String], k: Int,
                                over: Int, pub: Published): Option[DataFrame] = {
    import graft.sources.lance.ZoneFilter
    val (nDocs, totalLen) = statsOf(spark, indexPath, Some(pub))
    if (nDocs <= 0 || totalLen <= 0) return None
    val avgdl = totalLen.toDouble / nDocs
    val wanted = terms.toSet
    val byTerm = ZoneFilter.in("term", terms).toSeq
    // the source's head manifest, read once for the tail and the liveness
    val head = LanceLocal.snapshot(spark, sourcePath)
    def noNulls(got: LanceLocal.Rows): Boolean =
      !got.rows.exists(r => (0 until got.schema.length).exists(r.isNullAt))
    for {
      post <- LanceLocal.read(spark, s"$indexPath/postings.lance",
        pub.pin("postings_version"), columns = Seq("term", "doc_id", "tf", "dl"),
        zoneFilters = byTerm).filter(noNulls)
      vocab <- LanceLocal.read(spark, s"$indexPath/terms.lance",
        pub.pin("terms_version"), columns = Seq("term", "df"),
        zoneFilters = byTerm).filter(noNulls)
      tail <- LanceLocal.readAt(head, Some(pub.built), Seq(idCol, textCol))
        .filter(t => t.schema(idCol).dataType == LongType &&
          t.schema(textCol).dataType == StringType)
      tailId <- Similarity.idsOf(tail)
      // the query terms' posting rows ((doc_id, dl, term), tf): the
      // index's as stored, the tail's as [[postings]] gives them
      rows = (post.rows.map(r => ((r.getLong(1), r.getLong(3), r.getUTF8String(0).toString),
          r.getLong(2))) ++ postingsOf(tail, tailId).map(p =>
          ((p.getLong(0), p.getLong(1), p.getUTF8String(2).toString), p.getLong(3))))
        .filter(p => wanted(p._1._3))
      // the vocabulary left join: every df row of a term, 0 when none
      dfs = vocab.rows.groupBy(_.getUTF8String(0).toString)
        .map { case (t, rs) => t -> rs.map(_.getLong(1)) }
      micro = rows.groupMapReduce(_._1._1) { case ((_, dl, t), n) =>
        dfs.getOrElse(t, Seq(0L)).map(df => contribMicroOf(nDocs, avgdl, n, dl, df)).sum
      }(_ + _)
      cands = Similarity.rankDesc(
        micro.toSeq.map { case (d, m) => (d, scoreOf(m): java.lang.Double) }, over)
      live <- LanceLocal.readAt(head, columns = Seq(idCol),
        zoneFilters = ZoneFilter.in(idCol, cands.map(_._1)).toSeq)
      liveId <- Similarity.idsOf(live)
    } yield {
      val alive = live.rows.map(liveId).toSet
      Similarity.scored(spark, "doc_id", LongType, "score",
        Similarity.rankDesc(cands.filter(c => alive(c._1)), k))
    }
  }

  /** Phrase match (tantivy phrase-query analogue, positions recomputed
    * rather than index-stored): documents whose token stream contains
    * `phrase` as consecutive tokens. Position lists come from one
    * `posexplode`; each adjacent pair is verified with a self-join on
    * `(doc, pos+1)` — at scale both sides are term-filtered slivers of the
    * corpus, and the join key `(doc_id, pos)` is near-unique so the shuffle
    * is skinny and skew-free.
    */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch needs at least one token")
    val toks = docs
      .select(col(idCol).cast(LongType).as("doc_id"),
              posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
    phraseFrom(toks, phrase)
  }

  /** Boolean query over the persisted index (tantivy BooleanQuery parity:
    * must / should / must_not): scoring sums BM25 contributions of the
    * `must` and `should` terms; `must` terms gate candidacy (a doc must
    * post ALL of them), `mustNot` terms exclude. Every clause is answered
    * from term-pruned posting slivers — candidacy is a semi-join on the
    * skinny `(doc_id)` key, exclusion an anti-join; the corpus is never
    * scanned.
    */
  def searchBoolean(spark: SparkSession, indexPath: String,
                    must: Seq[String], should: Seq[String],
                    mustNot: Seq[String], k: Int): DataFrame = {
    require(must.nonEmpty || should.nonEmpty,
      "searchBoolean needs at least one scoring (must/should) term")
    val pub = published(spark, indexPath)
    val (nDocs, totalLen) = statsOf(spark, indexPath, pub)
    val avgdl = totalLen.toDouble / nDocs
    val scoring = (must ++ should).distinct
    val allTerms = (scoring ++ mustNot).distinct
    val p  = sidecar(spark, indexPath, "postings", pub)
    val df = sidecar(spark, indexPath, "terms", pub)
    // ONE postings scan (the full clause IN-list still prunes by term zone
    // maps) and ONE per-doc aggregate answer all three clause kinds:
    // postings are unique per (doc, term), so must-coverage is a plain
    // conditional count — no countDistinct, no semi/anti joins (the r7
    // shape re-read the postings once per clause)
    val isScoring = col("term").isin(scoring: _*)
    val isMust    = col("term").isin(must.distinct: _*)
    val isBad     = col("term").isin(mustNot.distinct: _*)
    p.filter(col("term").isin(allTerms: _*))
      .join(broadcast(df.filter(col("term").isin(scoring: _*))),
            Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        round(sum(when(isScoring, contribMicro(nDocs, avgdl)).otherwise(0L))
          / lit(1e6), 6).as("score"),
        sum(when(isMust, 1).otherwise(0)).as("_nm"),
        max(when(isBad, 1).otherwise(0)).as("_bad"))
      .filter(col("_nm") === must.distinct.size && col("_bad") === 0)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** Phrase search over the PERSISTED index (tantivy phrase-query parity):
    * the stored position lists replace re-tokenization entirely — the
    * postings scan reads only the phrase terms' fragments (term IN-list →
    * zone maps) plus their `positions` column, and the adjacency joins run
    * over those slivers. At 100 TB the cost is the phrase terms' posting
    * lists, never the corpus.
    */
  def phrasePersisted(spark: SparkSession, indexPath: String,
                      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrasePersisted needs at least one token")
    val distinctTerms = phrase.distinct
    // ONE term-pruned postings scan, ONE per-doc aggregate, adjacency as
    // a codegen'd EXISTS over the STORED position arrays (`exists(p_0,
    // a -> a+i ∈ p_i ∀i)`) — no position explode, no per-pair self-join
    // shuffle, no final distinct. At 100 TB the cost is the phrase
    // terms' posting slivers and one skinny doc_id shuffle.
    // Column names are by distinct-term INDEX (hashCode collides:
    // "Aa"/"BB" share a hash — a collision would alias two terms'
    // position arrays to one ambiguous column).
    val termCol: Map[String, String] =
      distinctTerms.zipWithIndex.map { case (t, i) => t -> s"_p_$i" }.toMap
    val pcols = distinctTerms.map(t =>
      first(when(col("term") === t, col("positions")), ignoreNulls = true)
        .as(termCol(t)))
    val agged = sidecar(spark, indexPath, "postings", published(spark, indexPath))
      .filter(col("term").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(pcols.head, pcols.tail: _*)
    val allPresent = distinctTerms.map(t => col(termCol(t)).isNotNull)
      .reduce(_ && _)
    val adjacency =
      if (phrase.size == 1) lit(true)
      else exists(col(termCol(phrase.head)), a =>
        phrase.zipWithIndex.drop(1).map { case (t, i) =>
          array_contains(col(termCol(t)), a + i)
        }.reduce(_ && _))
    agged.filter(allPresent && adjacency).select("doc_id")
  }

  /** Adjacency verification shared by the raw and persisted phrase paths:
    * each phrase token i must occur at `pos(first) + i` — a self-join per
    * adjacent pair on the near-unique skinny key `(doc_id, pos)`.
    */
  private def phraseFrom(toks: DataFrame, phrase: Seq[String]): DataFrame = {
    val first = toks.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.toSeq.zipWithIndex.drop(1).foldLeft(first) { case (acc, (t, i)) =>
      val next = toks.filter(col("term") === t)
        .select(col("doc_id").as("d2"), (col("pos") - i).as("p2"))
      acc.join(next, col("doc_id") === col("d2") && col("pos") === col("p2"))
        .select(col("doc_id"), col("pos"))
    }.select("doc_id").distinct()
  }
}
