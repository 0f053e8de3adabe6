package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.lance.LanceLocal

/** What the per-pair LSH kernel reads of a bucket member: its gid, the
  * bucket's band, the full signature for the estimate and the band-hash
  * vector for first-colliding-band ownership. */
private[graft] sealed trait LshRow {
  def gid: Long; def band: Int; def sig: Array[Long]; def bhs: Array[Long]
}

/** One (rep, band, block-pair) row shipped into a hot LSH band bucket:
  * the [[LshRow]] fields plus the member's gid-hash block `blk` within
  * the bucket (`lo`/`hi` name the block PAIR this copy serves — a bucket
  * of more than one block fans its O(m²) compares out across one task
  * per upper-triangle block pair). */
private[graft] case class LshBucketRow(gid: Long, band: Int, bandHash: Long,
                                       blk: Int, lo: Int, hi: Int,
                                       sig: Array[Long], bhs: Array[Long]) extends LshRow

/** [[LshBucketRow]] without the block fan-out columns — the no-split
  * kernel's row (the overwhelmingly common census outcome), so the
  * exchange and the kernel serializer never carry constants. */
private[graft] case class LshSlimRow(gid: Long, band: Int, bandHash: Long,
                                     sig: Array[Long], bhs: Array[Long]) extends LshRow

/** A surviving (est ≥ threshold) near-dup rep pair emitted by the
  * bucket-local LSH kernel. */
private[graft] case class LshPair(gid_a: Long, gid_b: Long, est_jaccard: Double)

/** Deduplication operators for training-data pipelines (SURVEY §2.5).
  *
  * Every corpus-sized step is a shuffle over key columns, so it scales
  * horizontally. The one driver-side step is bounded: a pair set within
  * [[graft.sources.lance.LanceLocal.CapBytes]] is collected once and
  * labelled by union-find ([[connectedComponents]], [[dedupDecision]]),
  * and a larger one runs the distributed arm. Design notes for 100 TB:
  *
  *  - token sets live as per-document ARRAY columns; similarity is
  *    evaluated with codegen'd array kernels (array_intersect / zip_with)
  *    on the *pair* rows instead of exploding tokens and joining — the
  *    token-join formulation shuffles |pairs| × |common tokens| rows, the
  *    array formulation only |pairs|;
  *  - candidate generation (LSH banding) is the only quadratic-risk step;
  *    bucket sizes are the skew knob (band rows `r` trades recall for
  *    bucket selectivity), and AQE skew-join splitting handles hot buckets;
  *  - MinHash verification uses the signature-estimated Jaccard (standard
  *    in large-scale dedup: RefinedWeb/SlimPajama-style pipelines), so no
  *    second pass over the corpus is needed. Exact verification is
  *    available separately via [[jaccardPairs]].
  */
object Dedup {

  /** Exact dedup by key columns: deterministic representative (min id) +
    * duplicate count per group. One hash aggregate; the dedup'd dataset is
    * recovered by semi-joining `keep_id` back against the source.
    */
  def exactByKey(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** (id, [extra...], toks: array<string>) with per-doc distinct tokens. */
  private def tokenSets(df: DataFrame, idCol: String, textCol: String,
                        extraCols: Seq[String] = Nil): DataFrame =
    df.select((idCol +: extraCols).map(col) :+
        array_distinct(split(col(textCol), " ")).as("toks"): _*)

  /** Exact word-set Jaccard similarity for all document pairs sharing
    * `blockCol`, keeping pairs with jaccard >= threshold. The block key
    * bounds the pair space (realistic: source/domain/LSH bucket).
    *
    * 100 TB plan shape (round 11): the per-block pair space is NOT
    * enumerated. Candidates come from PREFIX FILTERING — the classic
    * exact set-similarity-join bound (Chaudhuri et al. SSJoin / Bayardo
    * et al. All-Pairs): order each block's tokens by ascending document
    * frequency (rarest first, ties by token), keep each set's first
    * `n - ceil(threshold*n) + 1` tokens, and only pairs SHARING a prefix
    * token can reach the threshold — any pair with disjoint prefixes has
    * overlap <= ceil(threshold*n) - 1 < required. Candidates are the
    * prefix-token equi-join (df-ascending order keeps hot stopword
    * buckets out of prefixes — the skew killer at corpus scale), then
    * every candidate is verified EXACTLY with the sorted merge-intersect
    * kernel, so the output pair set is bit-identical to the all-pairs
    * enumeration (differential-pinned in OperatorsSpec). Work: three
    * corpus-linear shuffles (token df, prefix rank, candidate distinct)
    * + verification proportional to the candidate count, instead of a
    * block-quadratic join (measured at sf10: 20 blocks x 25k distinct
    * sets = ~6e9 pair verifications in the old shape — infeasible; the
    * prefix shape completes in seconds).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double,
                   allPairsMaxBlock: Int = 4096): DataFrame = {
    // the prefix-filter bound's precondition: at threshold <= 0 every
    // pair (even token-disjoint ones) satisfies jaccard >= 0, but prefix
    // candidates only cover token-SHARING pairs — the two advertised-
    // identical branches would diverge on a degenerate parameter
    require(threshold > 0.0,
      s"jaccardPairs threshold must be > 0, got $threshold")
    // tokens hashed to int64 before the pair join: array_intersect over
    // longs beats strings, and the set semantics (hence jaccard) are
    // unchanged (xxhash64 collisions are negligible)
    // tokens hashed to int64 and SORTED once per doc: every pair compare is
    // then a codegen'd O(n+m) merge walk (no per-pair hash set)
    //
    // Identical token sets collapse before the pair join (dup-dense
    // corpora concentrate there): intra-group pairs are jaccard 1.0 by
    // definition and explode straight off the member lists; candidates
    // and the merge-intersect kernel run once per DISTINCT set pair.
    // Groups are keyed by their (distinct) min ids, members re-normalized
    // with least/greatest — the output pair set is unchanged.
    val t = tokenSets(df, idCol, textCol, Seq(blockCol))
      .select(col(idCol), col(blockCol).as("blk"),
              array_sort(array_distinct(transform(col("toks"), tk => xxhash64(tk)))).as("toks"))
    // the pair join's stream side and the O(n+m) merge-intersect kernel
    // run per CANDIDATE PAIR — quadratic in block members while the
    // frame's bytes are linear (see [[groupIds]] for the spread). The
    // checkpoint is lazy: the census below materializes it, and the
    // ContextCleaner frees it with the returned frame.
    val reps = groupIds(t, idCol, col("blk"), col("toks")).localCheckpoint(false)
    // adaptive interior (both branches differential-pinned identical in
    // OperatorsSpec): small blocks take the plain per-block pair join —
    // quadratic but affordable below ~4096²/2 merge walks per block, and
    // free of the prefix path's three extra linear shuffles; past the cap
    // the prefix-filtered shape is the only one that survives scale (the
    // census is one cheap aggregate over the checkpointed reps)
    val censusRow = reps.groupBy("blk").count()
      .agg(coalesce(max("count"), lit(0L)), coalesce(sum("count"), lit(0L)))
      .head()
    val (maxBlock, totalReps) = (censusRow.getLong(0), censusRow.getLong(1))
    // block keys are few by nature (sources/domains), so a shuffle join
    // on blk serializes on the key count — broadcast the build side
    // whenever the distinct-set table is genuinely small. The planner
    // can't make this call once the census materialized the table: the
    // accurate array-heavy size estimate sits just over the broadcast
    // threshold and it flips to a 20-key SortMergeJoin (measured 4x on
    // sf1). Past the cap the table is big AND block keys are many — the
    // shuffle join parallelizes fine.
    val staged =
      if (maxBlock <= allPairsMaxBlock)
        allPairsStage(reps, broadcastBuild = totalReps <= 200000L)
      else prefixFilteredPairs(reps, threshold)
    memberPairs(reps, "jaccard", lit(1.0), staged.filter(col("jaccard") >= threshold))
  }

  /** `pairs`' `keys` with the exact jaccard of their sorted hashed token
    * sets `toks_a`/`toks_b` (the codegen merge-intersect kernel), the
    * intersect size staged once so it isn't re-evaluated per use. */
  private def exactJaccard(pairs: DataFrame, keys: String*): DataFrame =
    pairs.select(keys.map(col) ++ Seq(
        graft.functions.ArrayKernels.sortedIntersectCount(col("toks_a"), col("toks_b")).as("n_inter"),
        size(col("toks_a")).as("n_a"), size(col("toks_b")).as("n_b")): _*)
      .select(keys.map(col) :+ (col("n_inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType)).as("jaccard"): _*)

  /** One row per distinct `keys` value with its members' sorted `ids` —
    * the collapse every near-dup operator here starts with. Identical
    * sketches (token sets, signatures) pair at similarity 1 by
    * definition, so their pairs explode straight off the member list
    * ([[memberPairs]]) and candidate generation and verification run
    * once per DISTINCT value: the quadratic work tracks distinct-value
    * bucket sizes, not duplicate-cluster sizes.
    *
    * CORE-derived spread (r16, guide §2.5): everything downstream — pair
    * explosions (~100x for SimHash), band fan-out, verify kernels,
    * survivor join-backs, the final sort's shuffle WRITE — runs on this
    * frame's partitioning and costs the pair/band blow-up, not the
    * frame's bytes, so AQE's byte-based coalescing packed it into 1-2
    * tasks at sf0.1. One skinny round-robin exchange spreads it. */
  private def groupIds(df: DataFrame, idCol: String, keys: Column*): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .repartition(math.max(1, df.sparkSession.sparkContext.defaultParallelism))

  /** Every document pair of a collapsed near-dup result, normalized to
    * doc_a < doc_b with its `score`: the intra-group pairs off each
    * group's sorted `ids` at `same` (the score of identical sketches),
    * then every member pair of each `cross(ids_a, ids_b, score)` row of
    * two distinct groups (least/greatest re-normalizes, as a group's ids
    * need not all sit below the other's). Distinct groups never share a
    * member, so the two sets are disjoint. */
  private def memberPairs(groups: DataFrame, score: String, same: Column,
                          cross: DataFrame): DataFrame = {
    val intra = groups.filter(size(col("ids")) > 1)
      .select(col("ids"), explode(col("ids")).as("doc_a"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn(score, same)
    val inter = cross
      .select(col(score), col("ids_b"), explode(col("ids_a")).as("a"))
      .select(col(score), col("a"), explode(col("ids_b")).as("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
              greatest(col("a"), col("b")).as("doc_b"), col(score))
    intra.select("doc_a", "doc_b", score).unionAll(inter)
  }

  /** The small-block interior: plain per-block pair join over the
    * distinct-set table, exact jaccard staged. Quadratic per block by
    * construction — [[jaccardPairs]] gates it behind `allPairsMaxBlock`. */
  private def allPairsStage(reps: DataFrame,
                            broadcastBuild: Boolean): DataFrame = {
    val a = reps.select(col("ids").as("ids_a"), col("blk"), col("toks").as("toks_a"))
    val b0 = reps.select(col("ids").as("ids_b"), col("blk").as("blk_b"), col("toks").as("toks_b"))
    val b = if (broadcastBuild) broadcast(b0) else b0
    exactJaccard(a.join(b, col("blk") === col("blk_b") &&
        element_at(col("ids_a"), 1) < element_at(col("ids_b"), 1)), "ids_a", "ids_b")
  }

  /** Prefix-filtered candidate generation + exact intersect staging over a
    * distinct-set table `reps(blk, toks, ids)` — the interior of
    * [[jaccardPairs]]. Returns one row per CANDIDATE pair with its exact
    * jaccard staged (the caller applies the jaccard filter).
    *
    * Correctness of the filter (no recall loss): order tokens by the
    * global total order (df asc, tok asc) within the block. For a set `s`
    * keep the first `|s| - ceil(t*|s|) + 1` tokens. If jacc(a,b) >= t
    * then `|a ∩ b| >= t*|a ∪ b| >= max(ceil(t*|a|), ceil(t*|b|))`. Suppose
    * the prefixes share nothing and let x = max(prefix(a)), wlog
    * x <= max(prefix(b)): every common token <= x lies in BOTH prefixes
    * (each set's non-prefix tokens all sort above its prefix max), so all
    * common tokens sort above x — but then they all fit in a's non-prefix
    * suffix of ceil(t*|a|) - 1 slots < the required overlap. Contradiction.
    * The ceil is computed as `ceil(t*n - 1e-9)`: an FP product landing a
    * hair ABOVE an exact integer would otherwise shorten the prefix below
    * the bound (under-shooting only lengthens prefixes = more candidates,
    * never misses).
    */
  private def prefixFilteredPairs(reps: DataFrame, threshold: Double): DataFrame = {
    val rid = element_at(col("ids"), 1) // distinct per rep within a block
    val repTok = reps.select(col("blk"), rid.as("rid"),
        size(col("toks")).as("n"), explode(col("toks")).as("tok"))
    val dfreq = repTok.groupBy("blk", "tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk", "rid").orderBy("df", "tok")
    val prefixLen = col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1
    val prefixes = repTok.join(dfreq, Seq("blk", "tok"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= prefixLen)
      .select("blk", "rid", "tok")
    val cand = prefixes.as("pa").join(prefixes.as("pb"),
        col("pa.blk") === col("pb.blk") && col("pa.tok") === col("pb.tok") &&
          col("pa.rid") < col("pb.rid"))
      .select(col("pa.blk").as("blk"), col("pa.rid").as("rid_a"),
              col("pb.rid").as("rid_b"))
      .distinct()
    val sa = reps.select(col("blk"), rid.as("rid_a"),
                         col("ids").as("ids_a"), col("toks").as("toks_a"))
    val sb = reps.select(col("blk"), rid.as("rid_b"),
                         col("ids").as("ids_b"), col("toks").as("toks_b"))
    exactJaccard(cand.join(sa, Seq("blk", "rid_a")).join(sb, Seq("blk", "rid_b")),
      "ids_a", "ids_b")
  }

  /** MinHash signatures: one row per doc with a `sig` array<bigint> of
    * length numHashes. Computed per-row over the token ARRAY with a codegen
    * kernel — a pure map in the scan stage, no explode/shuffle/aggregate.
    * (The TypedImperativeAggregate twin, [[graft.functions.MinHashAgg]],
    * remains for pre-exploded token tables.)
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int): DataFrame =
    tokenSets(df, idCol, textCol)
      .select(col(idCol),
              graft.functions.SketchAggs.minhashArray(col("toks"), numHashes).as("sig"))

  /** MinHash + LSH banding near-dup pairs.
    *
    * numHashes minhashes → `bands` bands of numHashes/bands rows; docs
    * colliding on any band hash become candidates; candidate similarity is
    * the signature-estimated Jaccard (fraction of equal minhashes), and
    * pairs with estimate >= threshold are returned.
    *
    * 100 TB plan shape — the candidate-pair stream NEVER materializes in a
    * shuffle. The pipeline shuffles only corpus-linear datasets:
    *
    *  1. distinct-signature collapse (one hash aggregate; intra-group pairs
    *     are est 1.0 by definition and explode straight off member lists);
    *  2. a SKINNY band-bucket census — (band, band_hash) keys with ≥2
    *     members are the only buckets that can produce a pair, and in a
    *     real corpus almost every bucket is a singleton;
    *  3. full signature rows ship ONLY into those hot buckets (one row per
    *     rep × colliding band; a mega-bucket additionally fans out across
    *     block-pair tasks — see [[bucketLocalPairsFrom]]), and pairs are
    *     generated AND threshold-filtered INSIDE the bucket by a streaming
    *     kernel: each task buffers O(blockSize × numHashes), emits
    *     survivors lazily, and first-colliding-band ownership replaces
    *     the global `distinct()`.
    *
    * The previous shape (skinny candidate equi-join + distinct + signature
    * join-back, retained as [[minHashLshJoinShape]] for the differential
    * spec) shuffled the candidate set twice — measured at sf10: ~211M
    * candidate pairs, ~46 GB of shuffle, disk exhausted. This shape's
    * shuffles are one signature row per (rep, hot band) — independent of
    * the candidate count.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, jaccardThreshold: Double,
                 blockSize: Int = 4096): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    require(bands > 0, s"bands must be positive, got $bands")
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    // intra-group pairs emit at est 1.0 unfiltered, kernel pairs only on
    // a band collision: outside (0, 1] the two branches disagree
    require(jaccardThreshold > 0.0 && jaccardThreshold <= 1.0,
      s"jaccardThreshold must be in (0, 1], got $jaccardThreshold")
    lshCore(minHashSignatures(df, idCol, textCol, numHashes), idCol, numHashes,
      identity, graft.functions.SketchAggs.bandHashes(_, bands),
      jaccardThreshold, blockSize).pairs
  }

  /** One MinHash-LSH run: `reps(sig, ids, gid)`, one checkpointed row
    * per distinct signature, and the kernel's `survivors(gid_a, gid_b,
    * est_jaccard)`, gid_a < gid_b, est >= threshold. */
  private[graft] final case class LshRun(reps: DataFrame, survivors: DataFrame) {
    /** The document pairs (doc_a < doc_b, est_jaccard). Only SURVIVING
      * pairs (post-threshold) join the member lists back — a stream
      * proportional to the answer, not to the candidate set. */
    def pairs: DataFrame = {
      val sa = reps.select(col("gid").as("gid_a"), col("ids").as("ids_a"))
      val sb = reps.select(col("gid").as("gid_b"), col("ids").as("ids_b"))
      memberPairs(reps, "est_jaccard", lit(1.0),
        survivors.join(sa, "gid_a").join(sb, "gid_b"))
    }
  }

  /** The MinHash-LSH core of [[minHashLsh]] and [[portableMinHashLsh]]:
    * `sigs(idCol, sig)` collapses to distinct signatures ([[groupIds]])
    * and the bucket-local kernel ([[bucketLocalPairsFrom]]) runs over
    * `sigLongs(sig)` (array<long>, `numHashes` positions) and
    * `bandKeys(sig)` (array<long>).
    *
    * localCheckpoint pins the surrogate gid (nondeterminism guard) and
    * materializes the signature table once — at 100 TB this is the "write
    * the signature table" step every production dedup pipeline has. The
    * gid stays deterministic: it is assigned AFTER the core spread and
    * pinned by the checkpoint. */
  private def lshCore(sigs: DataFrame, idCol: String, numHashes: Int,
                      sigLongs: Column => Column, bandKeys: Column => Column,
                      jaccardThreshold: Double, blockSize: Int): LshRun = {
    val reps = groupIds(sigs, idCol, col("sig"))
      .withColumn("gid", monotonically_increasing_id())
      .localCheckpoint(true)
    LshRun(reps, bucketLocalPairsFrom(
      reps.select(col("gid"), sigLongs(col("sig")).as("sig"),
                  bandKeys(col("sig")).as("bhs")),
      numHashes, jaccardThreshold, blockSize))
  }

  /** The portable sketch: 8 salted md5 min-hashes in 4 bands of 2. */
  private[graft] val PortableHashes = 8
  private val PortableBands = 4

  /** The portable MinHash sketch per doc: `sig` holds mh_p = the first 13
    * hex chars of min over distinct tokens of md5("p:" || tok), from a
    * fused kernel value-identical to the declarative construction DuckDB
    * reproduces bit for bit (MinHashSig scaladoc). */
  private[graft] def portableSignatures(df: DataFrame, idCol: String,
                                        textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.ArrayKernels.minhashSig(col(textCol), PortableHashes).as("sig"))

  /** The portable sketch's band keys: band b is keyed by the FIRST 64 bits
    * of md5(sig[2b] || ',' || sig[2b+1]), as a long (see
    * [[portableMinHashLsh]] for why the truncation loses no pair). */
  private[graft] def portableBandKeys(sig: Column): Column =
    array((0 until PortableBands).map(b =>
      conv(substring(md5(concat_ws(",", sig(2 * b), sig(2 * b + 1))), 1, 16), 16, -10)
        .cast(LongType)): _*)

  /** MinHash-LSH over the portable sketch at est >= 0.75 (d28, d34).
    * Candidates come bucket-locally from the d07 kernel (round 11: d28's
    * skinny-candidate join + distinct + wide sig join-back shuffled ~40
    * GB at sf10 and exhausted disk).
    *
    * The portable md5 sketch maps INJECTIVELY to the kernel's long domain:
    * each 13-hex-char mh parses to a 52-bit long (string equality ⟺ long
    * equality, so the est fraction is bit-identical), and each band's md5
    * keys the bucket by its FIRST 64 bits ([[portableBandKeys]]).
    * Truncating the band key can only ADD candidates (64-bit collisions),
    * never lose one — and every added pair dies at the est filter: est >=
    * 0.75 = 1 - r/P means at most 2 of the 8 positions differ, which by
    * pigeonhole leaves >= 2 of the 4 bands with BOTH positions equal —
    * equal band input strings, equal FULL md5 — i.e. anything that can
    * pass the filter was already a full-md5 candidate. The survivors are
    * therefore exactly the full-md5 band self-join + distinct + estimate
    * pipeline's edges (the DuckDB hash oracle pins d28 and d34 at 3 SFs;
    * OperatorsSpec pins the naive twin at several block sizes). */
  private[graft] def portableMinHashLsh(df: DataFrame, idCol: String, textCol: String,
                                        blockSize: Int = 4096): LshRun =
    lshCore(portableSignatures(df, idCol, textCol), idCol, PortableHashes,
      transform(_, x => conv(x, 16, 10).cast(LongType)), portableBandKeys,
      0.75, blockSize)

  /** Bucket-local LSH candidate generation + threshold filter over
    * `repsWithBhs(gid, sig: array<long>, bhs: array<long>)` — a
    * distinct-signature table with its precomputed band keys (the xxhash
    * sketch's [[graft.functions.SketchAggs.bandHashes]], or the portable
    * sketch's md5 band keys truncated to longs). Returns surviving
    * pairs (gid_a, gid_b, est_jaccard) with gid_a < gid_b, exactly the set
    * the join-shape candidates+distinct+estimate pipeline produces — but
    * nothing pair-shaped ever shuffles:
    *
    *  - census: skinny (band, band_hash) aggregate; keys with ≥2 members
    *    survive (tiny — proportional to near-dup GROUPS, not docs) and are
    *    broadcast against the band rows, so singleton-bucket signature
    *    rows never leave their map task;
    *  - hot rows (gid, band, band_hash, sig, bhs) group by bucket; the
    *    kernel sorts the bucket's members by gid, and for each i<j pair
    *    (a) skips it unless THIS band is the first band where the two
    *    band-hash vectors collide (first-band ownership — the bucket-local
    *    replacement for the global distinct, exact under hash collisions
    *    because bucket membership IS band-hash equality), then (b) counts
    *    equal signature positions with an early-exit bound and emits the
    *    pair iff est = eq/numHashes ≥ threshold. Survivors are emitted
    *    through a lazy iterator — peak memory per bucket is the member
    *    buffer, O(members × numHashes × 8 B), never the pair set.
    *
    * OperatorsSpec pins value-identity vs the join shape, including an
    * adversarial mega-bucket ≥100× the median bucket size, at both a
    * splitting and a non-splitting blockSize.
    *
    * Skew (round 12): a bucket's O(m²) compares no longer serialize in
    * one task. Each bucket of m > blockSize members is chunked into
    * nblk = ceil(m / blockSize) gid-hash blocks and every upper-triangle
    * BLOCK PAIR (lo <= hi) becomes its own task: a member of block b is
    * fanned to the nblk pairs containing b (shuffle volume m × nblk —
    * linear in m per block, and exactly m when the bucket fits one
    * block, the overwhelmingly common case). Each unordered member pair
    * lands in exactly one block-pair task (the one keyed by its two
    * blocks), so with per-pair first-colliding-band ownership unchanged
    * the output is identical — but a 10⁶-member boilerplate bucket now
    * runs as ~nblk²/2 parallel tasks of ≤ blockSize² compares instead
    * of one multi-hour straggler. Peak task memory stays O(blockSize ×
    * numHashes): memory AND latency are both bounded by blockSize, and
    * the early-exit bound makes the common reject cheap.
    */
  private[graft] def bucketLocalPairsFrom(repsWithBhs: DataFrame, numHashes: Int,
                                          jaccardThreshold: Double,
                                          blockSize: Int = 4096): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val spark = repsWithBhs.sparkSession
    import spark.implicits._
    val bandRows = repsWithBhs
      .select(col("gid"), col("sig"), col("bhs"), posexplode(col("bhs")))
      .select(col("gid"), col("pos").as("band"), col("col").as("bandHash"),
              col("sig"), col("bhs"))
    // the census branch reads only (band, bandHash) — Catalyst prunes the
    // signature columns out of this pass over the (checkpointed) reps.
    // `n` rides along: it sizes each bucket's block count below.
    val hot = bandRows.groupBy("band", "bandHash")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .localCheckpoint(true)
    // ONE driver aggregate over the (checkpointed, skinny) census serves
    // both guards: the broadcast decision and whether ANY bucket needs
    // the block fan-out at all
    val censusRow = hot
      .agg(count(lit(1)).as("k"), coalesce(max("n"), lit(0L)).as("maxN")).head()
    val (hotKeys, maxBucket) = (censusRow.getLong(0), censusRow.getLong(1))
    // broadcast the hot keys when they fit — BYTES-based guard (~48 B per
    // serialized (int, long, long) row, capped at ~16 MB; the
    // overwhelmingly common case is one key per colliding bucket); a
    // pathological census falls back to a corpus-linear shuffle join,
    // never to anything quadratic
    val joined =
      if (hotKeys * 48L <= 16L * 1024 * 1024)
        bandRows.join(broadcast(hot), Seq("band", "bandHash"))
      else bandRows.join(hot, Seq("band", "bandHash"))
    val nh = numHashes
    val tau = jaccardThreshold
    // Kernel parallelism is CORE-derived, not byte-derived (r16, guide
    // §2.5): the compare work per bucket is O(members²) while its shuffle
    // footprint is O(members), so AQE's byte-based coalescing packed the
    // whole kernel into 1-2 tasks (measured: d28's MapGroups stage read an
    // AQEShuffleRead[numPartitions=1] — a 5 s single-task straggler on a
    // 32-core box). An explicit repartition by the bucket key into
    // defaultParallelism partitions is exempt from AQE coalescing and
    // scales with the cluster; rows arrive gid-sorted per bucket from
    // sortWithinPartitions, so the kernels drop their per-group sort.
    val kernelParts = math.max(1, spark.sparkContext.defaultParallelism)
    // When the census shows NO bucket splits (the overwhelmingly common
    // case) take the slim shape: 2-tuple bucket key, no fan-out columns
    // through the exchange or the kernel serializer — byte-for-byte the
    // round-11 plan. Both kernels share [[lshPairOf]], and the
    // OperatorsSpec differential pins run the SAME inputs through
    // splitting and non-splitting block sizes, covering both branches.
    if (maxBucket <= blockSize) {
      joined
        .select(col("gid"), col("band"), col("bandHash"),
                col("sig"), col("bhs"))
        .repartition(kernelParts, col("band"), col("bandHash"))
        .sortWithinPartitions("band", "bandHash", "gid")
        .as[LshSlimRow]
        .mapPartitions { it =>
          runGrouped(it)((a, b) => a.band == b.band && a.bandHash == b.bandHash)
            .flatMap(ms => upperTriangle(nh, tau, ms))
        }
        .toDF("gid_a", "gid_b", "est_jaccard")
    } else {
      // block fan-out: blk = hash(gid) mod nblk (uniform, order-free);
      // each member serves every block pair containing its block — for o
      // over 0..nblk-1 the pair (min(o, blk), max(o, blk)), nblk rows per
      // member, exactly one row when the bucket fits a single block.
      val nblkCol = greatest(lit(1),
        ceil(col("n").cast(DoubleType) / lit(blockSize.toDouble)).cast(IntegerType))
      // single-block buckets inside a splitting census still take the
      // CONSTANT (0, 0) pair — no hash or sequence allocation per row
      val onePair = array(struct(lit(0).as("lo"), lit(0).as("hi")))
      val fanned = joined
        .withColumn("nblk", nblkCol)
        .withColumn("blk",
          when(col("nblk") === 1, lit(0)).otherwise(
            pmod(xxhash64(col("gid")), col("nblk").cast(LongType)).cast(IntegerType)))
        .select(col("gid"), col("band"), col("bandHash"), col("blk"),
                col("sig"), col("bhs"),
                explode(when(col("nblk") === 1, onePair).otherwise(
                  transform(sequence(lit(0), col("nblk") - 1), o =>
                    struct(least(o, col("blk")).as("lo"),
                           greatest(o, col("blk")).as("hi"))))).as("bp"))
        .select(col("gid"), col("band"), col("bandHash"), col("blk"),
                col("bp.lo").as("lo"), col("bp.hi").as("hi"),
                col("sig"), col("bhs"))
      fanned.as[LshBucketRow]
        .repartition(kernelParts, col("band"), col("bandHash"),
                     col("lo"), col("hi"))
        .sortWithinPartitions("band", "bandHash", "lo", "hi", "gid")
        .as[LshBucketRow]
        .mapPartitions { it =>
          runGrouped(it)((a, b) => a.band == b.band &&
              a.bandHash == b.bandHash && a.lo == b.lo && a.hi == b.hi)
            .flatMap { all =>
              val (lo, hi) = (all(0).lo, all(0).hi)
              // within-block upper triangle (every member carries blk == lo)
              if (lo == hi) upperTriangle(nh, tau, all)
              else {
                // cross product of the two blocks — each unordered pair with
                // blocks {lo, hi} exists exactly here and nowhere else
                val as = all.filter(_.blk == lo)
                val bs = all.filter(_.blk == hi)
                as.iterator.flatMap(a => bs.iterator.flatMap(b => lshPairOf(nh, tau, a, b)))
              }
            }
        }
        .toDF("gid_a", "gid_b", "est_jaccard")
    }
  }

  /** Group a partition's rows into contiguous equal-key runs (the rows
    * arrive key-sorted from sortWithinPartitions, and hash-repartitioning
    * on the key put every key's rows in one partition, so a run IS the
    * bucket). One bucket is buffered at a time — the same peak memory as
    * the flatMapGroups shape this replaced. */
  private def runGrouped[T](it: Iterator[T])(
      sameKey: (T, T) => Boolean): Iterator[scala.collection.IndexedSeq[T]] =
    new Iterator[scala.collection.IndexedSeq[T]] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): scala.collection.IndexedSeq[T] = {
        val first = in.next()
        val buf = scala.collection.mutable.ArrayBuffer[T](first)
        while (in.hasNext && sameKey(first, in.head)) buf += in.next()
        buf
      }
    }

  /** Every i < j member pair of one gid-sorted bucket (or one block's
    * triangle) through [[lshPairOf]]. */
  private def upperTriangle(nh: Int, tau: Double,
                            ms: scala.collection.IndexedSeq[LshRow]): Iterator[LshPair] =
    Iterator.range(0, ms.length).flatMap(i =>
      Iterator.range(i + 1, ms.length).flatMap(j => lshPairOf(nh, tau, ms(i), ms(j))))

  /** The per-pair LSH kernel, shared by the slim (no-split) and
    * block-pair kernels: first-colliding-band ownership (the
    * bucket-local replacement for the global distinct — exact because
    * bucket membership IS band-hash equality), then an eq count with a
    * conservative early exit: if even all-remaining-equal cannot reach
    * the threshold under the SAME double compare the final test uses,
    * reject now. Symmetric in (a, b), which share the bucket's band. */
  private def lshPairOf(nh: Int, tau: Double, a: LshRow, b: LshRow): Iterator[LshPair] = {
    var owned = true
    var k = 0
    while (k < a.band && owned) {
      if (a.bhs(k) == b.bhs(k)) owned = false
      k += 1
    }
    if (!owned) Iterator.empty
    else {
      val aSig = a.sig; val bSig = b.sig
      var eq = 0
      var p = 0
      var live = true
      while (p < nh && live) {
        if (aSig(p) == bSig(p)) eq += 1
        else if ((eq + nh - p - 1).toDouble / nh < tau) live = false
        p += 1
      }
      val est = eq.toDouble / nh
      if (live && est >= tau)
        Iterator.single(LshPair(math.min(a.gid, b.gid), math.max(a.gid, b.gid), est))
      else Iterator.empty
    }
  }

  /** The pre-round-11 join-shape pipeline: skinny (gid, band, band_hash)
    * candidate equi-join + distinct + signature join-back. Retained ONLY as
    * the differential oracle for [[bucketLocalPairsFrom]] (OperatorsSpec) —
    * its candidate stream materializes in a shuffle and was measured
    * exhausting disk at sf10 (~211M pairs / ~46 GB). Do not ship new
    * callers. */
  private[graft] def minHashLshJoinShape(df: DataFrame, idCol: String, textCol: String,
                                         numHashes: Int, bands: Int,
                                         jaccardThreshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = minHashSignatures(df, idCol, textCol, numHashes)
    val reps = sigs.groupBy("sig")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .withColumn("gid", monotonically_increasing_id())
      .localCheckpoint(true)
    val intra = reps.filter(size(col("ids")) > 1)
      .select(col("ids"), explode(col("ids")).as("doc_a"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est_jaccard", lit(1.0))
    val bandRows = reps.select(col("gid"),
        posexplode(graft.functions.SketchAggs.bandHashes(col("sig"), bands)))
      .select(col("gid"), col("pos").as("band"), col("col").as("band_hash"))
    val l = bandRows.select(col("gid").as("gid_a"), col("band"), col("band_hash"))
    val rr = bandRows.select(col("gid").as("gid_b"), col("band").as("band_r"), col("band_hash").as("band_hash_r"))
    val candidates = l.join(rr, col("band") === col("band_r") &&
        col("band_hash") === col("band_hash_r") && col("gid_a") < col("gid_b"))
      .select("gid_a", "gid_b").distinct()
    val sa = reps.select(col("gid").as("gid_a"), col("sig").as("sig_a"), col("ids").as("ids_a"))
    val sb = reps.select(col("gid").as("gid_b"), col("sig").as("sig_b"), col("ids").as("ids_b"))
    val est = graft.functions.ArrayKernels.longEqCount(col("sig_a"), col("sig_b"))
      .cast(DoubleType) / numHashes.toDouble
    val inter = candidates.join(sa, "gid_a").join(sb, "gid_b")
      .select(col("ids_a"), col("ids_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= jaccardThreshold)
      .select(col("est_jaccard"), col("ids_b"), explode(col("ids_a")).as("a"))
      .select(col("est_jaccard"), col("a"), explode(col("ids_b")).as("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
              greatest(col("a"), col("b")).as("doc_b"), col("est_jaccard"))
    intra.select("doc_a", "doc_b", "est_jaccard").unionAll(inter)
  }

  /** The canonical two-stage production pipeline: MinHash-LSH candidate
    * generation (high recall, cheap) -> EXACT token-set jaccard
    * verification (full precision) — candidates estimated at a permissive
    * `candidateThreshold`, verified against `exactThreshold`. At 100 TB the
    * exact stage touches only |candidates| pairs, never the corpus square.
    */
  def lshExactPairs(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int, bands: Int,
                    candidateThreshold: Double, exactThreshold: Double): DataFrame = {
    val cands = minHashLsh(df, idCol, textCol, numHashes, bands, candidateThreshold)
      .select("doc_a", "doc_b")
    // both join sides read ONE computation of the token sets: the lazy
    // checkpoint is filled by the first job that reads it (no job of its
    // own — the frame has no exchange) and freed by the ContextCleaner
    // with the returned frame, never pinned in the session cache
    val toks = tokenSets(df, idCol, textCol)
      .select(col(idCol),
              array_sort(array_distinct(transform(col("toks"), tk => xxhash64(tk)))).as("toks"))
      .localCheckpoint(false)
    val ta = toks.select(col(idCol).as("doc_a"), col("toks").as("toks_a"))
    val tb = toks.select(col(idCol).as("doc_b"), col("toks").as("toks_b"))
    exactJaccard(cands.join(ta, "doc_a").join(tb, "doc_b"), "doc_a", "doc_b")
      .filter(col("jaccard") >= exactThreshold)
  }

  /** Cluster-level dedup decision from near-dup pairs: for every doc, the
    * smallest id among its neighbours-or-self (one star-contraction step —
    * see [[connectedComponents]] for the fixpoint). `pairs` runs once;
    * when its (doc_a, doc_b) are bigint, non-null and fit
    * [[LanceLocal.CapBytes]], the per-`doc_b` minimum is taken on the
    * driver ([[decisionLocal]]), else by a shuffle
    * ([[decisionDistributed]]). */
  def dedupDecision(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val (once, local) = pairsOnce(docs, idCol, pairs)
    local.fold(decisionDistributed(docs, idCol, once))(decisionLocal(docs, idCol, _))
  }

  /** [[dedupDecision]]'s distributed arm: a min aggregate per `doc_b`,
    * left-joined onto `docs`' ids. */
  private[graft] def decisionDistributed(docs: DataFrame, idCol: String,
                                         pairs: DataFrame): DataFrame = {
    val nbrMin = pairs.groupBy(col("doc_b").as(idCol)).agg(min("doc_a").as("nbr_min"))
    decide(docs, idCol, nbrMin)
  }

  /** [[dedupDecision]]'s driver arm over the collected `pairs`: the
    * per-`doc_b` minimum as a `LocalRelation`, broadcast-joined onto
    * `docs`' ids (one output row per `docs` row, as the left join
    * gives). */
  private[graft] def decisionLocal(docs: DataFrame, idCol: String,
                                   pairs: LanceLocal.Rows): DataFrame = {
    val nbrMin = scala.collection.mutable.LongMap.empty[Long]
    pairs.rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (nbrMin.getOrElse(b, Long.MaxValue) > a) nbrMin(b) = a
    }
    decide(docs, idCol, broadcast(longPairs(docs.sparkSession, idCol, "nbr_min", nbrMin)))
  }

  private def decide(docs: DataFrame, idCol: String, nbrMin: DataFrame): DataFrame =
    docs.select(col(idCol)).join(nbrMin, Seq(idCol), "left")
      .select(col(idCol), least(col(idCol), coalesce(col("nbr_min"), col(idCol))).as("keep_id"))

  /** `pairs`' (doc_a, doc_b) computed once, and its rows on the driver
    * when they and `docs`' ids are bigint, no pair id is null and the
    * rows fit [[LanceLocal.CapBytes]]. Either arm reads the returned
    * frame, a local checkpoint the probe filled, so the pairs subtree
    * never runs twice. */
  private def pairsOnce(docs: DataFrame, idCol: String,
                        pairs: DataFrame): (DataFrame, Option[LanceLocal.Rows]) = {
    val two = pairs.select(col("doc_a"), col("doc_b"))
    if ((docs.schema(idCol) +: two.schema.fields).exists(_.dataType != LongType)) (two, None)
    else {
      val once = two.localCheckpoint(false)
      (once, LanceLocal.collectWithin(once)
        .filter(_.rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))))
    }
  }

  /** A `LocalRelation` (idCol, `valueCol`) of bigint pairs. */
  private def longPairs(spark: org.apache.spark.sql.SparkSession, idCol: String,
                        valueCol: String, kvs: Iterable[(Long, Long)]): DataFrame =
    org.apache.spark.sql.graftglue.ColumnBridge.localFrame(spark,
      StructType(Seq(StructField(idCol, LongType, nullable = false),
                     StructField(valueCol, LongType, nullable = false))),
      kvs.iterator.map { case (k, v) => InternalRow(k, v) }.toSeq)

  /** Connected components over near-dup pairs: every node's label is
    * the minimum id of its component; `keep_id` = component
    * representative. The nodes are `docs`' ids and the pairs' endpoints,
    * one row per distinct id. `pairs` runs once; when its (doc_a, doc_b)
    * are bigint, non-null and fit [[LanceLocal.CapBytes]], union-find
    * labels them on the driver ([[componentsLocal]]), else label
    * propagation does ([[componentsPropagated]]). */
  def connectedComponents(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val (once, local) = pairsOnce(docs, idCol, pairs)
    local.fold(componentsPropagated(docs, idCol, once))(componentsLocal(docs, idCol, _))
  }

  /** [[connectedComponents]]' driver arm over the collected `pairs`:
    * union-find with min-id roots and path halving over the pair nodes,
    * whose labels (a `LocalRelation`) meet `docs`' ids in one min
    * aggregate per id — a node's label never exceeds its id, so the
    * aggregate keeps it, a doc in no pair keeps its own id, and duplicate
    * ids collapse as the propagation's `groupBy` collapses them. */
  private[graft] def componentsLocal(docs: DataFrame, idCol: String,
                                     pairs: LanceLocal.Rows): DataFrame = {
    val ends = new Array[Long](pairs.rows.length * 2)
    pairs.rows.iterator.zipWithIndex.foreach { case (r, i) =>
      ends(2 * i) = r.getLong(0); ends(2 * i + 1) = r.getLong(1)
    }
    // dense node indices in id order, so the smaller root index is the
    // smaller id
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    ids.foreach { id => if (n == 0 || ids(n - 1) != id) { ids(n) = id; n += 1 } }
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    ends.indices.by(2).foreach { i =>
      val (ra, rb) = (find(index(ends(i))), find(index(ends(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labels = (0 until n).map(i => ids(i) -> ids(find(i)))
    docs.select(col(idCol).as("u"), col(idCol).as("label"))
      .unionAll(longPairs(docs.sparkSession, "u", "label", labels))
      .groupBy("u").agg(min(col("label")).as("keep_id"))
      .select(col("u").as(idCol), col("keep_id"))
  }

  /** Rounds after which [[componentsPropagated]] stops, converged or
    * not. */
  private val MaxRounds = 20

  /** [[connectedComponents]]' distributed arm, by iterated label
    * propagation. Each round is one shuffle-join of labels against edges
    * (both directions) + a min aggregate, then a pointer jump; rounds
    * needed = O(log d) for a component of min-label diameter d. Labels
    * are checkpointed per round and convergence is detected with a label
    * sum.
    */
  private[graft] def componentsPropagated(docs: DataFrame, idCol: String,
                                          pairs: DataFrame): DataFrame = {
    // localCheckpoint per round truncates the growing lineage — without it
    // round N replays rounds 1..N-1 and the loop goes quadratic.
    // repartition on v first: the two unions would otherwise stack up the
    // upstream partition counts (each round pays task overhead per edge
    // partition), and v is the per-round join key — edges stay put while
    // only the labels side shuffles each round
    // both directions in ONE pass over pairs (explode of a 2-struct
    // array), not a union of two selects: the union shape executes the
    // pairs subtree twice inside the materialization job — for d11 that
    // subtree is the whole jaccard block join, and whether Spark's
    // exchange reuse rescued it varied run-to-run (the round-8 bench's
    // 1.6-3.7 s d11 spread)
    // SELF-LOOPS ride along (r16): with (u, u) in the edge list, one
    // join + one min-aggregate per round computes
    // min(label(u), min over neighbors) COMPLETELY — the former per-round
    // left-join back onto the labels frame (to keep isolated/unchanged
    // nodes) is gone, one shuffle stage per round saved, and round 1 is
    // just the aggregate over the (already v-partitioned) edges.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .unionAll(docs.select(col(idCol).as("u"), col(idCol).as("v")))
      .repartition(col("v"))
      .localCheckpoint(true)
    // Checkpoints are LAZY (r16): the convergence aggregate right below is
    // the action that materializes the marked blocks, so each round runs
    // ONE job (compute + cache + sum) instead of an eager-checkpoint job
    // followed by a separate aggregate job — the sum reads every
    // partition, so the cache the next round needs is complete.
    var labels = edges.groupBy("u").agg(min(col("v")).as("label"))
      .localCheckpoint(false)
    // labels are monotonically non-increasing per node, so the label sum
    // strictly decreases until the fixpoint — convergence is one cheap
    // aggregate over the (checkpointed) labels instead of a self-join diff
    var prevSum = labels.agg(sum("label")).head().getLong(0)
    var iter = 1
    var converged = false
    while (iter < MaxRounds && !converged) {
      val prop = edges.join(labels.withColumnRenamed("u", "v2"),
          col("v") === col("v2"))
        .groupBy("u").agg(min("label").as("label"))
      // POINTER JUMP (r16): follow the propagated label one more hop —
      // label(label(u)) — before the round barrier. Every label IS a node
      // id (labels start as ids and only ever take mins of ids) and
      // label(x) <= x, so the jump only lowers labels toward the same
      // fixpoint while the hop count per round DOUBLES: a diameter-d
      // chain converges in O(log d) rounds instead of d (the round-16
      // profile measured d11 spending ~10 serial rounds x 4 jobs on a
      // chain-shaped duplicate cluster; at corpus scale the round count
      // is the barrier count). One self-join of the skinny (u, label)
      // frame per round buys it; prop is persisted so the self-join reads
      // one cached computation of the propagation subtree, not two (the
      // round-8 double-subtree lesson).
      val propC = prop.persist()
      val next = propC.join(
          propC.select(col("u").as("jx"), col("label").as("jl")),
          col("label") === col("jx"), "left")
        .select(col("u"), coalesce(col("jl"), col("label")).as("label"))
        .localCheckpoint(false)
      val newSum = next.agg(sum("label")).head().getLong(0)
      propC.unpersist(false)
      labels.unpersist(false) // superseded round's blocks — don't pile up
      labels = next
      converged = newSum == prevSum
      prevSum = newSum
      iter += 1
    }
    edges.unpersist(false) // final labels checkpoint stands alone
    labels.select(col("u").as(idCol), col("label").as("keep_id"))
  }

  /** SemDeDup-style semantic deduplication over an embedding column:
    * K-means clusters block the candidate space (the pair join runs
    * within clusters only — the quadratic term is bounded by the largest
    * cluster, the SemDeDup trick), pairs above the cosine threshold feed
    * [[connectedComponents]], and each component keeps its minimum id.
    * Returns (idCol, keep_id); rows with keep_id != id are the semantic
    * near-duplicates to drop. At 100 TB the clustering is the same
    * offline K-means as the IVF index build (and the index's list
    * assignments can be reused directly as the blocking key).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, cosThreshold: Double): DataFrame = {
    import graft.operators.Similarity
    val (indexed0, _) =
      Similarity.ivfIndexCached(df, idCol, vecCol, nClusters, s"semdedup:$vecCol")
    // the self-join references the assignment frame TWICE — persist so
    // the nearest-centroid kernel runs one pass, not one per side
    // (connectedComponents computes the pairs once, before it returns —
    // its probe's checkpoint or its eager edge checkpoint — so the
    // unpersist is safe)
    val indexed = indexed0.select(col("list_id"), col(idCol), col(vecCol)).persist()
    try {
      val a = indexed.select(col("list_id"), col(idCol).as("id_a"), col(vecCol).as("va"))
      val b = indexed.select(col("list_id").as("lb"), col(idCol).as("id_b"), col(vecCol).as("vb"))
      val pairs = a.join(b, col("list_id") === col("lb") && col("id_a") < col("id_b"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
                Similarity.cosine(col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= cosThreshold)
        .select("doc_a", "doc_b")
      connectedComponents(df.select(col(idCol)), idCol, pairs)
    } finally indexed.unpersist(false)
  }

  /** 64-bit SimHash per document — per-row codegen kernel over the token
    * array (map-only; see [[minHashSignatures]]). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenSets(df, idCol, textCol)
      .select(col(idCol), graft.functions.SketchAggs.simhashArray(col("toks")).as("simhash"))

  /** Near-dup pairs with hamming(simhash) <= maxHamming, candidates via
    * 4x16-bit chunk banding (pigeonhole-exact for maxHamming <= 3,
    * recall-bounded above that).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    // A dup-dense corpus concentrates in IDENTICAL signatures, and every
    // intra-bucket pair would match in all 4 chunks — generated 4x, then
    // deduped. So collapse to one row per DISTINCT signature first:
    //  - hamming-0 pairs come straight off the per-signature member lists
    //    (explode x explode, no join, no distinct);
    //  - the chunk-band join runs over distinct signatures only, its
    //    distinct() dedups (sig_a, sig_b) candidates (small) instead of
    //    doc pairs (the output, large), and member lists explode after.
    // At 100 TB the same shape holds: the signature-collapse is one hash
    // aggregate, and the quadratic work tracks distinct-signature bucket
    // sizes, not duplicate-cluster sizes.
    val sigs = simHash(df, idCol, textCol)
    // lazy checkpoint: the returned frame's first job fills it and the
    // ContextCleaner frees it with that frame (see [[groupIds]] for the
    // spread)
    val groups = groupIds(sigs, idCol, col("simhash")).localCheckpoint(false)

    val chunks = groups.select(col("simhash"), col("ids"),
        posexplode(array((0 until 4).map(c => expr(s"(shiftright(simhash, ${c * 16})) & 65535")): _*)))
      .select(col("simhash"), col("ids"), col("pos").as("chunk"), col("col").as("chunk_val"))
    val l = chunks.select(col("simhash").as("sh_a"), col("ids").as("ids_a"),
                          col("chunk"), col("chunk_val"))
    val r = chunks.select(col("simhash").as("sh_b"), col("ids").as("ids_b"),
                          col("chunk").as("chunk_r"), col("chunk_val").as("chunk_val_r"))
    // A pair matching in k chunks surfaces k times from the band join;
    // exactly one copy survives FIRST-MATCHING-CHUNK ownership (keep the
    // row iff no chunk below `chunk` also matches — decidable per row
    // from sh_a ^ sh_b, the first-colliding-band trick the minhash kernel
    // uses). This replaces the former `.distinct()` — two HashAggregates
    // whose keys carried the ids ARRAYS (measured 17 s of aggregate time
    // at sf0.1) — with a codegen map-side filter: no exchange, no
    // array-keyed hashing, identical output set.
    val chunkMatches = (k: Int) =>
      (shiftright(expr("sh_a ^ sh_b"), k * 16).bitwiseAND(lit(65535L))) === 0L
    val firstMatch = (1 until 4).map(c =>
      col("chunk") === c && (0 until c).map(k => !chunkMatches(k)).reduce(_ && _))
      .foldLeft(col("chunk") === 0)(_ || _)
    val cross = l.join(r, col("chunk") === col("chunk_r") &&
        col("chunk_val") === col("chunk_val_r") && col("sh_a") < col("sh_b"))
      .filter(firstMatch)
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select("sh_a", "sh_b", "ids_a", "ids_b", "hamming")
    memberPairs(groups, "hamming", lit(0), cross)
  }
}
