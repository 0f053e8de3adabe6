package graft

import graft.operators.{AsOf, Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("as-of join picks most recent right row per key, inclusive on ties") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (2L, 150L, "l3"))
      .toDF("k", "t", "lpay")
    val right = Seq((1L, 90L, "r1"), (1L, 100L, "r2"), (1L, 150L, "r3"), (2L, 500L, "r4"))
      .toDF("k", "t", "rpay")
    val out = AsOf.join(left, right, Seq("k"), "t")
      .select("k", "t", "lpay", "rpay").as[(Long, Long, String, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, 100L, "l1", "r2"),  // tie at t=100 matches inclusively
      (1L, 200L, "l2", "r3"),
      (2L, 150L, "l3", null))) // no right row at or before 150 for k=2
  }

  test("strict backward excludes ties; forward picks the next row") {
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2")).toDF("k", "t", "lpay")
    val right = Seq((1L, 100L, "r1"), (1L, 150L, "r2"), (1L, 200L, "r3"))
      .toDF("k", "t", "rpay")
    def run(dir: String, strict: Boolean) =
      AsOf.join(left, right, Seq("k"), "t", direction = dir, strict = strict)
        .select("t", "rpay").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(run("backward", false) == Seq((100L, "r1"), (200L, "r3")))
    assert(run("backward", true) == Seq((100L, null), (200L, "r2")))
    assert(run("forward", false) == Seq((100L, "r1"), (200L, "r3")))
    assert(run("forward", true) == Seq((100L, "r2"), (200L, null)))
  }

  test("tolerance nulls matches beyond the window, numeric and timestamp time") {
    val left = Seq((1L, 100L, "l1"), (1L, 500L, "l2")).toDF("k", "t", "lpay")
    val right = Seq((1L, 90L, "r1"), (1L, 200L, "r2")).toDF("k", "t", "rpay")
    val out = AsOf.join(left, right, Seq("k"), "t", tolerance = Some(50L))
      .select("t", "rpay").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((100L, "r1"), (500L, null))) // 500-200=300 > 50
    // timestamp time column: tolerance is in microseconds
    val lts = Seq((1L, new java.sql.Timestamp(100000L), "l1"))
      .toDF("k", "ts", "lpay")
    val rts = Seq((1L, new java.sql.Timestamp(40000L), "r1"))
      .toDF("k", "ts", "rpay")
    val tsOut = AsOf.join(lts, rts, Seq("k"), "ts",
        tolerance = Some(60000L * 1000L))
      .select("rpay").as[String].collect().toSeq
    assert(tsOut == Seq("r1")) // 60 s apart, tolerance exactly 60 s
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "s1"),
    (1L, "the quick brown fox jumps over the lazy cat", "s1"), // near-dup of 0
    (2L, "completely different content about spark engines", "s1"),
    (3L, "the quick brown fox jumps over the lazy dog", "s2"), // exact dup of 0
    (4L, "unrelated words entirely here nothing shared", "s2")
  ).toDF("doc_id", "text", "source")

  test("exactByKey keeps min id per group") {
    val out = Dedup.exactByKey(docs.withColumn("h", md5(col("text"))), Seq("h"), "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.length == 4)                       // 5 docs, one exact dup pair
    assert(out.contains((0L, 2L)))                // doc 0+3 collapse to keep_id 0
  }

  test("jaccardPairs finds the near-dup pair within a block") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // 8/10 tokens shared; cross-source dup not in block
  }

  test("minHashLsh surfaces the exact and near dup pairs") {
    // bands=16 (r=4): detection probability at jaccard 0.8 is ~0.9998
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 64, 16, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical docs always collide
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefix-filtered jaccardPairs ≡ all-pairs enumeration (differential)") {
    // small shared vocabulary + dup groups + a hot stopword ("the" in
    // every doc — the token df-ordering must keep it out of prefixes) +
    // several thresholds including ones where ceil(t*n) sits on an
    // integer boundary
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = (0L until 300L).map { i =>
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(8))
      (i, ("the" +: base).mkString(" "), s"s${i % 5}")
    } ++ (300L until 330L).map(i => (i, "the w1 w2 w3 w4 w5", s"s${i % 5}"))
    val df = rows.toDF("doc_id", "text", "source")
    for (t <- Seq(0.5, 0.75, 0.8, 1.0)) {
      // force each adaptive branch: allPairsMaxBlock=0 -> prefix filter,
      // Int.MaxValue -> plain per-block pair join
      val fast = Dedup.jaccardPairs(df, "doc_id", "text", "source", t, 0)
        .as[(Long, Long, Double)].collect().toSet
      val ref = Dedup.jaccardPairs(df, "doc_id", "text", "source", t, Int.MaxValue)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == ref, s"threshold $t")
      assert(fast.nonEmpty, s"threshold $t produced no pairs — weak test")
    }
  }

  test("bucket-local LSH kernel ≡ join shape, incl. an adversarial mega-bucket") {
    // corpus engineered for a hot bucket: a 400-doc near-dup cloud sharing
    // 15 of 16 tokens (each band slice matches the base slice w.p.
    // (15/16)^8 ≈ 0.6, so every band has a ~240-member bucket), plus an
    // exact-dup group and unrelated singletons — the skew case the
    // bucket-local kernel must survive with bounded memory
    val base = (0 until 15).map(i => s"tok$i").mkString(" ")
    val rows =
      (0 until 400).map(i => (i.toLong, s"$base uniq$i")) ++
      (400 until 420).map(i => (i.toLong, base + " shared")) ++
      (420 until 460).map(i => (i.toLong, (0 until 12).map(j => s"other${i}_$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val fast = Dedup.minHashLsh(df, "doc_id", "text", 64, 8, 0.7)
      .as[(Long, Long, Double)].collect().toSet
    val ref = Dedup.minHashLshJoinShape(df, "doc_id", "text", 64, 8, 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == ref)
    assert(fast.size > 400) // the mega-bucket really produced pairs
    // block-pair fan-out (round 12): at blockSize 64 the ~240-member
    // buckets split into ≥4 gid-hash blocks — within-block triangles AND
    // cross-block tasks must reproduce the same pair set exactly
    val fastSplit = Dedup.minHashLsh(df, "doc_id", "text", 64, 8, 0.7,
        blockSize = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(fastSplit == ref, "block-pair fan-out diverged from the join shape")
    // and it really is adversarial: max bucket ≥ 100× the median bucket
    val census = Dedup.minHashSignatures(df, "doc_id", "text", 64)
      .select(posexplode(graft.functions.SketchAggs.bandHashes(col("sig"), 8)))
      .groupBy("pos", "col").count().select("count").as[Long].collect().sorted
    assert(census.last >= 100 * census(census.length / 2))
  }

  test("randomized differentials: bucket-local LSH and prefix-filter vs naive shapes") {
    // fuzz-grade pin for the round-11 reworks: random corpora × random
    // parameters, both fast paths must equal their naive twins exactly
    val rnd = new scala.util.Random(1111)
    for (round <- 0 until 6) {
      val vocabN = 12 + rnd.nextInt(60)
      val vocab = (0 until vocabN).map(i => s"v${round}_$i")
      val nDocs = 80 + rnd.nextInt(200)
      val docs = (0L until nDocs.toLong).map { i =>
        val n = 4 + rnd.nextInt(12)
        val toks = Seq.fill(n)(vocab(rnd.nextInt(vocabN)))
        (i, toks.mkString(" "), s"s${rnd.nextInt(3)}")
      }
      // inject exact + near dup runs so the similar tail is populated
      val withDups = docs ++ docs.take(10).map { case (i, t, s) =>
        (i + nDocs, if (rnd.nextBoolean()) t else t + " extra", s)
      }
      val df = withDups.toDF("doc_id", "text", "source")
      val bands = Seq(4, 8, 16)(rnd.nextInt(3))
      val tau = 0.5 + rnd.nextDouble() * 0.45
      // fuzz the block size too: tiny values force multi-block buckets
      // (cross-block tasks), large ones the single-block fast path
      val bs = Seq(2, 5, 16, 4096)(rnd.nextInt(4))
      val lshFast = Dedup.minHashLsh(df, "doc_id", "text", 64, bands, tau,
          blockSize = bs)
        .as[(Long, Long, Double)].collect().toSet
      val lshRef = Dedup.minHashLshJoinShape(df, "doc_id", "text", 64, bands, tau)
        .as[(Long, Long, Double)].collect().toSet
      assert(lshFast == lshRef, s"lsh round $round bands=$bands tau=$tau bs=$bs")
      val jt = 0.4 + rnd.nextDouble() * 0.6
      val jFast = Dedup.jaccardPairs(df, "doc_id", "text", "source", jt, 0)
        .as[(Long, Long, Double)].collect().toSet
      val jRef = Dedup.jaccardPairs(df, "doc_id", "text", "source", jt, Int.MaxValue)
        .as[(Long, Long, Double)].collect().toSet
      assert(jFast == jRef, s"jaccard round $round t=$jt")
    }
  }

  test("lshExactPairs = LSH recall + exact precision (matches brute force here)") {
    val out = Dedup.lshExactPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, candidateThreshold = 0.5, exactThreshold = 0.75)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact-threshold pairs: {0,3} identical (j=1.0), {0,1}/{1,3} j=7/9~0.778
    assert(out.contains((0L, 3L)))
    assert(out.contains((0L, 1L)) && out.contains((1L, 3L)))
    // precision is exact: nothing below the threshold survives
    assert(!out.exists(p => p._1 == 2L || p._2 == 2L || p._1 == 4L || p._2 == 4L))
  }

  test("simhash of identical docs is identical, hamming 0") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
  }

  test("dedupDecision collapses clusters to min id") {
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupDecision(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 0L, 4L -> 4L))
  }

  test("connectedComponents converges over a chain (transitive dups)") {
    // chain 0-1, 1-2, 2-3 plus isolated 4: all of 0..3 collapse to 0
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L))
  }

  /** Seeded graphs for the driver-arm differentials: (name, docs' ids,
    * pairs). Ids are shuffled so a component's minimum sits anywhere. */
  private lazy val graphs: Seq[(String, Seq[Long], Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(17)
    // ids ascend along the chain: the propagation's pointer jump doubles
    // each round's reach, so it converges within its rounds (a chain in
    // random id order does not — see the test after the differentials)
    val chainIds = (0L until 2000L).map(_ * 7 + 3)
    val chain = rnd.shuffle(chainIds.sliding(2).map(w => (w(0), w(1))).toSeq)
    val mega = Seq.fill(3000)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong))
      .filter(p => p._1 != p._2).map(p => (p._1 min p._2, p._1 max p._2))
    // docs 0..199: pairs among some of them, and pairs reaching ids 1000+
    // that no doc holds; the rest are isolated
    val mixed = Seq.fill(150)((rnd.nextInt(200).toLong, 1000L + rnd.nextInt(40)))
      .map(p => (p._1 min p._2, p._1 max p._2)) ++
      Seq.fill(60)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter(p => p._1 < p._2)
    val dups = (0L until 300L).map(i => (i % 120) * 5)
    val dupPairs = Seq.fill(80)((rnd.nextInt(120).toLong * 5, rnd.nextInt(120).toLong * 5))
      .filter(p => p._1 < p._2) :+ ((5L, 5L))
    Seq(("a 2k-node chain", chainIds, chain),
        ("a mega-component", (0L until 700L), mega),
        ("isolated and pair-only nodes", (0L until 200L), mixed),
        ("duplicate doc ids", dups, dupPairs))
  }

  private def sorted(df: DataFrame): Seq[(java.lang.Long, java.lang.Long)] =
    df.collect().map(r => (r.get(0).asInstanceOf[java.lang.Long],
      r.get(1).asInstanceOf[java.lang.Long])).toSeq.sortBy(_.toString)

  test("union-find components ≡ label propagation on seeded graphs") {
    graphs.foreach { case (name, ids, edges) =>
      val nodes = ids.toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val rows = graft.sources.lance.LanceLocal.collectWithin(pairs).get
      val local = sorted(Dedup.componentsLocal(nodes, "doc_id", rows))
      assert(local == sorted(Dedup.componentsPropagated(nodes, "doc_id", pairs)), name)
      assert(local == sorted(Dedup.connectedComponents(nodes, "doc_id", pairs)), name)
    }
  }

  test("union-find labels a 2k chain in random id order with its minimum") {
    val ids = new scala.util.Random(23).shuffle((0L until 2000L).map(_ * 7 + 3))
    val pairs = ids.sliding(2).map(w => (w(0) min w(1), w(0) max w(1))).toSeq
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(ids.toDF("doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect()
    assert(labels.length == ids.length && labels.forall(_._2 == 3L))
  }

  test("the driver decision ≡ the distributed one, left-join multiplicity kept") {
    graphs.foreach { case (name, ids, edges) =>
      val nodes = ids.toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val rows = graft.sources.lance.LanceLocal.collectWithin(pairs).get
      val local = sorted(Dedup.decisionLocal(nodes, "doc_id", rows))
      assert(local.length == ids.length, name)
      assert(local == sorted(Dedup.decisionDistributed(nodes, "doc_id", pairs)), name)
      assert(local == sorted(Dedup.dedupDecision(nodes, "doc_id", pairs)), name)
    }
  }

  test("a null pair id falls back to the distributed arms") {
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((0L, 1L), (null, 2L), (2L, 3L))
      .toDF("doc_a", "doc_b")
    val cc = sorted(Dedup.connectedComponents(nodes, "doc_id", pairs))
    assert(cc == sorted(Dedup.componentsPropagated(nodes, "doc_id", pairs)))
    assert(cc.exists(_._1 == null), "the propagation labels the null endpoint too")
    assert(sorted(Dedup.dedupDecision(nodes, "doc_id", pairs)) ==
      sorted(Dedup.decisionDistributed(nodes, "doc_id", pairs)))
  }

  test("connectedComponents under the cap runs no propagation round") {
    val (name, ids, edges) = graphs.head
    val nodes = ids.toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")
    // the probe's one job, then the labels' one aggregate (a map stage
    // and its result); the propagation runs an edge checkpoint and a
    // label sum before its first round
    val (_, local) = TestSpark.jobsOf(Dedup.connectedComponents(nodes, "doc_id", pairs).collect())
    val (_, propagated) = TestSpark.jobsOf(
      Dedup.componentsPropagated(nodes, "doc_id", pairs).collect())
    assert(local <= 3, s"$name: the driver arm ran $local jobs")
    assert(propagated > 10, s"$name: the propagation ran $propagated jobs")
  }

  test("semanticDedup: fixpoint reps, and no same-cluster survivors above the bar") {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val tau = 0.92
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", nClusters = 8, tau)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == emb.count())                  // total function over ids
    rows.foreach { case (id, keep) =>
      assert(keep <= id, s"rep $keep > member $id")   // min-id representative
      assert(rows(keep) == keep, s"rep $keep not a fixpoint")
    }
    // completeness invariant: two SURVIVORS in the same cluster can never
    // be cosine >= tau — such a pair would have been an edge and merged
    val (indexed, _) = Similarity.ivfIndexCached(
      emb, "vec_id", "embedding", 8, "semdedup:embedding")
    val kept = rows.collect { case (id, keep) if id == keep => id }.toSeq
    val k = indexed.filter(col("vec_id").isin(kept: _*))
      .select(col("list_id"), col("vec_id"), col("embedding"))
    val offenders = k.alias("x").join(k.alias("y"),
        col("x.list_id") === col("y.list_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(Similarity.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= tau)
      .count()
    assert(offenders == 0L)
  }

  test("pair operators leave nothing pinned in the session cache") {
    // each operator returns a lazy frame, so a frame it cached could never
    // be unpersisted by it — its scoped frames must be localCheckpoints the
    // ContextCleaner frees with the result
    spark.catalog.clearCache()
    val runs = Seq[(String, () => DataFrame)](
      "jaccardPairs" -> (() => Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.5)),
      "simHashPairs" -> (() => Dedup.simHashPairs(docs, "doc_id", "text", 3)),
      "lshExactPairs" -> (() => Dedup.lshExactPairs(docs, "doc_id", "text",
          numHashes = 64, bands = 16, candidateThreshold = 0.5, exactThreshold = 0.75)),
      "minHashLsh" -> (() => Dedup.minHashLsh(docs, "doc_id", "text", 64, 16, 0.6)),
      "portableMinHashLsh" -> (() => Dedup.portableMinHashLsh(docs, "doc_id", "text").pairs))
    for ((name, run) <- runs) {
      assert(run().collect().nonEmpty, name)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a frame in the cache")
    }
  }

  /** The portable path's naive twin: the full-md5 band self-join +
    * distinct + string estimate over distinct signatures (d34's former
    * candidate block), member pairs expanded on the driver. */
  private def portableReference(df: DataFrame): Set[(Long, Long, Double)] = {
    val reps = df.select(col("doc_id"),
        graft.functions.ArrayKernels.minhashSig(col("text"), 8).as("sig"))
      .groupBy("sig").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .withColumn("gid", monotonically_increasing_id())
      .localCheckpoint(true)
    val bands = reps.select(col("gid"),
        posexplode(array((0 until 4).map(b =>
          md5(concat_ws(",", col("sig")(2 * b), col("sig")(2 * b + 1)))): _*)))
      .select(col("gid"), col("pos").as("band"), col("col").as("bh"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("gid_a"), col("b.gid").as("gid_b"))
      .distinct()
    val sa = reps.select(col("gid").as("gid_a"), col("sig").as("sig_a"), col("ids").as("ids_a"))
    val sb = reps.select(col("gid").as("gid_b"), col("sig").as("sig_b"), col("ids").as("ids_b"))
    val est = (0 until 8).map(i =>
        when(col("sig_a")(i) === col("sig_b")(i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / 8
    val edges = cand.join(sa, "gid_a").join(sb, "gid_b")
      .select(col("ids_a"), col("ids_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.75)
      .as[(Seq[Long], Seq[Long], Double)].collect()
    val intra = reps.select("ids").as[Seq[Long]].collect().toSeq
      .flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b, 1.0))
    val inter = edges.toSeq.flatMap { case (as, bs, e) =>
      for (a <- as; b <- bs) yield (math.min(a, b), math.max(a, b), e) }
    (intra ++ inter).toSet
  }

  /** A 400-doc near-dup cloud sharing 15 of 16 tokens (each band of 2
    * matches the base w.p. (15/16)^2, so every band has a ~350-member
    * bucket), an exact-dup group and unrelated singletons. */
  private lazy val megaBucketCorpus = {
    val base = (0 until 15).map(i => s"tok$i").mkString(" ")
    ((0 until 400).map(i => (i.toLong, s"$base uniq$i")) ++
      (400 until 420).map(i => (i.toLong, base + " shared")) ++
      (420 until 460).map(i => (i.toLong, (0 until 12).map(j => s"other${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
  }

  test("portable MinHash-LSH ≡ its naive full-md5 twin, incl. a mega-bucket, at every block size") {
    val df = megaBucketCorpus
    val census = Dedup.portableSignatures(df, "doc_id", "text")
      .select(posexplode(Dedup.portableBandKeys(col("sig"))))
      .groupBy("pos", "col").count().select("count").as[Long].collect().sorted
    assert(census.last >= 100 * census(census.length / 2), "no mega-bucket — weak test")
    val ref = portableReference(df)
    assert(ref.exists(_._3 < 1.0) && ref.size > 400, "too few cross-group pairs — weak test")
    for (bs <- Seq(2, 5, 16, 4096)) {
      val got = Dedup.portableMinHashLsh(df, "doc_id", "text", bs).pairs
        .as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, s"blockSize $bs emitted a pair twice")
      assert(got.toSet == ref, s"blockSize $bs")
    }
  }

  test("d34's K-capped partners ≡ the full pair list cut at row_number <= K per doc") {
    val df = megaBucketCorpus
    val full = Dedup.portableMinHashLsh(df, "doc_id", "text").pairs
    val sym = full.select(col("doc_a").as("doc_id"), col("doc_b").as("partner_id"), col("est_jaccard"))
      .unionAll(full.select(col("doc_b"), col("doc_a"), col("est_jaccard")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("partner_id")
    for (k <- Seq(1, 3); bs <- Seq(5, 4096)) {
      val want = sym.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("doc_id", "partner_id", "est_jaccard").as[(Long, Long, Double)].collect()
      val got = graft.queries.TextOps.cappedNearDups(df, k, bs)
        .as[(Long, Long, Double)].collect()
      assert(got.length == want.length && got.toSet == want.toSet, s"k=$k blockSize=$bs")
      assert(want.length >= 400 * k, s"k=$k: too few capped partners — weak test")
    }
  }
}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Skew

  test("salted join matches plain join on a skewed key distribution") {
    // 90% of fact rows share one hot key
    val fact = spark.range(10000)
      .selectExpr("IF(id % 10 = 0, id % 7, 777L) AS k", "id AS payload")
    val dim = Seq((777L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
                  (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "name")
    val plain = fact.join(dim, "k").groupBy("name").count()
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8).groupBy("name").count()
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}

class SimilaritySpec extends AnyFunSuite {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val vecs = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),
    (3L, Seq(0.0f, 1.0f, 0.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosineTopK ranks by cosine similarity") {
    val out = Similarity.cosineTopK(vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("cosine kernel is exact on unit vectors") {
    val c = vecs.filter(col("vec_id") === 1)
      .select(Similarity.cosine(col("embedding"), typedlit(Seq(1.0f, 0.0f, 0.0f))))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("MLlib LSH similarity join: subset of exact radius pairs, decent recall") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings").filter(col("vec_id") < 200)
    // exact pairwise L2 via the double kernel
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exactAll = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.l2(col("ea"), col("eb")).as("dist"))
    val radius = exactAll.orderBy("dist").limit(60).agg(max("dist")).head().getDouble(0)
    val exact = exactAll.filter(col("dist") <= radius)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Similarity.l2SimilarityJoinLsh(emb, "vec_id", "embedding", radius)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exact), s"LSH surfaced ${approx.diff(exact)} beyond the radius")
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall (${approx.size}/${exact.size})")
  }

  test("ivf top-k achieves reasonable recall vs brute force on fixtures") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") > 0), "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    val (indexed, centroids) = Similarity.ivfIndex(
      emb.filter(col("vec_id") > 0), "vec_id", "embedding", nLists = 16)
    val approx = Similarity.ivfCosineTopK(indexed, centroids, "vec_id", "embedding",
      query, 10, nProbe = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(approx).size >= 3, s"ivf recall too low: $exact vs $approx")
  }

  test("binary quantization: sign-pack/hamming kernels + decent re-rank recall") {
    import graft.functions.ArrayKernels.{hamming, signPack}
    // kernel exactness on a known vector: signs of (3, -1, 0, 7) -> 0b1001
    val one = Seq((Seq(3L, -1L, 0L, 7L), Seq(3L, 1L, 2L, -7L))).toDF("a", "b")
    val row = one.select(signPack(col("a")).as("pa"), signPack(col("b")).as("pb"),
                         hamming(signPack(col("a")), signPack(col("b"))).as("h")).head()
    assert(row.getSeq[Long](0) == Seq(9L)) // bits 0 and 3
    assert(row.getSeq[Long](1) == Seq(7L)) // bits 0,1,2
    assert(row.getInt(2) == 3)             // differ at 1,2,3
    // end-to-end: the e12 pipeline recovers most of the exact top-10
    val exact = graft.SparkEntry.queries("e01_cosine_topk")(spark, TestSpark.sfDir)
      .select("vec_id").as[Long].collect().toSet
    val bq = graft.SparkEntry.queries("e12_binary_quant")(spark, TestSpark.sfDir)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(bq).size >= 5,
      s"binary-quant recall too low: $exact vs $bq")
  }

  test("batched ANN: per-query IVF top-k agrees with per-query brute force") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 10)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val (indexed, centroids) = Similarity.ivfIndex(corpus, "vec_id", "embedding", nLists = 16)
    val batch = Similarity.ivfBatchCosineTopK(indexed, centroids, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nProbe = 6)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(batch.size == 10, s"expected 10 query groups, got ${batch.size}")
    var hit = 0; var total = 0
    queries.collect().foreach { r =>
      val qid = r.getLong(0)
      val exact = Similarity.cosineTopK(corpus, "vec_id", "embedding",
          r.getSeq[Float](1), 5).select("vec_id").as[Long].collect().toSet
      assert(batch(qid).size == 5)
      hit += exact.intersect(batch(qid)).size; total += 5
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.8, s"batched-ANN recall $recall")
  }

  test("persisted IVF probe prunes vectors.lance fragments by list_id stats") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune").toString
    Similarity.ivfBuildPersist(emb.filter(col("vec_id") > 0), "vec_id",
      "embedding", nLists = 16, indexPath = dir)
    val vecs = s"$dir/vectors.lance"
    val schema = spark.read.format("lance").load(vecs).schema
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new graft.sources.lance.LanceScanBuilder(vecs, schema, None)
      b.pushFilters(filters)
      b.build().asInstanceOf[graft.sources.lance.LanceScan]
        .planInputPartitions().length
    }
    val total = planned(Array.empty)
    assert(total >= 4, s"range-partitioned index should have >=4 fragments, got $total")
    // an nProbe=2 probe (the e06 shape: list_id IN (...)) must open only
    // the fragments whose [min,max] list ranges cover the probed lists —
    // the manifest-stat pruning the 100 TB probe cost story rests on
    val probed = planned(Array(
      org.apache.spark.sql.sources.In("list_id", Array(0, 1))))
    assert(probed < total,
      s"probe planned $probed of $total fragments — list_id stats did not prune")
    assert(probed <= math.max(1, total / 2),
      s"probe planned $probed of $total fragments — pruning too weak")
  }

  test("delete-aware IVF probe masks rows deleted from the source after build") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_live").toString
      val src = s"$dir/corpus.lance"
      // the fixture is range-sorted on vec_id across 8 fragments; the
      // padded twin is one fragment, so its source reads are over the cap
      val w = twin(emb.filter(col("vec_id") > 0), padded).write.format("lance")
      (if (padded) w else w.option("sortBy", "vec_id").option("writePartitions", "8"))
        .mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)

      val before = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 10, nProbe = 6).select("vec_id").as[Long].collect().toSeq
      // delete the top two hits from the SOURCE (the index copy keeps them)
      val gone = before.take(2)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src,
        s"vec_id IN (${gone.mkString(",")})")

      val stale = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 10, nProbe = 6).select("vec_id").as[Long].collect().toSeq
      assert(gone.forall(stale.contains), "plain probe reads the index copy")

      // collect liveDf ITSELF (not a derived frame): the plan assertions
      // below inspect the executed scan instances of this QueryExecution
      val (liveDf, live) = onSide(padded) {
        val df = Similarity.ivfSearchCombinedLive(spark, dir, src,
          "vec_id", "embedding", query, k = 10, nProbe = 6)
        (df, df.collect().toSeq.map(_.getAs[Long]("vec_id")))
      }
      assert(gone.forall(g => !live.contains(g)), s"deleted ids surfaced: $live")
      assert(live.length == 10, s"over-fetch margin should refill to k: $live")
      // exactly the over-fetched candidate ranking minus the dead rows
      val cand20 = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 20, nProbe = 6).select("vec_id").as[Long].collect().toSeq
      assert(live == cand20.filterNot(gone.contains).take(10))
      // no driver-side collect on the DSv2 plan: the candidate ids reach
      // the SOURCE re-rank scan via Spark's runtime-filter (dynamic
      // pruning) path — pin that the REALIZED candidate id set (the 2k
      // over-fetch, exactly, not a superset) was installed as an IN-list
      // zone filter, so the re-rank stays O(k) point reads
      // (LanceRuntimeFilterSpec pins that installed IN zone filters prune
      // fragments via manifest stats)
      if (padded) {
        val srcScans = scansOf(liveDf.queryExecution.executedPlan)
          .map(_.scan).collect {
            case s: graft.sources.lance.LanceScan
                if s.description().contains("corpus.lance") => s
          }
        assert(srcScans.nonEmpty, liveDf.queryExecution.executedPlan.toString)
        val installedIn = srcScans.flatMap(_.installedRuntimeFilters)
          .filter(f => f.colName == "vec_id" && f.op == "in")
        assert(installedIn.nonEmpty,
          s"candidate ids never reached the source scan as a runtime filter:\n" +
            liveDf.queryExecution.executedPlan)
        assert(installedIn.exists(_.values.toSet == cand20.map(_.toDouble).toSet),
          s"installed IN-list != realized candidate set: " +
            s"${installedIn.map(_.values.sorted)} vs ${cand20.sorted}")
      }
    }
  }

  test("combined search covers rows appended after the index build") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_comb").toString
      val src = s"$dir/corpus.lance"
      twin(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0), padded)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      // append the held-out fifth AFTER the build — not covered by the index
      twin(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0), padded)
        .write.format("lance").mode("append").save(src)

      val combined = onSide(padded)(Similarity.ivfSearchCombinedLive(spark, dir, src,
        "vec_id", "embedding", query, k = 10, nProbe = 6)
        .select("vec_id").as[Long].collect().toSeq)
      assert(combined.length == 10)
      // the exact top-k over the FULL live dataset restricted to (probed
      // lists ∪ tail) must agree where the tail holds top hits: at minimum,
      // any exact top-3 hit from the appended tail must surface
      val exact = Similarity.cosineTopK(
        spark.read.format("lance").load(src), "vec_id", "embedding", query, 3)
        .select("vec_id").as[Long].collect().toSeq
      exact.filter(_ % 5 == 0).foreach { id =>
        assert(combined.contains(id), s"appended top hit $id missing: $combined")
      }
      // stale plain probe cannot see appended rows at all
      val stale = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 50, nProbe = 16).select("vec_id").as[Long].collect().toSeq
      assert(stale.forall(_ % 5 != 0))
    }
  }

  test("combined+live search handles appends AND deletions since the build") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_combl").toString
      val src = s"$dir/corpus.lance"
      twin(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0), padded)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      // after the build: append the held-out fifth AND delete the two top
      // indexed hits — the crate's between-rebuilds reality
      twin(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0), padded)
        .write.format("lance").mode("append").save(src)
      val gone = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 2, nProbe = 6).select("vec_id").as[Long].collect().toSeq
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src,
        s"vec_id IN (${gone.mkString(",")})")

      val got = onSide(padded)(Similarity.ivfSearchCombinedLive(spark, dir, src,
        "vec_id", "embedding", query, k = 10, nProbe = 6)
        .select("vec_id").as[Long].collect().toSeq)
      assert(got.length == 10)
      assert(gone.forall(g => !got.contains(g)), s"deleted indexed hits surfaced: $got")
      // any exact top-3 hit from the appended tail must surface
      val exact = Similarity.cosineTopK(
        spark.read.format("lance").load(src), "vec_id", "embedding", query, 3)
        .select("vec_id").as[Long].collect().toSeq
      exact.filter(_ % 5 == 0).foreach { id =>
        assert(got.contains(id), s"appended top hit $id missing: $got")
      }
      // and the result ranking agrees with the exact live top-k restricted
      // to (probed lists ∪ appended tail): every exact live top-5 hit that
      // is either appended or inside the probe's own candidate set appears
      val cand = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 20, nProbe = 6).select("vec_id").as[Long].collect().toSet
      val exact5 = Similarity.cosineTopK(
        spark.read.format("lance").load(src), "vec_id", "embedding", query, 5)
        .select("vec_id").as[Long].collect().toSeq
      exact5.filter(id => id % 5 == 0 || cand.contains(id)).foreach { id =>
        assert(got.contains(id), s"live top-5 hit $id missing: $got")
      }
    }
  }

  test("liveness under update-by-append: no duplicate ids, stale copies retire") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_upd").toString
      val src = s"$dir/corpus.lance"
      twin(emb.filter(col("vec_id") > 0), padded)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      val top2 = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = 2, nProbe = 6).select("vec_id").as[Long].collect().toSeq
      val (dupId, updId) = (top2(0), top2(1))
      val srcDf = spark.read.format("lance").load(src)
      val dupRow = srcDf.filter(col("vec_id") === dupId).select("vec_id", "embedding", "label")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      val updLabel = srcDf.filter(col("vec_id") === updId)
        .select("label").head().getInt(0)
      // duplicate id: a second source row under the top hit's id, indexed
      // by a rebuild so both copies are live candidates and the tail is
      // empty — the re-rank must still return each candidate ONCE
      twin(dupRow.toSeq.toDF("vec_id", "embedding", "label"), padded)
        .write.format("lance").mode("append").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      val live = onSide(padded)(Similarity.ivfSearchCombinedLive(spark, dir, src,
        "vec_id", "embedding", query, k = 10, nProbe = 6)
        .select("vec_id").as[Long].collect().toSeq)
      assert(live.distinct == live, s"duplicate source id repeated a candidate: $live")
      assert(live.contains(dupId))
      // update (delete + re-append with a far vector): the stale indexed
      // copy must retire even though the re-appended row ranks poorly
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src,
        s"vec_id = $updId")
      twin(Seq((updId, query.map(-_).toArray, updLabel))
        .toDF("vec_id", "embedding", "label"), padded)
        .write.format("lance").mode("append").save(src)
      val got = onSide(padded)(Similarity.ivfSearchCombinedLive(spark, dir, src,
        "vec_id", "embedding", query, k = 10, nProbe = 6)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val ids = got.map(_._1)
      assert(ids.distinct == ids, s"id ranked twice: $got")
      // the updated row may still rank — but only through its FRESH vector
      // (cos = -1 for the negated query), never the stale indexed cos
      got.filter(_._1 == updId).foreach { case (_, cos) =>
        assert(cos < 0, s"stale indexed cos served for the updated row: $got")
      }
    }
  }

  test("persisted IVF index: fresh-session probe matches in-session search") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_persist").toString
    Similarity.ivfBuildPersist(corpus, "vec_id", "embedding", nLists = 16, indexPath = idx)

    val inSession = Similarity.ivfSearchPersisted(spark, idx, "vec_id", "embedding",
      query, k = 10, nProbe = 6).select("vec_id").as[Long].collect().toSeq
    // fresh "session": centroid cache dropped -> reload from centroids.lance
    Similarity.clearIndexCaches()
    val fresh = Similarity.ivfSearchPersisted(spark, idx, "vec_id", "embedding",
      query, k = 10, nProbe = 6).select("vec_id").as[Long].collect().toSeq
    assert(fresh == inSession && fresh.length == 10)
    // the index layout range-partitions by list_id -> multiple fragments,
    // and a probe's IN-filter prunes whole fragments at plan time: the
    // probed scan plans strictly fewer partitions than the full scan
    val vectors = spark.read.format("lance").load(s"$idx/vectors.lance")
    val fullParts = vectors.rdd.getNumPartitions
    val probedParts = vectors
      .filter(col("list_id").isin(0, 1))
      .select("vec_id").rdd.getNumPartitions
    assert(fullParts > 1, s"index should span fragments, got $fullParts")
    assert(probedParts < fullParts,
      s"probe did not prune fragments: $probedParts vs $fullParts")
  }

  test("IVF_PQ: index <= 10% of raw bytes, recall >= 0.9 with re-rank") {
    // clustered synthetic corpus: 16 true clusters, 64 dims, 30k vectors —
    // large enough that the O(1) codebook sidecar amortizes into the
    // 10%-of-raw budget it would occupy at production scale
    val n = 30000
    val corpus = spark.range(n.toLong).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), d -> CAST(sin((id % 16) * 7 + d) " +
        "+ 0.1 * sin(id * 131 + d) AS FLOAT)) AS embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.ivfPqBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idx)

    def bytesOf(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else if (f.isFile) f.length()
      else f.listFiles().map(x => bytesOf(x.getPath)).sum
    }
    val indexBytes = bytesOf(s"$idx/pq.lance/data") +
      bytesOf(s"$idx/pq_codebooks.lance/data") + bytesOf(s"$idx/pq_centroids.lance/data")
    val rawBytes = n.toLong * 64 * 4
    assert(indexBytes <= rawBytes / 10,
      s"IVF_PQ index $indexBytes bytes > 10% of raw $rawBytes")

    val rest = corpus.filter(col("vec_id") =!= 42)
    val query = corpus.filter(col("vec_id") === 42)
      .select("embedding").head().getSeq[Float](0)
    val exact = Similarity.cosineTopK(rest, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    // fresh-session path: caches dropped -> codebooks/centroids reload
    Similarity.clearIndexCaches()
    val approx = Similarity.ivfPqSearch(spark, idx, rest, "vec_id", "embedding",
        query, k = 10, nProbe = 10, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.9, s"IVF_PQ recall $recall: $exact vs $approx")
  }

  test("IVF_PQ: in-session ADC scores equal a fresh process's, exactly") {
    // the build's write-through codebooks and the float sidecar a fresh
    // process reads must be one table: any precision gap between them
    // shifts the ADC scores of every candidate
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_prec").toString
    Similarity.ivfPqBuildPersist(emb.filter(col("vec_id") > 0), "vec_id", "embedding",
      nLists = 16, indexPath = idx)
    def scores(): Seq[(Long, Double)] = Similarity.ivfPqCandidates(spark, idx, "vec_id",
        query, k = 10, nProbe = 16, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inSession = scores()
    Similarity.clearIndexCaches()
    assert(scores() == inSession)
  }

  test("IVF_PQ probe on fixture embeddings reaches 0.9 recall vs exact") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_fix").toString
    Similarity.ivfPqBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idx)
    val exact = Similarity.cosineTopK(corpus, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    // 500 weakly-similar vectors scatter true neighbours across lists, so
    // the fixture needs a wide probe (nProbe tracks corpus size in
    // practice); ADC+re-rank quality is what this pins down
    val approx = Similarity.ivfPqSearch(spark, idx, corpus, "vec_id", "embedding",
        query, k = 10, nProbe = 14, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size / 10.0
    assert(recall >= 0.9, s"fixture IVF_PQ recall $recall: $exact vs $approx")
  }

  test("combined+live: retired top hit refills from the over-fetch window") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_refill").toString
      val src = s"$dir/corpus.lance"
      twin(emb.filter(col("vec_id") > 0), padded)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      val k = 5
      // full-width probe: the over-fetch is the global approx top-2k, so
      // the expected combined+live answer is exactly the live top-k
      val topIds = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
        query, k = k, nProbe = 16).select("vec_id").as[Long].collect().toSeq
      // update the TOP hit: delete + re-append under the same id with the
      // negated query vector (ranks dead last). Its stale indexed copy must
      // retire AND its vacated top-k slot must refill from the live indexed
      // candidate ranked k+1 in the over-fetch — which outranks every tail
      // row. Cutting to k BEFORE the re-rank would let the worthless tail
      // row take the slot instead.
      val updId = topIds.head
      val updLabel = spark.read.format("lance").load(src)
        .filter(col("vec_id") === updId).select("label").head().getInt(0)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src,
        s"vec_id = $updId")
      twin(Seq((updId, query.map(-_).toArray, updLabel))
        .toDF("vec_id", "embedding", "label"), padded)
        .write.format("lance").mode("append").save(src)
      // collect gotDf ITSELF: the plan assertions below inspect the
      // executed scan/join instances of this QueryExecution
      val (gotDf, got) = onSide(padded) {
        val df = Similarity.ivfSearchCombinedLive(spark, dir, src,
          "vec_id", "embedding", query, k = k, nProbe = 16)
        (df, df.collect().map(_.getAs[Long]("vec_id")).toSeq)
      }
      val exactLive = Similarity.cosineTopK(
        spark.read.format("lance").load(src), "vec_id", "embedding", query, k)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == exactLive,
        s"retired hit did not refill from the over-fetch: got $got, exact live $exactLive")
      assert(!got.contains(updId), s"negated re-append ranked in the top-$k: $got")
      // scale shape of the DSv2 plan: the realized 2k candidate ids reach
      // the source re-rank scan as a runtime IN-list zone filter (O(k)
      // point reads), and no join shuffles the tail or the source — the
      // tail side is a plain top-k scan
      if (padded) {
        val cand = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
          query, k = 2 * k, nProbe = 16).select("vec_id").as[Long].collect().toSet
        val all = flatten(gotDf.queryExecution.executedPlan)
        assert(!all.exists {
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
          case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
          case _ => false
        }, s"a join shuffled:\n${gotDf.queryExecution.executedPlan}")
        val installedIn = all.collect { case b: BatchScanExec => b.scan }.collect {
          case s: graft.sources.lance.LanceScan
              if s.description().contains("corpus.lance") => s
        }.flatMap(_.installedRuntimeFilters)
          .filter(f => f.colName == "vec_id" && f.op == "in")
        assert(installedIn.exists(_.values.toSet == cand.map(_.toDouble)),
          s"the realized candidate ids never reached the source re-rank scan: " +
            s"${installedIn.map(_.values.sorted)} vs ${cand.toSeq.sorted}\n" +
            gotDf.queryExecution.executedPlan)
      }
    }
  }

  test("ivfUpdateIndex extends the index over appends without retraining") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_upd_idx").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0)
      .write.format("lance").mode("overwrite").save(src)
    Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0)
      .write.format("lance").mode("append").save(src)
    // before the update: a plain probe cannot see appended rows
    val stale = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 50, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    assert(stale.forall(_ % 5 != 0))

    val covered = Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    // fresh session: pins and centroids reload from the sidecars
    Similarity.clearIndexCaches()
    val got = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.cosineTopK(spark.read.format("lance").load(src),
      "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == exact, s"full-width probe after update != exact: $got vs $exact")
    // the combined search's tail is now empty — same answer, and the
    // recorded version advanced to the covered head
    val comb = Similarity.ivfSearchCombinedLive(spark, dir, src, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    assert(comb == exact)
    assert(spark.read.format("lance").load(s"$dir/meta.lance")
      .head().getLong(0) == covered)
    // idempotent: a second update with no new rows is a no-op publish
    assert(Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding") == covered)
  }

  test("ivfUpdateIndex replaces the stale copy of a re-appended id") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_upd_re").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0).write.format("lance").mode("overwrite").save(src)
    Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    val updId = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 1, nProbe = 16).select("vec_id").as[Long].head()
    val updLabel = spark.read.format("lance").load(src)
      .filter(col("vec_id") === updId).select("label").head().getInt(0)
    graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, s"vec_id = $updId")
    Seq((updId, query.map(-_).toArray, updLabel))
      .toDF("vec_id", "embedding", "label")
      .write.format("lance").mode("append").save(src)

    Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    Similarity.clearIndexCaches()
    // the mergeInsert keyed on vec_id REPLACED the stale high-cos copy:
    // a plain probe must not serve it, and no id may rank twice
    val got = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1).distinct == got.map(_._1), s"id ranked twice: $got")
    got.filter(_._1 == updId).foreach { case (_, cos) =>
      assert(cos < 0, s"stale indexed cos survived the update: $got") }
    val exact = Similarity.cosineTopK(spark.read.format("lance").load(src),
      "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.map(_._1) == exact)
  }

  test("ivfUpdateIndex publish pin hides an orphaned index commit") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_upd_orph").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0)
      .write.format("lance").mode("overwrite").save(src)
    Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0)
      .write.format("lance").mode("append").save(src)
    Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    val expect = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq

    // simulate a crashed update: an index commit AFTER the published
    // meta — a tripwire row with the query vector itself (cos = 1.0,
    // would top every ranking if a probe could see it)
    val junk = Seq((999999L, query.toArray, 0))
      .toDF("vec_id", "embedding", "label")
      .withColumn("list_id", lit(0))
      .select(spark.read.format("lance").load(s"$dir/vectors.lance")
        .schema.fieldNames.map(col).toIndexedSeq: _*)
    junk.write.format("lance").mode("append").save(s"$dir/vectors.lance")
    Similarity.clearIndexCaches() // fresh session: pin re-reads from meta
    val pinned = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    assert(pinned == expect, s"orphaned commit leaked into a pinned probe: $pinned")
    // the next update sweeps the orphan before covering new rows
    Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    Similarity.clearIndexCaches()
    val swept = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    assert(swept == expect && !swept.contains(999999L))
  }

  test("crashed REBUILD: centroid-sidecar overwrite is invisible to pinned probes and swept") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rbcrash").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0)
      .write.format("lance").mode("overwrite").save(src)
    Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    // narrow probe: list SELECTION depends on the centroids, so drifted
    // centroids visibly change the answer if a probe can see them
    val expect = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 4).select("vec_id").as[Long].collect().toSeq
    val goodCents = spark.read.format("lance").load(s"$dir/centroids.lance")
      .orderBy("list_id").collect().map(_.getSeq[Double](1))

    // simulate a REBUILD that crashed after overwriting centroids.lance
    // but before its meta publish: negated centroids at the sidecar head
    // (probe-list selection through them picks the FARTHEST lists)
    spark.read.format("lance").load(s"$dir/centroids.lance")
      .select(col("list_id"),
        org.apache.spark.sql.functions.transform(col("centroid"), x => -x).as("centroid"),
        col("default_nprobe"))
      .coalesce(1).write.format("lance").mode("overwrite")
      .save(s"$dir/centroids.lance")
    Similarity.clearIndexCaches() // fresh session: pins re-read from meta
    val pinned = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 4).select("vec_id").as[Long].collect().toSeq
    assert(pinned == expect,
      s"drifted head centroids leaked into a pinned probe: $pinned vs $expect")
    // the next update sweeps the drifted sidecar back to the published
    // version before assigning the tail
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0)
      .write.format("lance").mode("append").save(src)
    Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    Similarity.clearIndexCaches()
    val sweptCents = spark.read.format("lance").load(s"$dir/centroids.lance")
      .orderBy("list_id").collect().map(_.getSeq[Double](1))
    assert(sweptCents.toSeq == goodCents.toSeq, "sweep did not restore the sidecar")
    val got = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.cosineTopK(spark.read.format("lance").load(src),
      "vec_id", "embedding", query, 10).select("vec_id").as[Long].collect().toSeq
    assert(got == exact, s"post-sweep update published a mixed index: $got vs $exact")
  }

  test("legacy 1-column meta upgrades to the pinned schema at first update") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_legacy").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0)
      .write.format("lance").mode("overwrite").save(src)
    val builtV = Similarity.ivfBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    // simulate an index persisted by a pre-pin build: built_version only
    Seq(Tuple1(builtV)).toDF("built_version")
      .coalesce(1).write.format("lance").mode("overwrite").save(s"$dir/meta.lance")
    Similarity.clearIndexCaches()
    emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0)
      .write.format("lance").mode("append").save(src)
    val covered = Similarity.ivfUpdateIndex(spark, src, dir, "vec_id", "embedding")
    val m = spark.read.format("lance").load(s"$dir/meta.lance")
    assert(m.schema.fieldNames.toSet ==
      Set("built_version", "vectors_version", "centroids_version"))
    assert(m.head().getLong(0) == covered)
    Similarity.clearIndexCaches()
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val got = Similarity.ivfSearchPersisted(spark, dir, "vec_id", "embedding",
      query, k = 10, nProbe = 16).select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.cosineTopK(spark.read.format("lance").load(src),
      "vec_id", "embedding", query, 10).select("vec_id").as[Long].collect().toSeq
    assert(got == exact)
  }

  /** `df` with a `pad` column: on the padded twin its rows hold ~9 MiB in
    * all, more than `LanceLocal.CapBytes`, so an index update reading them
    * as its tail runs its DSv2 plan; otherwise a few bytes, and the update
    * runs on the driver with no job. */
  private def withPad(df: DataFrame, padded: Boolean): DataFrame = {
    val per = if (padded) (9L << 20) / math.max(df.count(), 1L) else 0L
    df.withColumn("pad", concat(col("vec_id").cast("string"), expr(s"repeat('x', $per)")))
  }

  /** `body`'s result, asserting it ran on the side of the cap its twin
    * is on: no job on the fixture, the DSv2 plan on the padded twin. */
  private def onSide[A](padded: Boolean)(body: => A): A = {
    val (out, jobs) = TestSpark.jobsOf(body)
    assert((jobs > 0) == padded, s"padded=$padded: ran $jobs jobs")
    out
  }

  /** A combined-live search's corpus rows: on the padded twin each row
    * carries ~25 KB more and one write lands in one fragment, so the
    * source (and a flat index's copy of it) reads over
    * `LanceLocal.CapBytes` and the search runs its DSv2 plan; otherwise
    * it answers on the driver with no job. */
  private def twin(df: DataFrame, padded: Boolean): DataFrame =
    if (!padded) df
    else df.withColumn("pad", expr("concat(CAST(vec_id AS STRING), repeat('x', 25000))"))
      .coalesce(1)

  /** Every node of an executed plan, adaptive stages and subqueries included. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] =
    flatten(p).collect { case b: BatchScanExec => b }

  test("ivfPqUpdateIndex covers appends with the existing codebooks") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_upd").toString
      val src = s"$dir/corpus.lance"
      withPad(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0), padded = false)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      withPad(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0), padded)
        .write.format("lance").mode("append").save(src)
      val corpus = spark.read.format("lance").load(src)
      // query = an APPENDED row's own vector: exact re-rank would put it at
      // rank 1 (cos = 1.0), but the index cannot produce it as a candidate
      // until the update covers the tail
      val query = emb.filter(col("vec_id") === 5).select("embedding")
        .head().getSeq[Float](0)
      val stale = Similarity.ivfPqSearch(spark, dir, corpus, "vec_id", "embedding",
        query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
      assert(!stale.contains(5L), s"stale index served an unindexed id: $stale")

      val covered = onSide(padded)(
        Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding"))
      // fresh session: pin, centroids and codebooks reload from the sidecars
      Similarity.clearIndexCaches()
      val got = Similarity.ivfPqSearch(spark, dir, corpus, "vec_id", "embedding",
        query, k = 10, nProbe = 16, rerank = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.head._1 == 5L && got.head._2 > 0.9999,
        s"updated index did not surface the appended row as its own top hit: $got")
      assert(spark.read.format("lance").load(s"$dir/pq_meta.lance")
        .head().getLong(0) == covered)
      // idempotent: a second update with no new rows is a no-op publish
      assert(Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding") == covered)
    }
  }

  test("ivfPqUpdateIndex replaces the stale code of a re-appended id") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_re").toString
      val src = s"$dir/corpus.lance"
      withPad(emb.filter(col("vec_id") > 0), padded = false)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      val updId = Similarity.cosineTopK(spark.read.format("lance").load(src),
        "vec_id", "embedding", query, 1).select("vec_id").as[Long].head()
      val updLabel = spark.read.format("lance").load(src)
        .filter(col("vec_id") === updId).select("label").head().getInt(0)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, s"vec_id = $updId")
      withPad(Seq((updId, query.map(-_).toArray, updLabel))
        .toDF("vec_id", "embedding", "label"), padded)
        .write.format("lance").mode("append").save(src)

      onSide(padded)(Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding"))
      Similarity.clearIndexCaches()
      // the mergeInsert keyed on vec_id REPLACED the stale code: the
      // published index holds exactly one row for the id, and its ADC score
      // reflects the negated vector (a stale code would ADC-score ~1.0 and
      // burn a candidate slot even though exact re-rank masks it)
      val copies = spark.read.format("lance").load(s"$dir/pq.lance")
        .filter(col("vec_id") === updId).count()
      assert(copies == 1L, s"re-appended id holds $copies index rows")
      val cand = Similarity.ivfPqCandidates(spark, dir, "vec_id",
        query, k = 10, nProbe = 16, rerank = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      cand.filter(_._1 == updId).foreach { case (_, acos) =>
        assert(acos < 0, s"stale ADC code survived the update: $cand") }
    }
  }

  test("ivfPqUpdateIndex publish pin hides an orphaned pq commit") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_orph").toString
      val src = s"$dir/corpus.lance"
      withPad(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0), padded = false)
        .write.format("lance").mode("overwrite").save(src)
      Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      withPad(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0), padded)
        .write.format("lance").mode("append").save(src)
      onSide(padded)(Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding"))
      val expect = Similarity.ivfPqCandidates(spark, dir, "vec_id",
        query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq

      // simulate a crashed update: a pq.lance commit AFTER the published
      // meta — a tripwire code encoding the query vector itself (top ADC
      // score in any probe that could see it)
      val cbLit = typedlit(
        Similarity.pqCodebooks(spark, dir).flatMap(_.map(_.toSeq)).toSeq)
      val idxCols = spark.read.format("lance").load(s"$dir/pq.lance").schema.fieldNames
      Seq((999999L, query.toArray)).toDF("vec_id", "embedding")
        .withColumn("list_id", lit(0))
        .withColumn("pq_code",
          graft.functions.ArrayKernels.pqEncode(col("embedding"), cbLit))
        .select(idxCols.map(col).toIndexedSeq: _*)
        .write.format("lance").mode("append").save(s"$dir/pq.lance")
      Similarity.clearIndexCaches() // fresh session: pin re-reads from pq_meta
      val pinned = Similarity.ivfPqCandidates(spark, dir, "vec_id",
        query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
      assert(pinned == expect, s"orphaned pq commit leaked into a pinned probe: $pinned")
      // the next update sweeps the orphan before publishing
      Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding")
      Similarity.clearIndexCaches()
      val swept = Similarity.ivfPqCandidates(spark, dir, "vec_id",
        query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
      assert(swept == expect && !swept.contains(999999L))
      assert(spark.read.format("lance").load(s"$dir/pq.lance")
        .filter(col("vec_id") === 999999L).count() == 0L)
    }
  }

  test("crashed PQ REBUILD: codebook-sidecar overwrite is invisible to pinned probes and swept") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rbcrash").toString
    val src = s"$dir/corpus.lance"
    emb.filter(col("vec_id") > 0).write.format("lance").mode("overwrite").save(src)
    Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    val expect = Similarity.ivfPqCandidates(spark, dir, "vec_id",
      query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
    val goodCbs = Similarity.pqCodebooks(spark, dir).map(_.map(_.toSeq).toSeq).toSeq

    // simulate a REBUILD that crashed after overwriting the codebook
    // sidecar but before its meta publish: negated codebooks at head —
    // an ADC LUT built from them scores the pinned (old-codebook) codes
    // upside down
    spark.read.format("lance").load(s"$dir/pq_codebooks.lance")
      .select(col("sub"), col("code"),
        org.apache.spark.sql.functions.transform(col("centroid"), x => -x).as("centroid"))
      .coalesce(1).write.format("lance").mode("overwrite")
      .save(s"$dir/pq_codebooks.lance")
    Similarity.clearIndexCaches() // fresh session: pins re-read from pq_meta
    val pinned = Similarity.ivfPqCandidates(spark, dir, "vec_id",
      query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
    assert(pinned == expect,
      s"drifted head codebooks leaked into a pinned ADC probe: $pinned vs $expect")
    // the next update (even with no new rows) sweeps the drifted sidecar
    Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding")
    Similarity.clearIndexCaches()
    val swept = Similarity.pqCodebooks(spark, dir).map(_.map(_.toSeq).toSeq).toSeq
    assert(swept == goodCbs, "sweep did not restore the codebook sidecar")
    val after = Similarity.ivfPqCandidates(spark, dir, "vec_id",
      query, k = 10, nProbe = 16, rerank = 8).select("vec_id").as[Long].collect().toSeq
    assert(after == expect)
  }

  test("ivfPqSearchCombinedLive: appends, deletions and updates in one search") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val indexedRows = emb.filter(col("vec_id") > 0 && col("vec_id") % 5 =!= 0)
    // on both sides of the driver-local byte cap: the plain corpus is
    // answered on the driver with no job; in the padded one each row
    // carries ~25 KB more, so the indexed rows' one fragment holds more
    // than `LanceLocal.CapBytes` and the face runs its DSv2 plan
    val sources = Seq(false, true).map { padded =>
      def rows(df: DataFrame): DataFrame = twin(df, padded)
      def search(dir: String, src: String): Seq[(Long, Double)] =
        onSide(padded)(Similarity.ivfPqSearchCombinedLive(spark, dir, src,
          "vec_id", "embedding", query, k = 10, nProbe = 16, rerank = 8)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val dir = java.nio.file.Files.createTempDirectory("ivfpq_comb").toString
      val src = s"$dir/corpus.lance"
      rows(indexedRows).write.format("lance").mode("overwrite").save(src)
      Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
        nLists = 16, indexPath = dir)
      // mutate all three ways after the build:
      // (1) append a tail — the fixture's %5 rows plus a planted twin of the
      //     query (cos = 1.0: only the tail brute-force can serve it)
      rows(emb.filter(col("vec_id") > 0 && col("vec_id") % 5 === 0))
        .write.format("lance").mode("append").save(src)
      rows(Seq((999001L, query.toArray, 0)).toDF("vec_id", "embedding", "label"))
        .write.format("lance").mode("append").save(src)
      // (2) delete an indexed top hit outright
      val topIdx = Similarity.cosineTopK(indexedRows, "vec_id", "embedding", query, 2)
        .select("vec_id").as[Long].collect()
      val (delId, updId) = (topIdx(0), topIdx(1))
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, s"vec_id = $delId")
      // (3) delete + re-append another indexed hit with the negated vector
      val updLabel = emb.filter(col("vec_id") === updId).select("label").head().getInt(0)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, s"vec_id = $updId")
      rows(Seq((updId, query.map(-_).toArray, updLabel))
        .toDF("vec_id", "embedding", "label"))
        .write.format("lance").mode("append").save(src)

      Similarity.clearIndexCaches()
      val got = search(dir, src)
      // the planted twin arrives through the tail side at rank 1
      assert(got.head._1 == 999001L && got.head._2 > 0.9999, got.toString)
      // no id ranks twice (grouped first-win dedup), the deleted id is
      // masked by the live re-rank, and the updated id scores with its
      // CURRENT (negated) vector — never the stale indexed code
      assert(got.map(_._1).distinct == got.map(_._1), s"id ranked twice: $got")
      assert(!got.map(_._1).contains(delId), s"deleted id survived: $got")
      got.filter(_._1 == updId).foreach { case (_, cos) =>
        assert(cos < 0, s"stale vector served for the updated id: $got") }
      val exact = Similarity.cosineTopK(spark.read.format("lance").load(src),
        "vec_id", "embedding", query, 10).select("vec_id").as[Long].collect().toSet
      val recall = exact.intersect(got.map(_._1).toSet).size / 10.0
      assert(recall >= 0.9, s"combined-live recall $recall: $exact vs $got")
      // after an incremental update the tail empties and the answer holds
      Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding")
      Similarity.clearIndexCaches()
      val after = search(dir, src)
      assert(after.head._1 == 999001L && !after.map(_._1).contains(delId))
      src
    }
    // a no-meta index (plain DataFrame build) cannot take this face
    val bare = java.nio.file.Files.createTempDirectory("ivfpq_bare").toString
    Similarity.ivfPqBuildPersist(indexedRows, "vec_id", "embedding",
      nLists = 16, indexPath = bare)
    intercept[IllegalStateException] {
      Similarity.ivfPqSearchCombinedLive(spark, bare, sources.head,
        "vec_id", "embedding", query, k = 10)
    }
  }

  /** The IVF_PQ fence spec's body on `dir`: a rival (`armRival`, which
    * returns whether it fired) sweeps the update's lock entry mid-update,
    * as after a long pause; the swept holder must refuse to publish, and
    * the next maintainer covers the tail. */
  private def sweptHolderRefuses(dir: String, padded: Boolean)(
                                 armRival: (org.apache.hadoop.fs.FileSystem,
                                   org.apache.hadoop.fs.Path) => (() => Boolean, () => Unit)): Unit = {
    import graft.sources.lance.{LanceFormat, MaintenanceLock}
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val src = s"$dir/corpus.lance"
    withPad(emb.filter(col("vec_id") % 5 =!= 0), padded = false)
      .write.format("lance").mode("overwrite").save(src)
    Similarity.ivfPqBuildPersistLance(spark, src, "vec_id", "embedding",
      nLists = 16, indexPath = dir)
    withPad(emb.filter(col("vec_id") % 5 === 0), padded)
      .write.format("lance").mode("append").save(src)
    val conf = spark.sessionState.newHadoopConf()
    val meta = s"$dir/pq_meta.lance"
    val published = LanceFormat.headVersion(conf, meta)
    val (fs, root) = LanceFormat.fileSystem(dir, conf)
    val (swept, disarm) = armRival(fs, root)
    try onSide(padded)(intercept[MaintenanceLock.ConcurrentMaintenance] {
      Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding")
    }) finally disarm()
    assert(swept())
    assert(LanceFormat.headVersion(conf, meta) == published,
      "the swept holder published pq_meta.lance over its successor")
    // the next maintainer sweeps the orphan merge and publishes the tail
    val covered = Similarity.ivfPqUpdateIndex(spark, src, dir, "vec_id", "embedding")
    assert(covered == LanceFormat.headVersion(conf, src))
    assert(LanceFormat.headVersion(conf, meta) > published)
  }

  /** Delete every maintenance lock entry under `root`; true when any. */
  private def sweepLocks(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path): Boolean = {
    val entries = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_maintenance.lock."))
    entries.foreach(st => fs.delete(st.getPath, false))
    entries.nonEmpty
  }

  test("IVF_PQ update: a holder whose lock entry was swept mid-update refuses to publish") {
    // the padded twin's tail is over the cap, so the update runs Spark
    // jobs: the rival sweeps the lock entry as the update's first job
    // starts
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_fence").toString
    sweptHolderRefuses(dir, padded = true) { (fs, root) =>
      val swept = new java.util.concurrent.atomic.AtomicBoolean
      val rival = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (!swept.get && sweepLocks(fs, root)) swept.set(true)
      }
      spark.sparkContext.addSparkListener(rival)
      (() => swept.get, () => spark.sparkContext.removeSparkListener(rival))
    }
  }

  test("IVF_PQ update on the driver: a holder whose lock entry was swept mid-update refuses to publish") {
    import graft.sources.lance.{HookAbstractFs, HookFs}
    // the fixture's update starts no job, so the rival sweeps the lock
    // entry at the update's first file create under the index directory
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.hookfs.impl", classOf[HookFs].getName)
    hc.set("fs.AbstractFileSystem.hookfs.impl", classOf[HookAbstractFs].getName)
    val dir = s"hookfs://${java.nio.file.Files.createTempDirectory("ivfpq_fence_local")}"
    sweptHolderRefuses(dir, padded = false) { (fs, root) =>
      val swept = new java.util.concurrent.atomic.AtomicBoolean
      HookFs.beforeCreate = p =>
        if (!p.getName.startsWith("_maintenance.lock.") && !swept.get &&
            sweepLocks(fs, root)) swept.set(true)
      (() => swept.get, () => HookFs.beforeCreate = _ => ())
    }
  }

  test("IVF_PQ re-rank: candidate ids reach a lance corpus as a runtime filter") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rf").toString
    val src = s"$dir/corpus.lance"
    corpus.write.format("lance").mode("overwrite").save(src)
    Similarity.ivfPqBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = dir)
    val expected = Similarity.ivfPqCandidates(spark, dir, "vec_id",
      query, k = 10, nProbe = 14, rerank = 8)
      .select("vec_id").as[Long].collect().toSet
    val df = Similarity.ivfPqSearch(spark, dir,
      spark.read.format("lance").load(src), "vec_id", "embedding",
      query, k = 10, nProbe = 14, rerank = 8)
    // execute THIS plan (not a derived projection): the runtime filters
    // install on the executed tree's own scan instances
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got.length == 10 && got.toSet.subsetOf(expected),
      s"re-rank returned rows outside the candidate set: $got vs $expected")
    // no driver-side collect: the exact re-rank's corpus scan must have
    // received the REALIZED ADC candidate id set (exactly, not a
    // superset) as a runtime IN-list zone filter — the
    // re-rank contract the combined-live faces share
    val srcScans = scansOf(df.queryExecution.executedPlan)
      .map(_.scan).collect {
        case s: graft.sources.lance.LanceScan
            if s.description().contains("corpus.lance") => s
      }
    assert(srcScans.nonEmpty, df.queryExecution.executedPlan.toString)
    val installedIn = srcScans.flatMap(_.installedRuntimeFilters)
      .filter(f => f.colName == "vec_id" && f.op == "in")
    assert(installedIn.nonEmpty,
      s"candidate ids never reached the corpus scan as a runtime filter:\n" +
        df.queryExecution.executedPlan)
    assert(installedIn.exists(_.values.toSet == expected.map(_.toDouble)),
      s"installed IN-list != realized candidate set: " +
        s"${installedIn.map(_.values.sorted)} vs ${expected.toSeq.sorted}")
  }

  test("ORDER BY graft_cosine DESC LIMIT k over a registered index is probe-pruned") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_rule").toString
    Similarity.ivfBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idx, nProbe = 6)

    // declarative shape: no list_id mention anywhere in the user query
    val df = spark.read.format("lance").load(s"$idx/vectors.lance")
      .select(col("vec_id"),
              Similarity.cosine(col("embedding"), typedlit(query)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("list_id"),
      s"AnnTopKRewrite did not inject the probe filter:\n$optimized")
    // results match the imperative probe exactly (same centroids/probes)
    val viaRule = df.select("vec_id").as[Long].collect().toSeq
    val imperative = Similarity.ivfSearchPersisted(spark, idx, "vec_id", "embedding",
      query, k = 10, nProbe = 6).select("vec_id").as[Long].collect().toSeq
    assert(viaRule == imperative)
  }

  test("imperative probe nProbe never mutates the SQL rewrite's width") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_width").toString
    Similarity.ivfBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idx, nProbe = 6)
    val path = s"$idx/vectors.lance"
    assert(graft.plans.GraftAnn.lookup(path).get.nProbe == 6)
    // a wide imperative probe: its own scan probes 12 lists, but the
    // registered declarative width stays the build's
    Similarity.ivfSearchPersisted(spark, idx, "vec_id", "embedding",
      query, k = 10, nProbe = 12).collect()
    assert(graft.plans.GraftAnn.lookup(path).get.nProbe == 6,
      "probe-call nProbe leaked into the declarative registration")
    // fresh session/registry: the first IMPERATIVE touch enables the
    // rewrite at the width PERSISTED by the build (here the default),
    // not the call's parameter — SQL results stay independent of
    // probe-call history
    graft.plans.GraftAnn.clear()
    Similarity.ivfSearchPersisted(spark, idx, "vec_id", "embedding",
      query, k = 10, nProbe = 12).collect()
    assert(graft.plans.GraftAnn.lookup(path).get.nProbe == Similarity.DefaultNProbe)

    // non-default build width survives a JVM restart: the sidecar
    // carries default_nprobe, so a fresh process's first imperative
    // touch (registry AND centroid cache empty) restores the BUILD's
    // width — not the probe call's, not the session default
    val idxW = java.nio.file.Files.createTempDirectory("ivf_width12").toString
    Similarity.ivfBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idxW, nProbe = 12)
    graft.plans.GraftAnn.clear()
    Similarity.clearIndexCaches() // simulate the restart
    Similarity.ivfSearchPersisted(spark, idxW, "vec_id", "embedding",
      query, k = 10, nProbe = 3).collect()
    assert(graft.plans.GraftAnn.lookup(s"$idxW/vectors.lance").get.nProbe == 12,
      "persisted build width did not survive the simulated restart")
  }

  test("filtered ANN (prefilter): WHERE composes with the probe rewrite") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") > 0)
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_prefilter").toString
    Similarity.ivfBuildPersist(corpus, "vec_id", "embedding", nLists = 16,
      indexPath = idx, nProbe = 6)

    val df = spark.read.format("lance").load(s"$idx/vectors.lance")
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
              Similarity.cosine(col("embedding"), typedlit(query)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("list_id"),
      s"filtered shape was not probe-rewritten:\n$optimized")
    val got = df.select("vec_id").as[Long].collect().toSeq
    // every result passes the predicate, and recall vs the exact FILTERED
    // top-10 stays high (same bar as the unfiltered ANN tests)
    assert(got.nonEmpty && got.forall(_ % 2 == 0))
    val exact = Similarity.cosineTopK(corpus.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(got.toSet).size >= 5,
      s"filtered recall too low: $exact vs $got")
    // a filter that mentions list_id is left alone (no double-inject loop)
    val manual = spark.read.format("lance").load(s"$idx/vectors.lance")
      .filter(col("list_id") === 3)
      .select(col("vec_id"),
              Similarity.cosine(col("embedding"), typedlit(query)).as("cos"))
      .orderBy(col("cos").desc).limit(5)
    assert(manual.count() <= 5) // just runs; rewrite skipped by the guard
  }

  test("ann lsh top-k achieves high recall vs brute force on fixtures") {
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val exact = Similarity.cosineTopK(emb.filter(col("vec_id") > 0), "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.annCosineTopK(emb.filter(col("vec_id") > 0), "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(approx).size >= 5, s"recall too low: $exact vs $approx")
  }
}
