package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Fts

/** BM25 full-text search — the tantivy-backed lance FTS analogue
  * (operators/Fts.scala). The oracle pins score values; these tests pin
  * the index mechanics: persisted == index-free, fragment pruning on the
  * term IN-list, fresh-session reload, phrase semantics.
  */
class FtsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")

  private lazy val idx: String = {
    val p = java.nio.file.Files.createTempDirectory("fts_spec").toString
    Fts.buildIndex(docs, "doc_id", "text", s"$p/fts")
    s"$p/fts"
  }

  test("persisted-index search equals the index-free BM25, including ties") {
    val terms = Seq("merge", "window", "batch")
    val direct = Fts.bm25(docs, "doc_id", "text", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIdx = Fts.searchPersisted(spark, idx, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(direct == viaIdx)
    assert(direct.nonEmpty && direct.map(_._2).sliding(2).forall {
      case Seq(a, b) => a >= b
      case _         => true
    })
  }

  test("term IN-list prunes postings fragments at plan time") {
    val postings = spark.read.format("lance").load(s"$idx/postings.lance")
    val full = postings.rdd.getNumPartitions
    val probed = postings.filter(col("term").isin("merge")).rdd.getNumPartitions
    assert(full >= 4, s"expected a multi-fragment index, got $full")
    assert(probed < full,
      s"term probe should prune fragments: planned $probed of $full")
  }

  /** The former [[Fts.postings]] formulation, kept as its oracle: a token
    * `posexplode`, a `groupBy(doc_id, dl, term)` and a sorted
    * `collect_list` of positions. */
  private def postingsOracle(d: DataFrame): DataFrame =
    d.select(col("doc_id").cast("bigint").as("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"),
              posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))

  /** Document frequency per term of a postings frame: one row per
    * (doc, term). */
  private def termDfs(p: DataFrame): DataFrame =
    p.groupBy("term").agg(count(lit(1)).as("df"))

  /** One row (n_docs, total_len) over the distinct documents of a
    * postings frame (`dl` is constant per doc). */
  private def postingsStats(p: DataFrame): DataFrame =
    p.groupBy("doc_id").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
           coalesce(sum(col("dl")), lit(0L)).cast("bigint").as("total_len"))

  /** A frame's rows as a sorted multiset of printed rows. */
  private def rowsOf(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("postings kernel ≡ the groupBy/collect_list formulation: rows and schema") {
    import spark.implicits._
    val texts = Seq[(Long, String)](
      (1L, "to be or not to be to"), (2L, "a  b   c"), (3L, "trailing space "),
      (4L, ""), (5L, null), (6L, "café naïve café 日本 語 ü  ü"), (7L, " lead"),
      (8L, " "))
    val intIds = texts.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text")
    Seq(texts.toDF("doc_id", "text"), intIds, docs).foreach { d =>
      val got = Fts.postings(d, "doc_id", "text")
      assert(got.schema == postingsOracle(d).schema)
      assert(rowsOf(got) == rowsOf(postingsOracle(d)))
      // one pass per document: no exchange, no aggregate
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Aggregate"), plan)
    }
  }

  test("terms.lance and stats.lance equal termDfs/postingsStats of the written postings") {
    val post = spark.read.format("lance").load(s"$idx/postings.lance")
    val terms = spark.read.format("lance").load(s"$idx/terms.lance")
    val stats = spark.read.format("lance").load(s"$idx/stats.lance")
    assert(rowsOf(terms) == rowsOf(termDfs(post)))
    assert(rowsOf(stats) == rowsOf(postingsStats(post)))
    assert(rowsOf(stats) == rowsOf(Fts.corpusStats(docs, "doc_id", "text")))
    // under the cap the vocabulary commits on the driver, as one fragment
    assert(terms.rdd.getNumPartitions == 1)
  }

  test("a vocabulary over the cap takes the DSv2 terms write, same answers") {
    import spark.implicits._
    val ix = java.nio.file.Files.createTempDirectory("fts_vocab").toString + "/ix"
    // 100 docs of 1,000 distinct ~90-byte tokens: a ~13 MiB vocabulary
    val pad = "x" * 80
    val big = (0L until 100L).map(i => (i,
        ((0 until 1000).map(j => s"t${i}_$j$pad") ++ Seq("common", s"tag${i % 5}",
          if (i % 2 == 0) "common" else "odd")).mkString(" ")))
      .toDF("doc_id", "text")
    Fts.buildIndex(big, "doc_id", "text", ix)
    val post = spark.read.format("lance").load(s"$ix/postings.lance")
    val terms = spark.read.format("lance").load(s"$ix/terms.lance")
    // writeTerms' range write: max(8 / 4, 1) = 2 fragments
    assert(terms.rdd.getNumPartitions == 2)
    assert(rowsOf(terms) == rowsOf(termDfs(post)))
    val stats = spark.read.format("lance").load(s"$ix/stats.lance")
    assert(rowsOf(stats) == rowsOf(postingsStats(post)))
    // both arms write one schema
    assert(terms.schema == spark.read.format("lance").load(s"$idx/terms.lance").schema)
    assert(stats.schema == spark.read.format("lance").load(s"$idx/stats.lance").schema)
    val q = Seq("common", "tag3", "odd", s"t5_7$pad")
    val want = Fts.bm25(big, "doc_id", "text", q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(want.nonEmpty)
    assert(Fts.searchPersisted(spark, ix, q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)
  }

  test("fresh session: stats reload from the sidecar, same results") {
    val terms = Seq("customer", "stream")
    val warm = Fts.searchPersisted(spark, idx, terms, 10)
      .collect().map(_.getLong(0)).toSeq
    Fts.clearStatsCache()
    val cold = Fts.searchPersisted(spark, idx, terms, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(warm == cold)
  }

  test("bm25 favors higher tf and rarer terms") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta beta beta gamma"),
      (2L, "alpha delta epsilon zeta eta"),
      (3L, "theta iota kappa lambda mu"),
      (4L, "beta nu xi omicron pi")).toDF("doc_id", "text")
    val r = Fts.bm25(tiny, "doc_id", "text", Seq("beta"), 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 1 (tf=3) above doc 4 (tf=1); docs without the term absent
    assert(r.map(_._1).toSeq == Seq(1L, 4L))
    assert(r(0)._2 > r(1)._2)
  }

  test("phrase match equals a regex check over the token stream") {
    val phrase = Seq("part", "filter")
    val got = Fts.phraseMatch(docs, "doc_id", "text", phrase)
      .collect().map(_.getLong(0)).toSet
    val want = docs.select("doc_id", "text").collect()
      .filter(r => (" " + r.getString(1) + " ").contains(" part filter "))
      .map(_.getLong(0)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture should contain the phrase")
  }

  test("persisted phrase search equals the index-free path, via stored positions") {
    val phrase = Seq("part", "filter")
    val got = Fts.phrasePersisted(spark, idx, phrase)
      .collect().map(_.getLong(0)).toSet
    val want = Fts.phraseMatch(docs, "doc_id", "text", phrase)
      .collect().map(_.getLong(0)).toSet
    assert(got == want && want.nonEmpty)
    // repeated-token phrase: positions must align per occurrence, and the
    // persisted path must agree with a direct token-stream check
    val rep = Fts.phrasePersisted(spark, idx, Seq("the", "the"))
      .collect().map(_.getLong(0)).toSet
    val repWant = docs.select("doc_id", "text").collect()
      .filter(r => r.getString(1).split(" ").sliding(2)
        .exists(w => w.length == 2 && w(0) == "the" && w(1) == "the"))
      .map(_.getLong(0)).toSet
    assert(rep == repWant)
  }

  test("boolean search: must gates, mustNot excludes, scores match bm25") {
    val got = Fts.searchBoolean(spark, idx,
      must = Seq("part"), should = Seq("filter"), mustNot = Seq("stream"),
      k = 1000).collect()
    assert(got.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    got.foreach { r =>
      val toks = texts(r.getLong(0))
      assert(toks.contains("part"), s"doc ${r.getLong(0)} misses must term")
      assert(!toks.contains("stream"), s"doc ${r.getLong(0)} has mustNot term")
    }
    // nothing eligible is missing: every doc with 'part' and no 'stream'
    val want = texts.filter { case (_, t) =>
      t.contains("part") && !t.contains("stream") }.keySet
    assert(got.map(_.getLong(0)).toSet == want)
    // scores equal the plain bm25 ranking over the same scoring terms
    val plain = Fts.searchPersisted(spark, idx, Seq("part", "filter"), 10000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach(r => assert(plain(r.getLong(0)) == r.getDouble(1)))
  }

  test("randomized corpora: bm25 matches an independent in-JVM reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    (1 to 3).foreach { trial =>
      val corpus = (0 until 60).map { id =>
        val n = 3 + rnd.nextInt(12)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val terms = Seq(vocab(rnd.nextInt(vocab.length)),
                      vocab(rnd.nextInt(vocab.length))).distinct
      val got = Fts.bm25(corpus.toDF("doc_id", "text"), "doc_id", "text", terms, 60)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

      // independent reference: plain Scala, same contract
      val toks = corpus.map { case (id, t) => id -> t.split(' ').toSeq }.toMap
      val n = corpus.size.toLong
      val avgdl = toks.values.map(_.size).sum.toDouble / n
      def df(t: String) = toks.values.count(_.contains(t)).toLong
      val want = corpus.flatMap { case (id, _) =>
        val micro = terms.filter(t => toks(id).contains(t)).map { t =>
          val idf8 = BigDecimal(math.log(1.0 + (n.toDouble - df(t) + 0.5) / (df(t) + 0.5)))
            .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
          val tf = toks(id).count(_ == t).toDouble
          val tfw = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks(id).size / avgdl))
          math.floor(idf8 * tfw * 1e6 + 0.5).toLong
        }.sum
        if (micro == 0L) None
        else Some((id, BigDecimal(micro / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.sortBy { case (id, s) => (-s, id) }
      assert(got == want, s"trial $trial terms=$terms")
    }
  }

  test("combined search covers docs appended after the index build") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_comb").toString
    val src = s"$dir/docs.lance"
    Seq((1L, "ant bee cat"), (2L, "cat dog elk"), (3L, "elk fox gnu"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    // appended after the build: one doc rich in a known term, one with a
    // term the vocabulary has never seen
    Seq((10L, "cat cat cat bee"), (11L, "zebra zebra yak"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("append").save(src)

    val stale = Fts.searchPersisted(spark, s"$dir/ix", Seq("cat"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(stale == Set(1L, 2L), "plain probe sees only indexed docs")

    val comb = Fts.searchCombined(spark, s"$dir/ix", src, "doc_id", "text",
      Seq("cat"), 10).select("doc_id").as[Long].collect().toSet
    assert(comb == Set(1L, 2L, 10L), s"tail doc missing: $comb")

    // a term only the tail contains scores at the df->0 max-idf limit
    val zebra = Fts.searchCombined(spark, s"$dir/ix", src, "doc_id", "text",
      Seq("zebra"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(zebra.map(_._1).toSeq == Seq(11L) && zebra.head._2 > 0.0)
  }

  test("declarative rewrite: graft_bm25 ORDER BY ... LIMIT probes the index") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_sql").toString
    val src = s"$dir/docs.lance"
    docs.select("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")

    val q = spark.sql(
      s"SELECT doc_id, graft_bm25(text, 'merge window batch') AS score " +
      s"FROM lance.`$src` ORDER BY score DESC, doc_id LIMIT 20")
    // the substituted plan scans postings, never the corpus text
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("postings.lance"), s"rewrite did not fire:\n$phys")
    assert(!phys.contains("docs.lance"), "corpus scan should be gone")

    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Fts.searchPersisted(spark, s"$dir/ix",
      Seq("merge", "window", "batch"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)

    // no tie-break spelling works too
    val bare = spark.sql(
      s"SELECT doc_id, graft_bm25(text, 'merge window batch') AS score " +
      s"FROM lance.`$src` ORDER BY score DESC LIMIT 20")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bare == want)
  }

  test("declarative rewrite: fresh session re-attaches from the sidecars") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_attach").toString
    val src = s"$dir/docs.lance"
    Seq((1L, "ant bee cat"), (2L, "cat cat dog"), (3L, "elk fox gnu"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    // simulate a fresh session: registry and stats cache both cold
    graft.plans.GraftFts.clear()
    Fts.clearStatsCache()
    val cold = spark.sql(
      s"SELECT doc_id, graft_bm25(text, 'cat') AS score " +
      s"FROM lance.`$src` ORDER BY score DESC, doc_id LIMIT 5")
    // unregistered: the marker fails loudly instead of mis-ranking
    val e = intercept[Exception] { cold.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("graft_bm25")), s"unhelpful error: $e")

    Fts.attachIndex(spark, src, s"$dir/ix")
    val got = spark.sql(
      s"SELECT doc_id, graft_bm25(text, 'cat') AS score " +
      s"FROM lance.`$src` ORDER BY score DESC, doc_id LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 1L))
  }

  test("updateIndex folds the append tail: search ≡ a from-scratch rebuild, bit-identical") {
    import spark.implicits._
    // the update reads, tokenizes and commits the tail on the driver with
    // no job; on the padded twin each appended row carries ~600 KB, so the
    // tail is over LanceLocal.CapBytes and the update runs its DSv2 plan
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("fts_update").toString
      val src = s"$dir/docs.lance"
      (1L to 30L).map(i => (i, s"tok${i % 7} tok${i % 5} cat", s"$i"))
        .toDF("doc_id", "text", "pad")
        .write.format("lance").mode("overwrite").save(src)
      Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
      (31L to 45L).map(i => (i, s"tok${i % 7} cat dog", if (padded) s"$i" + "x" * 630000 else s"$i"))
        .toDF("doc_id", "text", "pad")
        .write.format("lance").mode("append").save(src)
      val (_, jobs) = TestSpark.jobsOf(Fts.updateIndex(spark, src, s"$dir/ix"))
      assert((jobs > 0) == padded, s"padded=$padded: the update ran $jobs jobs")
      // the merged index must answer EXACTLY like an index built fresh at
      // the head version (df merge + stats delta are exact — the scaladoc
      // contract)
      Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix_fresh")
      def top(ix: String) = Fts.searchPersisted(spark, ix,
        Seq("cat", "tok3", "dog"), k = 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(top(s"$dir/ix") == top(s"$dir/ix_fresh"), s"padded=$padded")
      // phrase + boolean paths read the merged postings too
      assert(Fts.phrasePersisted(spark, s"$dir/ix", Seq("cat", "dog"))
        .count() == 15)
    }
  }

  test("fence-aborted partial update: invisible to readers, swept exactly-once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_abort").toString
    val src = s"$dir/docs.lance"
    (1L to 30L).map(i => (i, s"tok${i % 7} tok${i % 5} cat"))
      .toDF("doc_id", "text").write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    def search() = Fts.searchPersisted(spark, s"$dir/ix",
      Seq("cat", "tok3", "dog"), k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search()
    (31L to 45L).map(i => (i, s"tok${i % 7} cat dog")).toDF("doc_id", "text")
      .write.format("lance").mode("append").save(src)
    // simulate a predecessor that fence-aborted AFTER its first two
    // sidecar commits (the advisor scenario): tail postings appended,
    // vocabulary overwritten with the merged dfs — but built.lance (the
    // publish point) never advanced
    val builtV = spark.read.format("lance").load(s"$dir/ix/built.lance")
      .head().getLong(0)
    val tailPost = Fts.postings(
      spark.read.format("lance").option("fromVersion", builtV).load(src),
      "doc_id", "text")
    tailPost.write.format("lance").mode("append")
      .save(s"$dir/ix/postings.lance")
    spark.read.format("lance").load(s"$dir/ix/terms.lance")
      .unionByName(tailPost.groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .write.format("lance").mode("overwrite").save(s"$dir/ix/terms.lance")
    // readers pin the published sidecar versions — the orphan commits are
    // invisible, warm cache or fresh session alike
    assert(search() == before)
    Fts.clearStatsCache()
    assert(search() == before)
    // the real update sweeps the orphan tail and lands exactly-once:
    // bit-identical to an index built fresh at the head version
    Fts.updateIndex(spark, src, s"$dir/ix")
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix_fresh")
    def top(ix: String) = Fts.searchPersisted(spark, ix,
      Seq("cat", "tok3", "dog"), k = 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(s"$dir/ix") == top(s"$dir/ix_fresh"))
    // and the published postings carry NO duplicated (term, doc_id) rows
    val pv = spark.read.format("lance").load(s"$dir/ix/built.lance")
      .head().getAs[Long]("postings_version")
    val dups = spark.read.format("lance").option("versionAsOf", pv)
      .load(s"$dir/ix/postings.lance")
      .groupBy("term", "doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("another process's publish becomes visible with NO cache reset") {
    // round 12 (advisor): the pins cache is keyed by built.lance's head
    // version, so a publish made by a DIFFERENT process — invisible to
    // every in-JVM cache hook — must be picked up by the next read, and
    // a publish-point rollback must re-pin readers to the old sidecar
    // versions. Pre-round-12, pinsOf cached forever (computeIfAbsent)
    // and this test's final assert fails.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_xproc").toString
    val src = s"$dir/docs.lance"
    (1L to 20L).map(i => (i, s"tok${i % 5} cat")).toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    def search() = Fts.searchPersisted(spark, s"$dir/ix",
      Seq("cat", "dog"), k = 40).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val builtSchema = spark.read.format("lance")
      .load(s"$dir/ix/built.lance").schema
    val v1Row = spark.read.format("lance")
      .load(s"$dir/ix/built.lance").collect()
    val before = search() // warm: pins + stats cached at the v1 publish
    (21L to 30L).map(i => (i, s"cat dog extra$i")).toDF("doc_id", "text")
      .write.format("lance").mode("append").save(src)
    Fts.updateIndex(spark, src, s"$dir/ix")
    val after = search()
    assert(after != before, "tail docs must rank after the update")
    // "another process" rolls the publish point back to the v1 pins by
    // overwriting built.lance directly — bypassing every cache hook
    spark.createDataFrame(spark.sparkContext.parallelize(v1Row.toSeq, 1),
        builtSchema)
      .coalesce(1).write.format("lance").mode("overwrite")
      .save(s"$dir/ix/built.lance")
    // next read stats the publish head, sees it advanced, re-pins: the
    // v1 results come back with no clearStatsCache / attachIndex call
    assert(search() == before,
      "a cross-process publish must be visible at the next read")
  }

  test("a held maintenance lock turns a racing index update into a loud refusal") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_lock").toString
    val src = s"$dir/docs.lance"
    Seq((1L, "cat dog")).toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    Seq((2L, "cat elk")).toDF("doc_id", "text")
      .write.format("lance").mode("append").save(src)
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.lance.MaintenanceLock.withLock(s"$dir/ix", conf) {
      val e = intercept[graft.sources.lance.MaintenanceLock.ConcurrentMaintenance] {
        Fts.updateIndex(spark, src, s"$dir/ix")
      }
      assert(e.getMessage.contains("maintainer") ||
        e.getMessage.contains("race"))
    }
    // lock released: the update now proceeds
    Fts.updateIndex(spark, src, s"$dir/ix")
    assert(Fts.searchPersisted(spark, s"$dir/ix", Seq("elk"), k = 5)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("live search masks documents deleted after the build") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_live").toString
    val src = s"$dir/docs.lance"
    Seq((1L, "cat cat cat"), (2L, "cat cat dog"), (3L, "cat elk fox"),
        (4L, "gnu hen ibis"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, "doc_id = 1")

    val stale = Fts.searchPersisted(spark, s"$dir/ix", Seq("cat"), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(stale.contains(1L), "plain probe still surfaces the deleted doc")

    val liveR = Fts.searchPersistedLive(spark, s"$dir/ix", src, "doc_id",
      Seq("cat"), 10)
    val liveIds = liveR.select("doc_id").as[Long].collect().toSeq
    assert(liveIds == Seq(2L, 3L), s"expected deleted doc masked: $liveIds")
    // build-era scores are preserved for the survivors
    val staleScores = Fts.searchPersisted(spark, s"$dir/ix", Seq("cat"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    liveR.collect().foreach { r =>
      assert(r.getDouble(1) == staleScores(r.getLong(0)))
    }
  }

  test("combined+live search handles appends AND deletions since the build") {
    import spark.implicits._
    // on both sides of the driver-local byte cap: the plain corpus is
    // answered on the driver with no job; in the padded one each row
    // carries ~2.5 MB more, so its one 4-row fragment holds more than
    // `LanceLocal.CapBytes` and the face runs its DSv2 plan
    Seq(false, true).foreach { padded =>
      def frame(docs: Seq[(Long, String)]) = {
        val df = docs.toDF("doc_id", "text")
        if (!padded) df
        else df.withColumn("pad", expr("concat(CAST(doc_id AS STRING), repeat('x', 2500000))"))
          .coalesce(1)
      }
      val dir = java.nio.file.Files.createTempDirectory("fts_combl").toString
      val src = s"$dir/docs.lance"
      frame(Seq((1L, "cat cat cat"), (2L, "cat cat dog"), (3L, "cat elk fox"),
          (4L, "gnu hen ibis")))
        .write.format("lance").mode("overwrite").save(src)
      Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
      // after the build: append a strong cat doc AND delete the indexed top hit
      frame(Seq((5L, "cat cat cat cat")))
        .write.format("lance").mode("append").save(src)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, src, "doc_id = 1")

      val (got, jobs) = TestSpark.jobsOf(Fts.searchCombinedLive(spark, s"$dir/ix", src,
        "doc_id", "text", Seq("cat"), 10).as[(Long, Double)].collect().toSeq)
      assert((jobs > 0) == padded, s"padded=$padded ran $jobs jobs")
      val ids = got.map(_._1)
      assert(!ids.contains(1L), s"deleted indexed doc surfaced: $ids")
      assert(ids.contains(5L), s"appended doc missing: $ids")
      assert(ids.sorted == Seq(2L, 3L, 5L), ids.toString)
      // indexed survivors keep their build-era scores (stale-stats contract)
      val stale = Fts.searchPersisted(spark, s"$dir/ix", Seq("cat"), 10)
        .as[(Long, Double)].collect().toMap
      got.filter(_._1 <= 4L).foreach { case (id, score) =>
        assert(score == stale(id), s"doc $id rescored: $score vs ${stale(id)}")
      }
    }
  }

  test("live search returns each doc once when the source holds duplicate ids") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_dup").toString
    val src = s"$dir/docs.lance"
    Seq((1L, "cat cat cat"), (2L, "cat dog"), (3L, "elk fox"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    // a second source row under doc 1's id (update-by-append)
    Seq((1L, "cat cat cat")).toDF("doc_id", "text")
      .write.format("lance").mode("append").save(src)
    val ids = Fts.searchPersistedLive(spark, s"$dir/ix", src, "doc_id",
      Seq("cat"), 10).select("doc_id").as[Long].collect().toSeq
    assert(ids.distinct == ids, s"duplicate source id repeated a candidate: $ids")
    assert(ids == Seq(1L, 2L))
  }

  test("single-token phrase degenerates to containment") {
    val got = Fts.phraseMatch(docs, "doc_id", "text", Seq("merge"))
      .count()
    val want = docs.filter(
      array_contains(split(col("text"), " "), "merge")).count()
    assert(got == want)
  }

  private def builtVersion(ixPath: String): Long = {
    import graft.sources.lance.LanceFormat
    val (fs, p) = LanceFormat.fileSystem(s"$ixPath/built.lance",
      spark.sessionState.newHadoopConf())
    LanceFormat.readManifest(fs,
      LanceFormat.latestManifestPath(fs, p, None)).version
  }

  test("plain rebuild tombstones the publish point: version advances, attach/update refuse") {
    // round 13 (advisor): DELETING built.lance on a plain rebuild reset
    // its version counter to 1, so a remote pins cache keyed at
    // (1, oldPins) would treat a later republish's version-1 head as
    // already-seen and keep stale pins forever. The rebuild now writes a
    // TOMBSTONE row instead: the version strictly advances across the
    // whole rebuild/republish lifecycle.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_tomb").toString
    val src = s"$dir/docs.lance"
    (1L to 20L).map(i => (i, s"tok${i % 5} cat")).toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(src)
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    val v1 = builtVersion(s"$dir/ix")
    // plain-path rebuild over the SAME index path, different corpus
    val docs2 = (1L to 25L).map(i => (i, s"tok${i % 7} dog"))
      .toDF("doc_id", "text")
    Fts.buildIndex(docs2, "doc_id", "text", s"$dir/ix")
    val v2 = builtVersion(s"$dir/ix")
    assert(v2 > v1, s"tombstone must advance the publish version: $v1 -> $v2")
    // unpinned head reads serve the REBUILT corpus, equal to index-free
    val direct = Fts.bm25(docs2, "doc_id", "text", Seq("dog"), 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIdx = Fts.searchPersisted(spark, s"$dir/ix", Seq("dog"), 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx == direct)
    // lance-attached operations need the retired source metadata: refuse
    intercept[IllegalArgumentException] {
      Fts.updateIndex(spark, src, s"$dir/ix")
    }
    intercept[IllegalArgumentException] {
      Fts.attachIndex(spark, src, s"$dir/ix")
    }
    // republish: the version keeps advancing, pinned reads resume
    Fts.buildIndexLance(spark, src, "doc_id", "text", s"$dir/ix")
    assert(builtVersion(s"$dir/ix") > v2)
    val repub = Fts.searchPersisted(spark, s"$dir/ix", Seq("cat"), 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val directSrc = Fts.bm25(spark.read.format("lance").load(src),
        "doc_id", "text", Seq("cat"), 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(repub == directSrc)
  }

  test("pinless index: a cross-process stats publish invalidates cached stats") {
    // round 13 (advisor): a plain-build index has no publish point, so
    // the stats cache keyed on Option[Pins] compared None == None and a
    // cross-process rebuild never invalidated it. Pinless entries now key
    // on stats.lance's own head version.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fts_pinless").toString
    val ixp = s"$dir/ix"
    val docs1 = (1L to 20L).map(i => (i, s"tok${i % 5} cat"))
      .toDF("doc_id", "text")
    Fts.buildIndex(docs1, "doc_id", "text", ixp)
    def search() = Fts.searchPersisted(spark, ixp, Seq("cat"), 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search() // warm: stats cached
    // "another process" republishes stats.lance directly, bypassing every
    // in-JVM cache hook: double n_docs (same avgdl) shifts every idf
    val st = spark.read.format("lance").load(s"$ixp/stats.lance").head()
    spark.createDataFrame(Seq((st.getLong(0) * 2, st.getLong(1) * 2)))
      .toDF("n_docs", "total_len")
      .coalesce(1).write.format("lance").mode("overwrite")
      .save(s"$ixp/stats.lance")
    val after = search()
    assert(after != before,
      "a cross-process stats publish must invalidate the pinless stats cache")
  }
}
