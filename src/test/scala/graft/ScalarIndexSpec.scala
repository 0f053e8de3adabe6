package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ScalarIndex
import graft.sources.lance.{FlakyAbstractFs, FlakyFs}

/** Scalar (BTREE-analogue) index: sorted (key, addr) lance sidecar →
  * zone-pruned probe → _rowaddr take fetch. l11 oracles the values; these
  * tests pin the mechanics.
  */
class ScalarIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The fixture's columns over `id`; `padded` adds ~2 KB per row, so a
    * 5,000-row fragment holds more than `LanceLocal.CapBytes` and a face
    * that reads it runs its DSv2 plan instead of the driver-local one. */
  private def columns(padded: Boolean): Seq[String] =
    Seq("id AS k", "CAST(id % 7 AS STRING) AS tag", "CAST(id AS DOUBLE) * 1.5 AS v") ++
      (if (padded) Seq("concat(CAST(id AS STRING), repeat('x', 2000)) AS pad") else Nil)

  private def freshDs(padded: Boolean = false): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("sidx").toString
    val ds  = s"$dir/base.lance"
    val ix  = s"$dir/idx.lance"
    // write UNSORTED in key so only the index can localize a key
    spark.range(20000)
      .selectExpr(columns(padded): _*)
      .orderBy(expr("hash(id)"))
      .repartition(4)
      .write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.build(spark, ds, "k", ix)
    (ds, ix)
  }

  test("point lookup equals a plain filter; range lookup too") {
    val (ds, ix) = freshDs()
    val keys = Seq(3L, 777L, 19999L)
    val got = ScalarIndex.lookup(spark, ds, ix, keys)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == keys.map(k => (k, k * 1.5)).toSet)
    val rng = ScalarIndex.lookupRange(spark, ds, ix, 500L, 520L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rng == (500L until 520L).toSet)
  }

  test("index probe prunes to a fragment subset at plan time") {
    val (_, ix) = freshDs()
    val probe = spark.read.format("lance").load(s"$ix/keys.lance")
    val full = probe.rdd.getNumPartitions
    val pt = probe.filter(col("key") === 777L).rdd.getNumPartitions
    assert(full >= 4, s"expected multi-fragment index, got $full")
    assert(pt < full, s"point probe should prune: planned $pt of $full")
  }

  test("large lookup plans as interval cover + membership kernel, not a literal In") {
    val (ds, ix) = freshDs()
    // 5k-key range lookup: the old take path built a 5k-literal isin —
    // the new one ships a <=256-interval cover via the addrRanges option
    // and keeps exactness in the binary-searched membership kernel
    val df = ScalarIndex.lookupRange(spark, ds, ix, 1000L, 6000L, maxRows = 100000)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("longinsortedarray") || plan.contains("LongInSortedArray"),
      s"membership kernel missing:\n${plan.take(2000)}")
    assert(!plan.contains(" IN ("), s"literal In leaked into the plan")
    assert(plan.length < 20000,
      s"plan string blew up (${plan.length} chars) — literals leaked")
    // and the results are exactly the range
    assert(df.select("k").collect().map(_.getLong(0)).toSet ==
      (1000L until 6000L).toSet)
    // interval cover: exact when small, coverage-optimal split when large
    val small = ScalarIndex.intervalCover(Array(1L, 2L, 9L), 256)
    assert(small.toSeq == Seq((1L, 1L), (2L, 2L), (9L, 9L)))
    val two = ScalarIndex.intervalCover((1L to 100L).toArray ++ Array(5000L), 2)
    assert(two.toSeq == Seq((1L, 100L), (5000L, 5000L)))
  }

  test("deleted rows are masked, not resurrected, through a stale index") {
    val (ds, ix) = freshDs()
    graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, "k >= 10000")
    val got = ScalarIndex.lookup(spark, ds, ix, Seq(5L, 15000L))
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L), s"stale addr must fetch nothing, got $got")
  }

  test("oversized lookup fails loudly instead of collecting a scan") {
    val (ds, ix) = freshDs()
    intercept[IllegalArgumentException] {
      ScalarIndex.lookupRange(spark, ds, ix, 0L, 20000L, maxRows = 100)
    }
  }

  test("combined lookup covers rows appended after the index build") {
    // on both sides of the driver-local byte cap: the plain fixture is
    // answered on the driver with no job, the padded one by the DSv2 plan
    Seq(false, true).foreach { padded =>
      val (ds, ix) = freshDs(padded)
      spark.range(20000, 20050).selectExpr(columns(padded): _*)
        .write.format("lance").mode("append").save(ds)
      // plain lookup misses the appended key; combined finds it
      val plain = ScalarIndex.lookup(spark, ds, ix, Seq(3L, 20010L))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(plain == Set(3L))
      def combined(): Set[Long] = {
        val (got, jobs) = TestSpark.jobsOf(
          ScalarIndex.lookupCombined(spark, ds, ix, Seq(3L, 20010L))
            .select("k").collect().map(_.getLong(0)).toSet)
        assert((jobs > 0) == padded, s"padded=$padded ran $jobs jobs")
        got
      }
      assert(combined() == Set(3L, 20010L), s"padded=$padded")
      // deletes after build are masked on the combined path too
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, "k = 3")
      assert(combined() == Set(20010L), s"padded=$padded")
    }
  }

  test("label-list index: any-label lookup equals arrays_overlap, deduped") {
    val dir = java.nio.file.Files.createTempDirectory("sidx_lbl").toString
    val ds  = s"$dir/base.lance"
    val ix  = s"$dir/lbl.lance"
    spark.range(5000)
      .selectExpr("id AS k",
        "array(concat('t', id % 11), concat('t', id % 7), concat('t', (id + 3) % 11)) AS tags")
      .repartition(4)
      .write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.buildLabels(spark, ds, "tags", ix)
    val got = ScalarIndex.lookupAnyLabel(spark, ds, ix, Seq("t3", "t5"))
      .select("k").collect().map(_.getLong(0)).toSet
    val want = spark.read.format("lance").load(ds)
      .filter(arrays_overlap(col("tags"), typedlit(Seq("t3", "t5"))))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == want && want.nonEmpty)
    // a row matching BOTH labels fetches once (distinct addrs)
    val both = ScalarIndex.lookupAnyLabel(spark, ds, ix, Seq("t3"))
    assert(both.count() == both.select("k").distinct().count())
  }

  test("empty lookup returns an empty frame with the base schema") {
    val (ds, ix) = freshDs()
    val r = ScalarIndex.lookup(spark, ds, ix, Seq(-5L))
    assert(r.columns.toSeq == Seq("k", "tag", "v"))
    assert(r.count() == 0)
  }

  test("bitmap index: OR within an index, AND across indexes, vs filters") {
    val dir = java.nio.file.Files.createTempDirectory("sidx_bm").toString
    val ds  = s"$dir/base.lance"
    spark.range(30000)
      .selectExpr("id AS k", "CAST(id % 5 AS STRING) AS a",
                  "id % 13 AS b")
      .orderBy(expr("hash(id)")).repartition(4)
      .write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.buildBitmap(spark, ds, "a", s"$dir/ixa")
    ScalarIndex.buildBitmap(spark, ds, "b", s"$dir/ixb")
    val base = spark.read.format("lance").load(ds)
    // single-index OR probe
    val or = ScalarIndex.lookupBitmap(spark, ds, s"$dir/ixa", Seq("1", "4"))
      .select("k").collect().map(_.getLong(0)).toSet
    val orWant = base.filter(col("a").isin("1", "4"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(or == orWant && or.nonEmpty)
    // conjunction across two indexes, bitmaps intersected per fragment
    val and = ScalarIndex.lookupBitmapAnd(spark, ds,
        s"$dir/ixa", Seq("2"), s"$dir/ixb", Seq(3L, 7L))
      .select("k").collect().map(_.getLong(0)).toSet
    val andWant = base.filter(col("a") === "2" && col("b").isin(3L, 7L))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(and == andWant && and.nonEmpty)
  }

  test("bitmap index masks rows deleted after the build") {
    val dir = java.nio.file.Files.createTempDirectory("sidx_bmd").toString
    val ds  = s"$dir/base.lance"
    spark.range(8000).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS a")
      .repartition(2).write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.buildBitmap(spark, ds, "a", s"$dir/ixa")
    graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, "k >= 4000")
    val got = ScalarIndex.lookupBitmap(spark, ds, s"$dir/ixa", Seq("1"))
      .select("k").collect().map(_.getLong(0))
    assert(got.nonEmpty && got.forall(_ < 4000L))
  }

  test("ngram index: contains lookup equals the LIKE scan, verified exact") {
    val dir = java.nio.file.Files.createTempDirectory("sidx_ng").toString
    val ds  = s"$dir/base.lance"
    spark.range(4000)
      .selectExpr("id AS k",
        "concat('alpha ', CASE WHEN id % 17 = 0 THEN 'needle in hay' " +
          "WHEN id % 29 = 0 THEN 'need leeway' ELSE 'plain text' END, " +
          "' omega ', id) AS t")
      .repartition(3).write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.buildNgram(spark, ds, "t", s"$dir/ng")
    val got = ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "needle in")
      .select("k").collect().map(_.getLong(0)).toSet
    val want = spark.read.format("lance").load(ds)
      .filter(col("t").contains("needle in"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // 'need leeway' posts 'nee'/'eed' but not the adjacency — it must be
    // filtered by the verify step, not returned as a false positive
    assert(!got.exists(_ % 29 == 0) || got.forall(k => k % 17 == 0 || k % 29 != 0))
    // short needles fall back to a pushed filter scan (no index probe)
    val short = ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "ha")
    assert(short.count() > 0)
  }

  /** The `pad` column of an appended tail of `n` rows over `id`: on the
    * padded twin the tail holds ~9 MiB, more than `LanceLocal.CapBytes`,
    * so an update reading it runs its DSv2 plan; otherwise a few bytes,
    * and the update runs on the driver with no job. */
  private def tailPad(padded: Boolean, n: Int): String =
    if (padded) s"concat(CAST(id AS STRING), repeat('x', ${(9 << 20) / n})) AS pad"
    else "CAST(id AS STRING) AS pad"

  /** `update`'s result, asserting it ran on the side of the cap its twin
    * is on. */
  private def onSide[A](padded: Boolean)(update: => A): A = {
    val (out, jobs) = TestSpark.jobsOf(update)
    assert((jobs > 0) == padded, s"padded=$padded: the update ran $jobs jobs")
    out
  }

  test("bitmap and ngram indexes cover appends via incremental update") {
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("sidx_upd").toString
      val ds  = s"$dir/base.lance"
      spark.range(3000).selectExpr("id AS k", "CAST(id % 4 AS STRING) AS a",
          "concat('text ', id % 4, ' tail') AS t", "CAST(id AS STRING) AS pad")
        .repartition(2).write.format("lance").mode("overwrite").save(ds)
      ScalarIndex.buildBitmap(spark, ds, "a", s"$dir/bm")
      ScalarIndex.buildNgram(spark, ds, "t", s"$dir/ng")
      spark.range(3000, 3200).selectExpr("id AS k", "'9' AS a",
          "concat('freshly appended ', id) AS t", tailPad(padded, 200))
        .write.format("lance").mode("append").save(ds)
      // pre-update: the appended rows are invisible to both indexes
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("9")).count() == 0)
      assert(ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "freshly")
        .count() == 0)
      onSide(padded)(ScalarIndex.updateBitmap(spark, ds, s"$dir/bm"))
      onSide(padded)(ScalarIndex.updateNgram(spark, ds, s"$dir/ng"))
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("9")).count() == 200)
      assert(ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "freshly")
        .count() == 200)
      // old keys still resolve after the incremental append
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("1")).count() == 750)
      // idempotent when already at head
      assert(ScalarIndex.updateBitmap(spark, ds, s"$dir/bm") ==
             ScalarIndex.updateBitmap(spark, ds, s"$dir/bm"))
    }
  }

  test("bitmap/ngram fence-aborted partial updates: orphan invisible, swept exactly-once") {
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("sidx_abort2").toString
      val ds  = s"$dir/base.lance"
      spark.range(2000).selectExpr("id AS k", "CAST(id % 4 AS STRING) AS a",
          "concat('text ', id % 4, ' tail') AS t", "CAST(id AS STRING) AS pad")
        .repartition(2).write.format("lance").mode("overwrite").save(ds)
      ScalarIndex.buildBitmap(spark, ds, "a", s"$dir/bm")
      ScalarIndex.buildNgram(spark, ds, "t", s"$dir/ng")
      spark.range(2000, 2100).selectExpr("id AS k", "'9' AS a",
          "concat('freshly appended ', id) AS t", tailPad(padded, 100))
        .write.format("lance").mode("append").save(ds)
      val pre = ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("1")).count()
      // simulate predecessors that fence-aborted after their data-sidecar
      // appends but before the meta publish (the advice's duplicate
      // addr/gram scenario): re-append copies of existing rows — exactly
      // the double-append corruption the old code produced
      spark.read.format("lance").load(s"$dir/bm/bitmaps.lance").limit(5)
        .write.format("lance").mode("append").save(s"$dir/bm/bitmaps.lance")
      spark.read.format("lance").load(s"$dir/ng/keys.lance").limit(50)
        .write.format("lance").mode("append").save(s"$dir/ng/keys.lance")
      // pinned readers never see the orphans
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("1")).count() == pre)
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("9")).count() == 0)
      assert(ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "freshly")
        .count() == 0)
      // real updates sweep the orphans and land the tail exactly once
      onSide(padded)(ScalarIndex.updateBitmap(spark, ds, s"$dir/bm"))
      onSide(padded)(ScalarIndex.updateNgram(spark, ds, s"$dir/ng"))
      assert(ScalarIndex.lookupBitmap(spark, ds, s"$dir/bm", Seq("9")).count() == 100)
      assert(ScalarIndex.lookupContains(spark, ds, s"$dir/ng", "t", "freshly")
        .count() == 100)
      // no duplicated rows at the published versions
      def dups(ix: String, sidecar: String, cols: Seq[String]): Long = {
        val pv = spark.read.format("lance").load(s"$ix/meta.lance")
          .head().getAs[Long]("data_version")
        spark.read.format("lance").option("versionAsOf", pv)
          .load(s"$ix/$sidecar.lance")
          .groupBy(cols.map(col): _*).count().filter(col("count") > 1).count()
      }
      assert(dups(s"$dir/bm", "bitmaps", Seq("key", "frag")) == 0L)
      assert(dups(s"$dir/ng", "keys", Seq("key", "addr")) == 0L)
    }
  }

  test("fence-aborted partial update: orphan tail invisible, next update exactly-once") {
    Seq(false, true).foreach { padded =>
      val dir = java.nio.file.Files.createTempDirectory("sidx_abort").toString
      val ds  = s"$dir/base.lance"
      val ix  = s"$dir/idx.lance"
      spark.range(100).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id AS STRING) AS pad")
        .write.format("lance").mode("overwrite").save(ds)
      ScalarIndex.build(spark, ds, "k", ix)
      spark.range(100, 150).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v", tailPad(padded, 50))
        .write.format("lance").mode("append").save(ds)
      // simulate a predecessor that fence-aborted AFTER its keys append but
      // BEFORE the meta publish: the same tail the real updater will write
      spark.read.format("lance").option("fromVersion", 1L).load(ds)
        .select(col("k").as("key"), col("_rowaddr").as("addr"))
        .write.format("lance").mode("append").save(s"$ix/keys.lance")
      // readers pin the published data_version: the orphan rows are invisible
      assert(ScalarIndex.lookup(spark, ds, ix, Seq(120L)).count() == 0)
      // the real update sweeps the orphan and lands the tail exactly once
      onSide(padded)(ScalarIndex.update(spark, ds, ix))
      val got = ScalarIndex.lookup(spark, ds, ix, Seq(120L, 3L))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(3L, 120L))
      // no duplicated (key, addr) rows in the published index data
      val pv = spark.read.format("lance").load(s"$ix/meta.lance")
        .head().getAs[Long]("data_version")
      val dups = spark.read.format("lance").option("versionAsOf", pv)
        .load(s"$ix/keys.lance")
        .groupBy("key", "addr").count().filter(col("count") > 1).count()
      assert(dups == 0L)
    }
  }

  /** A fresh directory on the `flakyfs://` scheme ([[FlakyFs]]). */
  private def flakyDir(prefix: String): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.flakyfs.impl", classOf[FlakyFs].getName)
    hc.set("fs.AbstractFileSystem.flakyfs.impl", classOf[FlakyAbstractFs].getName)
    s"flakyfs://${java.nio.file.Files.createTempDirectory(prefix)}"
  }

  private def failingOn[A](sub: String)(body: => A): A = {
    FlakyFs.failing = sub
    try body finally FlakyFs.failing = null
  }

  test("transient meta-read failure serves last-known pins, never an orphan tail") {
    import spark.implicits._
    val dir = flakyDir("sidx_flaky")
    val ds  = s"$dir/base.lance"
    val ix  = s"$dir/idx.lance"
    (0L until 100L).map(i => (i, i * 1.5)).toDF("k", "v")
      .write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.build(spark, ds, "k", ix)
    (100L until 150L).map(i => (i, i * 1.5)).toDF("k", "v")
      .write.format("lance").mode("append").save(ds)
    assert(ScalarIndex.lookup(spark, ds, ix, Seq(3L)).count() == 1)
    // a fence-aborted predecessor's orphan tail past the published pin
    spark.read.format("lance").option("fromVersion", 1L).load(ds)
      .select(col("k").as("key"), col("_rowaddr").as("addr"))
      .write.format("lance").mode("append").save(s"$ix/keys.lance")
    failingOn("meta.lance") {
      assert(ScalarIndex.lookup(spark, ds, ix, Seq(120L)).count() == 0)
      assert(ScalarIndex.lookup(spark, ds, ix, Seq(3L)).count() == 1)
    }
  }

  test("a never-read index with a failing publish-point read throws") {
    import spark.implicits._
    import graft.operators.{Fts, Similarity}
    val dir = flakyDir("sidx_flaky_cold")
    val ds  = s"$dir/base.lance"
    (0L until 300L).map(i => (i, s"tok${i % 7} cat",
        Array.tabulate(8)(d => ((i * 31 + d * 17) % 13).toFloat - 6f)))
      .toDF("k", "text", "emb")
      .write.format("lance").mode("overwrite").save(ds)
    ScalarIndex.build(spark, ds, "k", s"$dir/bt")
    Fts.buildIndexLance(spark, ds, "k", "text", s"$dir/fts")
    Similarity.ivfPqBuildPersistLance(spark, ds, "k", "emb", 4, s"$dir/ivf")
    // a fresh process: nothing read yet, so no last-known record to serve
    Fts.clearStatsCache()
    Similarity.clearIndexCaches()
    failingOn("meta.lance") {
      intercept[java.io.IOException] {
        ScalarIndex.lookup(spark, ds, s"$dir/bt", Seq(3L)).collect()
      }
      intercept[java.io.IOException] {
        Similarity.ivfPqSearchCombinedLive(spark, s"$dir/ivf", ds, "k", "emb",
          Seq.fill(8)(1f), 5).collect()
      }
    }
    failingOn("built.lance") {
      intercept[java.io.IOException] {
        Fts.searchPersisted(spark, s"$dir/fts", Seq("cat"), 5).collect()
      }
    }
  }

  test("interval cover + range-set pruning agree with naive membership under fuzz") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 50) {
      val n = 1 + rnd.nextInt(500)
      val addrs = Array.fill(n)(rnd.nextLong().abs % 1000000L).sorted.distinct
      val maxIv = 1 + rnd.nextInt(16)
      val cover = ScalarIndex.intervalCover(addrs, maxIv)
      assert(cover.length <= maxIv, s"trial $trial: ${cover.length} > $maxIv")
      // sorted, disjoint, and every addr is covered
      cover.sliding(2).foreach {
        case Array((_, h1), (l2, _)) => assert(h1 < l2)
        case _ =>
      }
      assert(addrs.forall(a => cover.exists { case (l, h) => a >= l && a <= h }))
      // AddrRangeSet.mayMatch is conservative-exact vs a naive scan over
      // random [start, start+rows) windows
      val bounds = cover.flatMap { case (l, h) => Seq(l, h) }
      val rs = graft.sources.lance.AddrRangeSet(bounds)
      for (_ <- 0 until 40) {
        val start = rnd.nextLong().abs % 1000000L
        val rows = 1L + rnd.nextInt(5000)
        val naive = cover.exists { case (l, h) => l < start + rows && h >= start }
        assert(rs.mayMatch(start, rows) == naive,
          s"trial $trial: window [$start, ${start + rows}) disagreed")
      }
    }
  }
}
