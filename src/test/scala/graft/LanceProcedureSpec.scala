package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL CALL procedures over the lance maintenance surface. */
class LanceProcedureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkDs(): String = {
    val ds = java.nio.file.Files.createTempDirectory("graft-proc").toString + "/t.lance"
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4).write.format("lance").mode("overwrite").save(ds)
    (101L to 120L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.format("lance").mode("append").save(ds)
    ds
  }

  test("versions / compact / restore round-trip through CALL") {
    val ds = mkDs()
    val vs = spark.sql(s"CALL lance.versions('$ds')")
      .as[(Long, Int, Long)].collect()
    assert(vs.map(_._1).toSeq == Seq(1L, 2L))
    assert(vs.last._3 == 120L)

    val v3 = spark.sql(s"CALL lance.compact('$ds', 1)").as[Long].head()
    assert(v3 == 3L)
    assert(spark.read.format("lance").load(ds).count() == 120)
    // compaction to one fragment
    val after = spark.sql(s"CALL lance.versions('$ds')").as[(Long, Int, Long)].collect()
    assert(after.last == ((3L, 1, 120L)))

    val v4 = spark.sql(s"CALL lance.restore('$ds', 1)").as[Long].head()
    assert(v4 == 4L)
    assert(spark.read.format("lance").load(ds).count() == 100)
  }

  test("tags and vacuum through CALL, named arguments") {
    val ds = mkDs()
    val tagged = spark.sql(s"CALL lance.create_tag('$ds', 'gold', 1)").as[Long].head()
    assert(tagged == 1L)
    val tags = spark.sql(s"CALL lance.tags('$ds')").as[(String, Long)].collect()
    assert(tags.toSeq == Seq(("gold", 1L)))
    // vacuum with named args keeps the tagged version readable
    spark.sql(s"CALL lance.vacuum(t => '$ds', keep_versions => 1, older_than_ms => 0)")
    assert(spark.read.format("lance").option("tagAsOf", "gold").load(ds).count() == 100)
    assert(spark.sql(s"CALL lance.delete_tag('$ds', 'gold')").as[Boolean].head())
    assert(spark.sql(s"CALL lance.tags('$ds')").count() == 0)
  }

  test("warehouse-named tables resolve in procedures") {
    val dir = java.nio.file.Files.createTempDirectory("graft-proc-wh").toString
    spark.conf.set("spark.sql.catalog.ldbp", "graft.sources.lance.LanceCatalog")
    spark.conf.set("spark.sql.catalog.ldbp.warehouse", dir)
    spark.sql("CREATE TABLE ldbp.pt AS SELECT 1L AS id")
    spark.sql("INSERT INTO ldbp.pt SELECT 2L")
    val vs = spark.sql("CALL ldbp.versions('pt')").as[(Long, Int, Long)].collect()
    assert(vs.map(_._1).toSeq == Seq(1L, 2L) && vs.last._3 == 2L)
    spark.sql("CALL ldbp.compact('pt', 1)")
    assert(spark.sql("SELECT * FROM ldbp.pt").count() == 2)
  }

  test("describe reports the layout card") {
    val ds = java.nio.file.Files.createTempDirectory("graft-desc").toString + "/t.lance"
    (0 until 600).map(i => (i % 5, i.toLong, s"v$i")).toDF("p", "k", "v")
      .write.format("lance").option("partitionBy", "p").option("sortBy", "k")
      .mode("overwrite").save(ds)
    val d = spark.sql(s"CALL lance.describe('$ds')").head()
    assert(d.getLong(0) == 1L)          // version
    assert(d.getInt(1) == 5)            // one fragment per partition value
    assert(d.getLong(2) == 600L)        // live rows
    assert(d.getLong(3) == 0L)          // deleted
    assert(d.getString(4) == "p")       // partition cols
    assert(d.getString(5) == "p,k")     // sort cols
    assert(d.getBoolean(6))             // reportable
    assert(!d.getBoolean(7))            // no stable ids
    // an unpartitioned append flips reportable off, count reflects it
    Seq((1, 999L, "x")).toDF("p", "k", "v")
      .write.format("lance").mode("append").save(ds)
    val d2 = spark.sql(s"CALL lance.describe('$ds')").head()
    assert(d2.getLong(2) == 601L && !d2.getBoolean(6))
    assert(d2.getString(4) == "p") // declared layout survives
  }

  test("update and merge_insert through CALL") {
    val ds = mkDs() // ids 1..120
    val v = spark.sql(
      s"CALL lance.update('$ds', 'id <= 10', 'v = concat(v, ''!''), id = id + 1000')")
      .as[Long].head()
    assert(v >= 3L)
    val after = spark.read.format("lance").load(ds)
    assert(after.count() == 120)
    assert(after.filter("id > 1000").count() == 10)
    assert(after.filter("v = 'v3!'").select("id").as[Long].head() == 1003L)
    // upsert: 2 updates + 1 insert by key
    Seq((11L, "UPDATED"), (12L, "UPDATED"), (999L, "NEW")).toDF("id", "v")
      .createOrReplaceTempView("merge_src")
    spark.sql(s"CALL lance.merge_insert('$ds', 'merge_src', 'id')")
    val m = spark.read.format("lance").load(ds)
    assert(m.count() == 121)
    assert(m.filter("v = 'UPDATED'").select("id").as[Long].collect().toSet == Set(11L, 12L))
    assert(m.filter("id = 999").select("v").as[String].head() == "NEW")
  }

  test("matview create/refresh through CALL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-proc-mv").toString
    val src = s"$dir/src.lance"; val mv = s"$dir/mv.lance"
    (1L to 50L).map(i => (i, s"g${i % 4}", i * 2L)).toDF("id", "grp", "n")
      .write.format("lance").option("stableRowIds", "true")
      .mode("overwrite").save(src)
    val v1 = spark.sql(
      s"CALL lance.create_matview('$mv', '$src', 'grp', 'n')").as[Long].head()
    assert(v1 == 1L)
    (51L to 60L).map(i => (i, "g9", i)).toDF("id", "grp", "n")
      .write.format("lance").mode("append").save(src)
    val v2 = spark.sql(s"CALL lance.refresh_matview('$mv')").as[Long].head()
    assert(v2 == 2L)
    val got = spark.read.format("lance").load(mv)
      .filter($"grp" === "g9").select("cnt", "sum_n")
      .as[(Long, Long)].head()
    assert(got == ((10L, (51L to 60L).sum)))

    // status: fresh view -> not stale, zero pending
    val fresh = spark.sql(s"CALL lance.matview_status('$mv')").head()
    assert(fresh.getString(0) == src && fresh.getLong(1) == 2L &&
      fresh.getLong(2) == 2L && !fresh.getBoolean(3) && fresh.getLong(4) == 0L)
    // churn the source: status reports staleness + a metadata-exact
    // pending estimate (3 appended rows) without scanning anything
    (61L to 63L).map(i => (i, "g9", i)).toDF("id", "grp", "n")
      .write.format("lance").mode("append").save(src)
    val stale = spark.sql(s"CALL lance.matview_status('$mv')").head()
    assert(stale.getLong(1) == 2L && stale.getLong(2) == 3L &&
      stale.getBoolean(3) && stale.getLong(4) == 3L,
      s"unexpected status row: $stale")
    // a compaction makes the estimate unknowable from metadata -> NULL
    graft.sources.lance.LanceMaintenance.compactStable(spark, src,
      targetFragments = 1)
    val comp = spark.sql(s"CALL lance.matview_status('$mv')").head()
    assert(comp.getBoolean(3) && comp.isNullAt(4),
      s"post-compaction estimate should be NULL: $comp")
  }

  test("ndv sketch through CALL: builds then refreshes the sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-proc-ndv").toString
    val ds = s"$dir/t.lance"; val ix = s"$dir/t_ndv"
    (1L to 4000L).toDF("v").repartition(2)
      .write.format("lance").mode("overwrite").save(ds)
    val est1 = spark.sql(s"CALL lance.ndv('$ds', 'v', '$ix')").as[Long].head()
    assert(math.abs(est1 - 4000.0) / 4000.0 < 0.05, s"est $est1")
    (4001L to 6000L).toDF("v").coalesce(1)
      .write.format("lance").mode("append").save(ds)
    val est2 = spark.sql(s"CALL lance.ndv('$ds', 'v', '$ix')").as[Long].head()
    assert(math.abs(est2 - 6000.0) / 6000.0 < 0.05, s"est $est2")
  }

  test("stats exposes per-fragment zone maps; verify reports ok and finds damage") {
    val ds = mkDs()
    val st = spark.sql(s"CALL lance.stats('$ds', 'id')")
      .as[(Long, Long, Long, Option[Double], Option[Double])].collect()
    assert(st.nonEmpty)
    assert(st.map(_._2).sum == 120L) // physical rows across fragments
    // recorded ranges cover the data and are consistent
    st.foreach { case (_, _, _, mn, mx) =>
      assert(mn.isDefined && mx.isDefined && mn.get <= mx.get)
    }
    assert(st.map(_._4.get).min == 1.0 && st.map(_._5.get).max == 120.0)

    val ok = spark.sql(s"CALL lance.verify('$ds')")
      .as[(String, String)].collect()
    assert(ok.length == 1 && ok.head._1 == "ok", ok.toSeq.toString)

    // damage: remove one data file → verify reports it
    val dataDir = new java.io.File(s"$ds/data")
    val victim = dataDir.listFiles().filter(_.getName.endsWith(".lance")).head
    assert(victim.delete())
    val bad = spark.sql(s"CALL lance.verify('$ds')")
      .as[(String, String)].collect()
    assert(bad.exists(_._1 == "missing_data_file"), bad.toSeq.toString)
  }

  test("optimize is a no-op on healthy layouts and compacts fragmented ones") {
    val ds = java.nio.file.Files.createTempDirectory("graft-proc-opt").toString + "/t.lance"
    (1L to 50L).toDF("v").coalesce(1)
      .write.format("lance").mode("overwrite").save(ds)
    val first = spark.sql(s"CALL lance.optimize('$ds', 1000)")
      .as[(String, Long, Int)].head()
    assert(first._1 == "noop")
    // fragment the dataset with many tiny appends
    (1 to 8).foreach(i => Seq(i.toLong + 100).toDF("v").coalesce(1)
      .write.format("lance").mode("append").save(ds))
    val second = spark.sql(s"CALL lance.optimize('$ds', 1000)")
      .as[(String, Long, Int)].head()
    assert(second._1 == "compacted" && second._3 == 1, second.toString)
    assert(spark.read.format("lance").load(ds).count() == 58)
    val third = spark.sql(s"CALL lance.optimize('$ds', 1000)")
      .as[(String, Long, Int)].head()
    assert(third._1 == "noop")
  }

  test("diff summarizes the change feed between versions") {
    val ds = java.nio.file.Files.createTempDirectory("graft-proc-diff").toString + "/t.lance"
    (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.format("lance").option("stableRowIds", "true")
      .mode("overwrite").save(ds)
    graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, "id > 25")
    (31L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.format("lance").mode("append").save(ds)
    val (ins, del) = spark.sql(s"CALL lance.diff('$ds', 1, 3)")
      .as[(Long, Long)].head()
    assert((ins, del) == ((10L, 5L)))
  }

  test("dedup_exact keeps the min-id survivor per key and writes lance") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-dedup").toString
    val ds = s"$base/docs.lance"
    Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"),
        (4L, "alpha beta"), (5L, "epsilon"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(ds)
    val out = s"$base/deduped.lance"
    val (rowsIn, kept) = spark.sql(
      s"CALL lance.dedup_exact('$ds', 'text', 'doc_id', '$out')")
      .as[(Long, Long)].head()
    assert((rowsIn, kept) == ((5L, 3L)))
    val survivors = spark.read.format("lance").load(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 3L, 5L)) // min id per distinct text
  }

  test("dedup procedures refuse out == t (in-place overwrite)") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-inplace").toString
    val ds = s"$base/docs.lance"
    Seq((1L, "alpha"), (2L, "alpha")).toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(ds)
    val e1 = intercept[Exception] {
      spark.sql(s"CALL lance.dedup_exact('$ds', 'text', 'doc_id', '$ds')").collect()
    }
    assert((e1.getMessage + String.valueOf(e1.getCause)).contains("must differ"))
    val e2 = intercept[Exception] {
      spark.sql(s"CALL lance.dedup_minhash('$ds', 'doc_id', 'text', '$ds')").collect()
    }
    assert((e2.getMessage + String.valueOf(e2.getCause)).contains("must differ"))
    // an aliased spelling of the same path ('..' segment) must not bypass
    // the guard — the URIs normalize before comparing
    val e3 = intercept[Exception] {
      spark.sql(
        s"CALL lance.dedup_exact('$ds', 'text', 'doc_id', '$base/x/../docs.lance')")
        .collect()
    }
    assert((e3.getMessage + String.valueOf(e3.getCause)).contains("must differ"))
    // out nested INSIDE the dataset dir pollutes (and a later overwrite
    // clobbers) the dataset being read
    val e4 = intercept[Exception] {
      spark.sql(s"CALL lance.dedup_exact('$ds', 'text', 'doc_id', '$ds/out.lance')")
        .collect()
    }
    assert((e4.getMessage + String.valueOf(e4.getCause)).contains("nested inside"))
    // the dataset nested inside OUT would be deleted by out's overwrite
    val e5 = intercept[Exception] {
      spark.sql(s"CALL lance.dedup_exact('$ds', 'text', 'doc_id', '$base')").collect()
    }
    assert((e5.getMessage + String.valueOf(e5.getCause)).contains("nested inside"))
    // the source is untouched
    assert(spark.read.format("lance").load(ds).count() == 2L)
  }

  test("dedup_minhash drops near-duplicates, keeps component minimum") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-mh").toString
    val ds = s"$base/docs.lance"
    // 40-token docs: 1 and 2 share 39/41 tokens (jaccard ~0.95); 3 is
    // disjoint vocabulary; 4 shares ~half with 1 (below the threshold)
    val toks = (1 to 40).map(i => s"tok$i")
    Seq(
      (1L, toks.mkString(" ")),
      (2L, (toks.drop(1) :+ "tokX" :+ "tok1").mkString(" ")),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")),
      (4L, (toks.take(20) ++ (1 to 20).map(i => s"far$i")).mkString(" ")))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(ds)
    val out = s"$base/deduped.lance"
    val (rowsIn, kept) = spark.sql(
      s"CALL lance.dedup_minhash('$ds', 'doc_id', 'text', '$out', threshold => 0.8)")
      .as[(Long, Long)].head()
    assert(rowsIn == 4L)
    val survivors = spark.read.format("lance").load(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(!survivors.contains(2L), s"near-dup 2 should drop: $survivors")
    assert(survivors.contains(1L) && survivors.contains(3L) &&
           survivors.contains(4L), survivors.toString)
    assert(kept == survivors.length.toLong)
  }

  test("dedup_minhash refuses a bad threshold, num_hashes or bands, naming it") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-mh-args").toString
    val ds = s"$base/docs.lance"
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text").write.format("lance").mode("overwrite").save(ds)
    val out = s"$base/deduped.lance"
    for ((args, named) <- Seq(
        "bands => 0" -> "bands must be positive",
        "bands => -4" -> "bands must be positive",
        "num_hashes => 0" -> "numHashes must be positive",
        "num_hashes => -64" -> "numHashes must be positive",
        "num_hashes => 64, bands => 5" -> "divisible by bands",
        "threshold => 0.0" -> "jaccardThreshold",
        "threshold => -0.5" -> "jaccardThreshold",
        "threshold => 1.5" -> "jaccardThreshold")) {
      val e = intercept[Exception] {
        spark.sql(s"CALL lance.dedup_minhash('$ds', 'doc_id', 'text', '$out', $args)")
          .collect()
      }
      val bad = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
      assert(bad.exists(_.getMessage.contains(named)), s"$args: $e")
    }
    assert(!new java.io.File(out).exists(), "a refused call wrote its output")
  }

  test("decontaminate drops corpus docs sharing an n-gram with the benchmark") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-decon").toString
    val corpus = s"$base/corpus.lance"
    val bench = s"$base/bench.lance"
    Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "completely different words in this document here"),
        (12L, "too short"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(corpus)
    // shares the 5-gram "the quick brown fox jumps" with doc 10
    Seq((1L, "prefix the quick brown fox jumps suffix"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(bench)
    val out = s"$base/clean.lance"
    val (rowsIn, kept) = spark.sql(
      s"CALL lance.decontaminate('$corpus', '$bench', 'doc_id', 'text', '$out')")
      .as[(Long, Long)].head()
    assert((rowsIn, kept) == ((3L, 2L)))
    val survivors = spark.read.format("lance").load(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(11L, 12L), s"leaked doc survived: $survivors")
  }

  test("semantic_dedup keeps the min-id survivor per near-identical embedding") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-semdd").toString
    val ds = s"$base/vecs.lance"
    Seq((1L, Array(1f, 0f, 0f, 0f)),
        (2L, Array(0.999f, 0.01f, 0f, 0f)), // cos ~1 with doc 1
        (3L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("overwrite").save(ds)
    val out = s"$base/deduped.lance"
    val (rowsIn, kept) = spark.sql(
      s"CALL lance.semantic_dedup('$ds', 'vec_id', 'embedding', '$out', " +
        "n_clusters => 1, cos_threshold => 0.97)")
      .as[(Long, Long)].head()
    assert((rowsIn, kept) == ((3L, 2L)))
    val survivors = spark.read.format("lance").load(out)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 3L), survivors.toString)
  }

  test("create_ivf_index builds a persisted index the probe path can search") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ivfbuild").toString
    val ds = s"$base/vecs.lance"
    val rnd = new scala.util.Random(7)
    (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/ivf"
    val v = spark.sql(
      s"CALL lance.create_ivf_index('$ds', 'vec_id', 'embedding', '$ix', n_lists => 4)")
      .as[Long].head()
    assert(v >= 1L)
    // the built index answers a probe without touching KMeans again, and
    // the exact top hit is the queried row itself
    val q = spark.read.format("lance").load(ds)
      .filter(col("vec_id") === 5L).select("embedding").head().getSeq[Float](0)
    val top = graft.operators.Similarity.ivfSearchPersisted(
      spark, ix, "vec_id", "embedding", q, k = 1, nProbe = 4)
      .select("vec_id").as[Long].head()
    assert(top == 5L)
  }

  test("optimize_ivf_index extends a stale index over the append tail") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ivfopt").toString
    val ds = s"$base/vecs.lance"
    val rnd = new scala.util.Random(11)
    (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/ivf"
    spark.sql(
      s"CALL lance.create_ivf_index('$ds', 'vec_id', 'embedding', '$ix', n_lists => 4)")
      .collect()
    // append AFTER the build, then optimize: the plain probe must cover
    // the appended row without a rebuild (and find it as its own top hit)
    (41L to 50L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("append").save(ds)
    val covered = spark.sql(
      s"CALL lance.optimize_ivf_index('$ds', 'vec_id', 'embedding', '$ix')")
      .as[Long].head()
    assert(covered == 2L) // build at v1, append made v2
    graft.operators.Similarity.clearIndexCaches()
    val q = spark.read.format("lance").load(ds)
      .filter(col("vec_id") === 45L).select("embedding").head().getSeq[Float](0)
    val top = graft.operators.Similarity.ivfSearchPersisted(
      spark, ix, "vec_id", "embedding", q, k = 1, nProbe = 4)
      .select("vec_id").as[Long].head()
    assert(top == 45L)
  }

  test("optimize_ivf_index on an index without meta names the build to run") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ivfnometa").toString
    val ds = s"$base/vecs.lance"
    val rnd = new scala.util.Random(17)
    val rows = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    rows.write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/ivf"
    // a DataFrame build writes no meta.lance
    graft.operators.Similarity.ivfBuildPersist(rows, "vec_id", "embedding",
      nLists = 4, indexPath = ix)
    val e = intercept[Exception] {
      spark.sql(s"CALL lance.optimize_ivf_index('$ds', 'vec_id', 'embedding', '$ix')")
        .collect()
    }
    assert((e.getMessage + String.valueOf(e.getCause)).contains(
      s"$ix has no meta.lance — build with ivfBuildPersistLance"))
  }

  test("create_ivf_pq_index + optimize_ivf_pq_index cover the append tail") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ivfpq").toString
    val ds = s"$base/vecs.lance"
    val rnd = new scala.util.Random(13)
    (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/ivfpq"
    val v = spark.sql(
      s"CALL lance.create_ivf_pq_index('$ds', 'vec_id', 'embedding', '$ix', " +
        "n_lists => 4, m => 4)")
      .as[Long].head()
    assert(v >= 1L)
    (41L to 50L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.format("lance").mode("append").save(ds)
    val covered = spark.sql(
      s"CALL lance.optimize_ivf_pq_index('$ds', 'vec_id', 'embedding', '$ix')")
      .as[Long].head()
    assert(covered == 2L) // build at v1, append made v2
    graft.operators.Similarity.clearIndexCaches()
    // the appended row is now a candidate, and exact re-rank tops it out
    val q = spark.read.format("lance").load(ds)
      .filter(col("vec_id") === 45L).select("embedding").head().getSeq[Float](0)
    val top = graft.operators.Similarity.ivfPqSearch(
      spark, ix, spark.read.format("lance").load(ds), "vec_id", "embedding",
      q, k = 1, nProbe = 4, rerank = 8)
      .select("vec_id").as[Long].head()
    assert(top == 45L)
  }

  test("create_fts_index builds a persisted index the search path can read") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ftsbuild").toString
    val ds = s"$base/docs.lance"
    Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta"), (3L, "zeta eta"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/fts"
    val v = spark.sql(
      s"CALL lance.create_fts_index('$ds', 'doc_id', 'text', '$ix')")
      .as[Long].head()
    assert(v >= 1L)
    val top = graft.operators.Fts.searchPersisted(spark, ix, Seq("alpha"), 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(top.head == 2L, s"doc 2 has the highest alpha tf: $top")
  }

  test("optimize_fts_index extends a stale index over the append tail") {
    val base = java.nio.file.Files.createTempDirectory("graft-proc-ftsopt").toString
    val ds = s"$base/docs.lance"
    Seq((1L, "alpha beta gamma"), (2L, "alpha alpha delta"), (3L, "zeta eta"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("overwrite").save(ds)
    val ix = s"$base/fts"
    spark.sql(s"CALL lance.create_fts_index('$ds', 'doc_id', 'text', '$ix')")
      .collect()
    // append AFTER the build, then optimize: the plain probe must rank
    // the appended doc without a rebuild (it posts 'alpha' three times)
    Seq((4L, "alpha alpha alpha"))
      .toDF("doc_id", "text")
      .write.format("lance").mode("append").save(ds)
    val covered = spark.sql(s"CALL lance.optimize_fts_index('$ds', '$ix')")
      .as[Long].head()
    assert(covered == 2L) // build at v1, append made v2
    val top = graft.operators.Fts.searchPersisted(spark, ix, Seq("alpha"), 3)
      .select("doc_id").as[Long].collect().toSeq
    assert(top.head == 4L, s"appended doc has the highest alpha tf: $top")
  }

  test("unknown procedure fails with the available list") {
    val e = intercept[Exception] { spark.sql("CALL lance.nope('x')").collect() }
    val msg = e.getMessage + String.valueOf(e.getCause)
    assert(msg.contains("nope") || msg.contains("not") || msg.contains("compact"))
  }
}
