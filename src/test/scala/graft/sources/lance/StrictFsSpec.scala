package graft.sources.lance

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write/append/DML round-trips against a NON-`file://` filesystem scheme
  * (the [[StrictFs]] object-store stand-in): every path in the connector
  * that resolves a FileSystem from a path + Hadoop conf must work when
  * the scheme is not the default local one — including from executors,
  * which see the conf only through the session's conf broadcast
  * ([[SessionConf]]), re-broadcast whenever the conf's content changes.
  */
class StrictFsSpec extends AnyFunSuite {
  lazy val spark = {
    val s = graft.TestSpark.spark
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.strictfs.impl", classOf[StrictFs].getName)
    hc.set("fs.AbstractFileSystem.strictfs.impl", classOf[StrictAbstractFs].getName)
    s
  }

  test("lance write / append / delete / vacuum on a strictfs:// dataset") {
    val dir = java.nio.file.Files.createTempDirectory("lance_strictfs")
    val ds = s"strictfs://$dir/ds.lance"

    spark.range(100).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v")
      .coalesce(2).write.format("lance").mode("append").save(ds) // v1
    spark.range(100, 150).selectExpr("id", "CAST(id * 2.0 AS DOUBLE) AS v")
      .coalesce(1).write.format("lance").mode("append").save(ds) // v2
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 150)
    assert(back.filter("v >= 200.0").count() == 50)

    LanceMaintenance.deleteWhere(spark, ds, "id % 10 = 0") // v3
    assert(spark.read.format("lance").load(ds).count() == 135)
    // time travel still works through the scheme
    assert(spark.read.format("lance").option("versionAsOf", 1).load(ds)
      .count() == 100)

    // upsert (staging rename path) through the scheme
    val src = spark.range(140, 160).selectExpr("id", "CAST(id * 5.0 AS DOUBLE) AS v")
    LanceMaintenance.mergeInsert(spark, ds, src, Seq("id")) // v4
    val merged = spark.read.format("lance").load(ds)
    assert(merged.filter("id = 145").head.getDouble(1) == 725.0)
    assert(merged.filter("id >= 150").count() == 10)

    // vacuum sweeps dropped-version files through the scheme
    val (dropped, removed) = LanceMaintenance.vacuum(spark, ds,
      keepVersions = 1, olderThanMs = 0)
    assert(dropped == 3 && removed >= 0)
    assert(spark.read.format("lance").load(ds).count() == merged.count())
  }

  test("create-mode commit detects version conflicts where rename mode loses them") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3like.impl", classOf[OverwritingFs].getName)
    hc.set("fs.AbstractFileSystem.s3like.impl", classOf[OverwritingAbstractFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("lance_s3like")
    val ds = new org.apache.hadoop.fs.Path(s"s3like://$dir/ds.lance")
    val conf = spark.sessionState.newHadoopConf()
    val manifest = new org.apache.hadoop.fs.Path(ds, "_versions/7.manifest")
    val (fs, _) = LanceFormat.fileSystem(ds.toString, conf)

    // rename mode on overwriting-rename semantics: the second commit of
    // the SAME version silently clobbers the first — the exact lost-update
    // hazard of non-atomic object-store renames
    LanceWriteSupport.commitManifest(conf, ds, Array[Byte](1, 1, 1), 7L)
    val firstLen = fs.getFileStatus(manifest).getLen
    LanceWriteSupport.commitManifest(conf, ds, Array[Byte](2, 2, 2, 2), 7L)
    assert(fs.getFileStatus(manifest).getLen != firstLen,
      "overwriting fs should have (dangerously) replaced the manifest")

    // create mode: the duplicate commit is refused with a conflict
    val conf2 = spark.sessionState.newHadoopConf()
    conf2.set("graft.lance.commit.mode", "create")
    intercept[LanceCommitConflict] {
      LanceWriteSupport.commitManifest(conf2, ds, Array[Byte](3, 3), 7L)
    }
    // and a fresh version still commits fine in create mode
    LanceWriteSupport.commitManifest(conf2, ds, Array[Byte](4, 4), 8L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(ds, "_versions/8.manifest")))
  }

  test("full write / append / read round-trip under create-mode commits") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.lance.commit.mode", "create")
    try {
      val dir = java.nio.file.Files.createTempDirectory("lance_createmode")
      val ds = s"strictfs://$dir/ds.lance"
      spark.range(50).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.format("lance").mode("append").save(ds)
      spark.range(50, 80).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.format("lance").mode("append").save(ds)
      assert(spark.read.format("lance").load(ds).count() == 80)
      assert(spark.read.format("lance").option("versionAsOf", 1).load(ds)
        .count() == 50)
    } finally hc.unset("graft.lance.commit.mode")
  }

  test("racing committers end-to-end on object-store (no-atomic-rename) semantics under create-mode commits") {
    // s3like models the WORST store: rename clobbers, so only the
    // create-no-overwrite manifest strategy is safe. Exercise the three
    // racing shapes the commit protocol claims to survive: append vs
    // append, maintenance (deleteWhere) rebasing over an append, and a
    // CAS'd upsert refusing a moved version — all through the scheme.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3like.impl", classOf[OverwritingFs].getName)
    hc.set("fs.AbstractFileSystem.s3like.impl", classOf[OverwritingAbstractFs].getName)
    hc.set("graft.lance.commit.mode", "create")
    try {
      val dir = java.nio.file.Files.createTempDirectory("lance_s3race")
      val ds = s"s3like://$dir/ds.lance"
      spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .coalesce(2).write.format("lance").mode("append").save(ds) // v1

      // 1. append ∥ append: the loser of each version claim must rebase
      //    and retry, so BOTH batches land
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val fut = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            spark.range(100 + i * 50, 150 + i * 50)
              .selectExpr("id", "CAST(id AS DOUBLE) AS v")
              .coalesce(1).write.format("lance").mode("append").save(ds)
        })
      }
      fut.foreach(_.get())
      assert(spark.read.format("lance").load(ds).count() == 200)

      // 2. deleteWhere ∥ append: the maintenance commit rebases over the
      //    interleaved insert-only append; both effects survive
      val f1 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = LanceMaintenance.deleteWhere(spark, ds, "id < 10")
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          spark.range(1000, 1020).selectExpr("id", "CAST(id AS DOUBLE) AS v")
            .coalesce(1).write.format("lance").mode("append").save(ds)
      })
      f1.get(); f2.get(); pool.shutdown()
      val after = spark.read.format("lance").load(ds)
      assert(after.filter("id < 10").count() == 0)
      assert(after.filter("id >= 1000").count() == 20)
      assert(after.count() == 210)

      // 3. CAS'd upsert against a moved version: refused with a conflict
      //    AND leaves no orphaned data files behind (abort happens before
      //    the staged files enter data/)
      val conf = spark.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(ds, conf)
      val head = LanceFormat.readManifest(fs,
        LanceFormat.latestManifestPath(fs, p, None)).version
      val dataDir = new org.apache.hadoop.fs.Path(p, "data")
      val filesBefore = fs.listStatus(dataDir).map(_.getPath.getName).toSet
      val src = spark.range(50, 60).selectExpr("id", "CAST(id * 9.0 AS DOUBLE) AS v")
      intercept[LanceCommitConflict] {
        LanceMaintenance.upsertWithDeletes(spark, ds, src, Seq("id"),
          src.select("id"), expectedVersion = Some(head - 1))
      }
      assert(fs.listStatus(dataDir).map(_.getPath.getName).toSet == filesBefore,
        "aborted CAS upsert must not orphan staged data files")
      // and the CAS'd upsert at the RIGHT version commits
      LanceMaintenance.upsertWithDeletes(spark, ds, src, Seq("id"),
        src.select("id"), expectedVersion = Some(head))
      assert(spark.read.format("lance").load(ds)
        .filter("id = 55").head.getDouble(1) == 495.0)
    } finally hc.unset("graft.lance.commit.mode")
  }

  test("racing FTS index updaters on s3like: lock admits one, merged index ≡ fresh rebuild") {
    // the one commit family the s3like racing tests had not covered:
    // sidecar-index maintenance under MaintenanceLock on a no-atomic-
    // rename store. Two updaters race the same append tail; the election
    // admits at most one at a time (a double-admit would double-merge the
    // tail dfs into the vocabulary), and the surviving index must answer
    // bit-identically to an index built from scratch at the head.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3like.impl", classOf[OverwritingFs].getName)
    hc.set("fs.AbstractFileSystem.s3like.impl", classOf[OverwritingAbstractFs].getName)
    hc.set("graft.lance.commit.mode", "create")
    try {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("fts_s3race")
      val src = s"s3like://$dir/docs.lance"
      val ix = s"s3like://$dir/ix"
      (1L to 40L).map(i => (i, s"tok${i % 7} tok${i % 5} cat"))
        .toDF("doc_id", "text")
        .coalesce(1).write.format("lance").mode("overwrite").save(src)
      graft.operators.Fts.buildIndexLance(spark, src, "doc_id", "text", ix)
      (41L to 60L).map(i => (i, s"tok${i % 7} cat dog"))
        .toDF("doc_id", "text")
        .coalesce(1).write.format("lance").mode("append").save(src)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val outcomes = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            try { graft.operators.Fts.updateIndex(spark, src, ix); "ok" }
            catch {
              case _: MaintenanceLock.ConcurrentMaintenance => "refused"
            }
        })
      }.map(_.get())
      pool.shutdown()
      assert(outcomes.count(_ == "ok") >= 1, s"outcomes: $outcomes")
      // a refused loser's retry after the winner must fold to a no-op
      graft.operators.Fts.updateIndex(spark, src, ix)
      graft.operators.Fts.buildIndexLance(spark, src, "doc_id", "text",
        s"s3like://$dir/ix_fresh")
      def top(p: String) = graft.operators.Fts.searchPersisted(spark, p,
          Seq("cat", "tok3", "dog"), k = 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(top(ix) == top(s"s3like://$dir/ix_fresh"))
    } finally hc.unset("graft.lance.commit.mode")
  }

  test("racing scalar-index updaters on s3like: no double-appended tail postings") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3like.impl", classOf[OverwritingFs].getName)
    hc.set("fs.AbstractFileSystem.s3like.impl", classOf[OverwritingAbstractFs].getName)
    hc.set("graft.lance.commit.mode", "create")
    try {
      val dir = java.nio.file.Files.createTempDirectory("scal_s3race")
      val ds = s"s3like://$dir/ds.lance"
      val ix = s"s3like://$dir/ix"
      spark.range(100).selectExpr("id", "id % 10 AS k")
        .coalesce(1).write.format("lance").mode("append").save(ds)
      graft.operators.ScalarIndex.build(spark, ds, "k", ix)
      spark.range(100, 140).selectExpr("id", "id % 10 AS k")
        .coalesce(1).write.format("lance").mode("append").save(ds)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val outcomes = (0 until 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            try { graft.operators.ScalarIndex.update(spark, ds, ix); "ok" }
            catch {
              case _: MaintenanceLock.ConcurrentMaintenance => "refused"
            }
        })
      }.map(_.get())
      pool.shutdown()
      assert(outcomes.count(_ == "ok") >= 1, s"outcomes: $outcomes")
      graft.operators.ScalarIndex.update(spark, ds, ix) // loser retry: no-op
      // a double-admitted race would have appended the 40-row tail twice
      assert(spark.read.format("lance").load(s"$ix/keys.lance").count() == 140)
      assert(graft.operators.ScalarIndex.lookup(spark, ds, ix, Seq(3))
        .count() == 14)
    } finally hc.unset("graft.lance.commit.mode")
  }

  test("a scheme registered after the conf was broadcast reaches executors") {
    val dir = java.nio.file.Files.createTempDirectory("lance_latefs")
    // a file:// round-trip first: the session's conf is now broadcast
    val local = s"file://$dir/local.lance"
    spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.format("lance").mode("append").save(local)
    assert(spark.read.format("lance").load(local).filter("v >= 5.0").count() == 5)

    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.latefs.impl", "fs.AbstractFileSystem.latefs.impl",
      "fs.latefs.impl.disable.cache")
    hc.set(keys(0), classOf[LateFs].getName)
    hc.set(keys(1), classOf[LateAbstractFs].getName)
    // uncached, so a task holding the old conf cannot borrow an instance
    // resolved elsewhere in the JVM: it must find the scheme in its own conf
    hc.setBoolean(keys(2), true)
    try {
      val ds = s"latefs://$dir/ds.lance"
      spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .coalesce(2).write.format("lance").mode("append").save(ds)
      def sumIds() = spark.read.format("lance").load(ds)
        .agg(sum("id")).head.getLong(0)
      assert(sumIds() == 4950L)
      LanceMaintenance.deleteWhere(spark, ds, "id % 10 = 0")
      assert(sumIds() == 4950L - (0 until 100 by 10).sum)
    } finally keys.foreach(hc.unset)
  }

  test("strictfs refuses rename-onto-existing (the semantics under test)") {
    val dir = java.nio.file.Files.createTempDirectory("strictfs_sem")
    val conf = spark.sessionState.newHadoopConf()
    val (fs, _) = LanceFormat.fileSystem(s"strictfs://$dir/x", conf)
    val a = new org.apache.hadoop.fs.Path(s"strictfs://$dir/a")
    val b = new org.apache.hadoop.fs.Path(s"strictfs://$dir/b")
    val o1 = fs.create(a, true); o1.write(1); o1.close()
    val o2 = fs.create(b, true); o2.write(2); o2.close()
    assert(!fs.rename(a, b), "strictfs must refuse clobbering renames")
  }
}
