package graft.sources.lance

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors: deleteWhere writes roaring bitmaps + a new manifest
  * version; reads mask dead rows; time travel sees both states; appends
  * carry deletions forward; compaction materializes them away. Plus the
  * `_rowaddr` metadata column and the roaring codec itself.
  */
class LanceDeleteSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def tmpDs(): String = {
    val f = java.nio.file.Files.createTempDirectory("lance_del").toFile
    f.delete()
    f.getAbsolutePath + "/ds.lance"
  }

  private def writeIds(ds: String, n: Int, parts: Int): Unit =
    spark.range(n).selectExpr("id", "id % 7 AS grp", "CAST(id * 1.5 AS DOUBLE) AS v")
      .repartition(parts)
      .write.format("lance").mode("append").save(ds)

  /** The columns of [[writeIds]] plus a `pad`: on the padded twin `n`
    * rows hold ~9 MiB, more than `LanceLocal.CapBytes`, so a delete or
    * merge reading their keys runs its DSv2 plan; otherwise a few bytes,
    * and it runs on the driver with no job. */
  private def paddedCols(padded: Boolean, n: Int): Seq[String] =
    Seq("id", "id % 7 AS grp", "CAST(id * 1.5 AS DOUBLE) AS v",
      if (padded) s"concat(CAST(id AS STRING), repeat('x', ${(9 << 20) / n})) AS pad"
      else "CAST(id AS STRING) AS pad")

  /** `op`'s result, asserting it ran on the side of the cap its twin is
    * on, counting only the jobs this thread starts (racing threads run
    * their own). */
  private def onSide[A](padded: Boolean)(op: => A): A = {
    val (out, jobs) = graft.TestSpark.threadJobsOf(op)
    assert((jobs > 0) == padded, s"padded=$padded: ran $jobs jobs")
    out
  }

  test("mass delete: millions of matched rows stay executor-side (VERDICT r4 scale gate)") {
    // 3M rows across 8 fragments; delete ~1/3 by predicate. The matched
    // offsets are sorted/merged/serialized inside mapGroups on executors
    // — only per-fragment (fileId, count) metas reach the driver — so
    // this both exercises the path at millions-of-offsets volume and
    // guards against a regression that re-materializes offsets
    // driver-side (which at this volume would be ~24 MB of raw addrs per
    // driver copy; at the 10^11-row scale it was the flagged
    // scale-killer).
    val ds = tmpDs()
    writeIds(ds, 3000000, 8)
    val v = graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, "grp IN (1, 3)")
    val back = spark.read.format("lance").load(ds)
    val expectedLive = (0L until 3000000L).count(i => i % 7 != 1 && i % 7 != 3)
    assert(back.count() == expectedLive)
    assert(back.filter("grp IN (1, 3)").count() == 0)
    // every fragment carries a deletion file written by its executor task
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val m = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
    assert(m.version == v)
    assert(m.fragments.forall(_.deletion.nonEmpty))
    val deletedTotal = m.fragments.flatMap(_.deletion).map(_.numDeleted).sum
    assert(deletedTotal == 3000000L - expectedLive)
  }

  test("deleteWhere rebases over a concurrent append (snapshot-delete semantics)") {
    Seq(false, true).foreach { padded =>
      val ds = tmpDs()
      spark.range(50000).selectExpr(paddedCols(padded, 50000): _*).repartition(4)
        .write.format("lance").mode("append").save(ds)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() => {
        try (1 to 3).foreach { i =>
          spark.range(1000000L + i * 1000, 1000000L + i * 1000 + 500)
            .selectExpr(paddedCols(padded = false, 500): _*)
            .coalesce(1).write.format("lance").mode("append").save(ds)
        } catch { case e: Throwable => failures.add(e) }
      })
      val deleter = new Thread(() => {
        try onSide(padded)(LanceMaintenance.deleteWhere(spark, ds, "grp = 2 AND id < 1000000"))
        catch { case e: Throwable => failures.add(e) }
      })
      appender.start(); deleter.start()
      appender.join(); deleter.join()
      assert(failures.isEmpty, s"concurrent append/delete failed: ${failures.peek()}")
      val back = spark.read.format("lance").load(ds)
      // the delete's snapshot rows are masked; every appended row survives
      // (even grp=2 ones — they were not visible at the delete's readVersion
      // and are excluded by the predicate's id guard)
      assert(back.filter("id < 1000000 AND grp = 2").count() == 0)
      assert(back.filter("id >= 1000000").count() == 1500)
      val expectedLive = (0L until 50000L).count(_ % 7 != 2)
      assert(back.filter("id < 1000000").count() == expectedLive)
    }
  }

  test("mergeInsert rebases over a concurrent append") {
    import spark.implicits._
    Seq(false, true).foreach { padded =>
      val ds = tmpDs()
      spark.range(20000).selectExpr(paddedCols(padded, 20000): _*).repartition(2)
        .write.format("lance").mode("append").save(ds)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() => {
        try (1 to 3).foreach { i =>
          spark.range(2000000L + i * 1000, 2000000L + i * 1000 + 400)
            .selectExpr(paddedCols(padded = false, 400): _*)
            .coalesce(1).write.format("lance").mode("append").save(ds)
        } catch { case e: Throwable => failures.add(e) }
      })
      val upserter = new Thread(() => {
        try {
          // update 100 existing rows' v and insert 50 fresh ids, from driver
          // rows (a LocalRelation source, which the local arm takes)
          val src = (0L until 150L).map { i =>
            val id = if (i < 100) i else 3000000L + i
            (id, i % 7, -1.0, s"$id")
          }.toDF("id", "grp", "v", "pad")
          onSide(padded)(LanceMaintenance.mergeInsert(spark, ds, src, Seq("id")))
        } catch { case e: Throwable => failures.add(e) }
      })
      appender.start(); upserter.start()
      appender.join(); upserter.join()
      assert(failures.isEmpty, s"concurrent append/upsert failed: ${failures.peek()}")
      val back = spark.read.format("lance").load(ds)
      assert(back.filter("id < 100 AND v = -1.0").count() == 100)   // updated
      assert(back.filter("id >= 3000000").count() == 50)            // inserted
      assert(back.filter("id >= 2000000 AND id < 3000000").count() == 1200) // appends all landed
      assert(back.filter("id < 2000000").count() == 20000)          // no snapshot row lost
    }
  }

  test("roaring codec round-trips array and bitmap containers") {
    val small = Array(0, 1, 5, 65535, 65536, 131072 + 9)
    assert(Roaring.deserialize(Roaring.serialize(small)).toSeq == small.toSeq)
    // > 4096 values in one 64Ki block forces a bitmap container
    val dense = (0 until 70000 by 3).toArray
    assert(Roaring.deserialize(Roaring.serialize(dense)).toSeq == dense.toSeq)
    assert(Roaring.serialize(dense).length < dense.length * 2 + 1024)
  }

  test("roaring codec reads run containers (foreign writer optimization)") {
    // hand-build: cookie 12347, 1 container (count-1=0 in upper 16 bits),
    // run bitset = 0x01, desc header key=0 card=10, runs: 2 runs
    // [3..7] and [100..104]
    val bb = java.nio.ByteBuffer.allocate(4 + 1 + 4 + 2 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12347).put(1.toByte)
    bb.putShort(0.toShort).putShort(9.toShort) // key, cardinality-1
    bb.putShort(2.toShort)                      // run count
    bb.putShort(3.toShort).putShort(4.toShort)  // start 3, len-1 = 4
    bb.putShort(100.toShort).putShort(4.toShort)
    val got = Roaring.deserialize(bb.array())
    assert(got.toSeq == ((3 to 7) ++ (100 to 104)))
  }

  test("deleteWhere masks rows, versions both states, and merges deletes") {
    Seq(false, true).foreach { padded =>
      val ds = tmpDs()
      spark.range(1000).selectExpr(paddedCols(padded, 1000): _*).repartition(3)
        .write.format("lance").mode("append").save(ds)
      val v1 = {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(ds, conf)
        LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None)).version
      }

      val v2 = onSide(padded)(LanceMaintenance.deleteWhere(spark, ds, "grp = 3"))
      assert(v2 == v1 + 1)
      val after = spark.read.format("lance").load(ds)
      assert(after.count() == 1000 - spark.range(1000).filter("id % 7 = 3").count())
      assert(after.filter("grp = 3").count() == 0)
      // time travel: the old version still sees every row
      val before = spark.read.format("lance").option("versionAsOf", v1).load(ds)
      assert(before.count() == 1000)
      assert(before.filter("grp = 3").count() == spark.range(1000).filter("id % 7 = 3").count())

      // second delete merges with the first (per-fragment bitmap union)
      val v3 = onSide(padded)(LanceMaintenance.deleteWhere(spark, ds, "grp = 5"))
      assert(v3 == v2 + 1)
      val after2 = spark.read.format("lance").load(ds)
      assert(after2.filter("grp IN (3, 5)").count() == 0)
      assert(after2.count() ==
        spark.range(1000).filter("id % 7 NOT IN (3, 5)").count())
      // sums only over live rows (columnar path is bypassed under deletions)
      val expected = spark.range(1000).filter("id % 7 NOT IN (3, 5)")
        .agg(sum(expr("CAST(id * 1.5 AS DOUBLE)"))).head.getDouble(0)
      assert(math.abs(after2.agg(sum("v")).head.getDouble(0) - expected) < 1e-6)
      // deleting nothing is a no-op version-wise
      assert(onSide(padded)(LanceMaintenance.deleteWhere(spark, ds, "grp = 99")) == v3)
    }
  }

  test("mergeInsert and deleteWhere keep move-stable row ids on both sides of the cap") {
    import spark.implicits._
    Seq(false, true).foreach { padded =>
      val ds = tmpDs()
      spark.range(100).selectExpr(paddedCols(padded, 100): _*).coalesce(1)
        .write.format("lance").option("stableRowIds", "true").mode("overwrite").save(ds)
      def ids(): Map[Long, Long] = spark.read.format("lance").load(ds)
        .select("id", "_rowid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      onSide(padded)(LanceMaintenance.deleteWhere(spark, ds, "id % 10 = 0"))
      val afterDelete = ids()
      assert(afterDelete.size == 90 && afterDelete.forall { case (k, id) => k == id },
        "a delete keeps every surviving row's id")
      // upsert 5 live rows and insert 2: rewritten and new rows take fresh
      // ids from the counter, the rest keep theirs
      val src = Seq(1L, 2L, 3L, 4L, 5L, 500L, 501L)
        .map(i => (i, i % 7, -1.0, s"$i")).toDF("id", "grp", "v", "pad")
      onSide(padded)(LanceMaintenance.mergeInsert(spark, ds, src, Seq("id")))
      val got = ids()
      assert(got.size == 92)
      assert(got.filter { case (k, _) => k > 5 && k < 100 }.forall { case (k, id) => k == id })
      assert(Seq(1L, 2L, 3L, 4L, 5L, 500L, 501L).map(got).sorted == (100L until 107L))
      val conf = spark.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(ds, conf)
      assert(LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
        .nextRowId == 107L)
      assert(spark.read.format("lance").load(ds).filter("v = -1.0").count() == 7)
    }
  }

  test("count(*), limit pushdown, and appends honor deletion vectors") {
    val ds = tmpDs()
    writeIds(ds, 500, 2)
    LanceMaintenance.deleteWhere(spark, ds, "id < 100")
    val df = spark.read.format("lance").load(ds)
    assert(df.count() == 400)                      // empty-projection path
    assert(df.limit(150).count() == 150)           // live-row limit capping
    assert(df.limit(150).filter("id < 100").count() == 0)

    // append after delete: old fragments keep their deletion files
    spark.range(500, 600).selectExpr("id", "id % 7 AS grp", "CAST(id * 1.5 AS DOUBLE) AS v")
      .coalesce(1).write.format("lance").mode("append").save(ds)
    val appended = spark.read.format("lance").load(ds)
    assert(appended.count() == 500)
    assert(appended.filter("id < 100").count() == 0)
  }

  test("_rowaddr metadata column exposes (fragment << 32) | offset") {
    val ds = tmpDs()
    writeIds(ds, 300, 3)
    val df = spark.read.format("lance").option("withRowAddress", "true").load(ds)
    assert(df.schema.fieldNames.contains("_rowaddr"))
    val rows = df.select("_rowaddr", "id").collect()
    assert(rows.map(_.getLong(0)).distinct.length == 300)
    val frags = rows.map(_.getLong(0) >>> 32).distinct.sorted
    assert(frags.length == 3 && frags.sameElements(Array(0L, 1L, 2L)))
    // offsets within a fragment are dense from 0
    val offs = rows.filter(r => (r.getLong(0) >>> 32) == frags.head)
      .map(r => r.getLong(0) & 0xffffffffL).sorted
    assert(offs.head == 0L && offs.last == offs.length - 1)
  }

  test("_rowaddr resolves as a DSv2 metadata column without the option") {
    val ds = tmpDs()
    writeIds(ds, 300, 3)
    val df = spark.read.format("lance").load(ds)
    // hidden from SELECT * ...
    assert(!df.schema.fieldNames.contains("_rowaddr"))
    // ... but referenced by name it joins the output
    val rows = df.select("_rowaddr", "id").collect()
    assert(rows.map(_.getLong(0)).distinct.length == 300)
    val frags = rows.map(_.getLong(0) >>> 32).distinct.sorted
    assert(frags.sameElements(Array(0L, 1L, 2L)))
    // SQL face through the lance catalog
    val viaSql = spark.sql(s"SELECT _rowaddr, id FROM lance.`$ds` WHERE id < 5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(viaSql.length == 5 && viaSql.map(_._2).sameElements(Array(0L, 1L, 2L, 3L, 4L)))
    // addresses survive deletes: remaining rows keep their PHYSICAL offset
    LanceMaintenance.deleteWhere(spark, ds, "id = 0")
    val after = spark.read.format("lance").load(ds)
      .select("_rowaddr", "id").collect()
    assert(after.length == 299)
    val before = rows.map(r => r.getLong(1) -> r.getLong(0)).toMap
    after.foreach(r => assert(before(r.getLong(1)) == r.getLong(0),
      s"row ${r.getLong(1)} changed address after delete"))
  }

  test("_rowaddr-only projection decodes no columns and respects deletions") {
    val ds = tmpDs()
    writeIds(ds, 1000, 2)
    val rel = spark.read.format("lance").load(ds)
    assert(rel.select("_rowaddr").count() == 1000)
    val mn = rel.select(min(col("_rowaddr"))).head().getLong(0)
    assert((mn & 0xffffffffL) == 0L)
    LanceMaintenance.deleteWhere(spark, ds, "id % 10 = 0")
    val after = spark.read.format("lance").load(ds)
    assert(after.select("_rowaddr").count() == 900)
    // deleted rows' addresses are gone; survivors keep physical offsets
    val addrs = after.select("_rowaddr", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(addrs.size == 900 && addrs.values.forall(_ % 10 != 0))
  }

  test("take path: a point _rowaddr decodes ONE page of a multi-page fragment") {
    val ds = tmpDs()
    spark.range(200000).selectExpr("id").coalesce(1)
      .write.format("lance").mode("append").save(ds) // 65536-row pages -> 4 pages
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val manifest = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
    val frag = manifest.fragments.head
    val f = frag.files.head
    val part = LanceInputPartition(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(ds, "data"), f.path).toString,
      f.fieldIds.toArray, f.columnIndices.toArray, frag.physicalRows, fragId = frag.id)
    val idField = manifest.fields.find(_.name == "id").get
    val cols = Array(ColSpec(idField.id, idField.logicalType))
    val probe = (frag.id << 32) | 150000L // page 3 of 4
    val pages = new FragmentPages(part, cols, Nil, conf, Seq(AddrIn(Seq(probe))))
    assert(pages.pagePlan.length == 1,
      s"expected 1 surviving page, got ${pages.pagePlan.length}")
    pages.close()
    // a range spanning the page boundary keeps exactly the two pages
    val range = new FragmentPages(part, cols, Nil, conf,
      Seq(AddrRange((frag.id << 32) | 65000L, (frag.id << 32) | 66000L)))
    assert(range.pagePlan.length == 2,
      s"expected 2 surviving pages, got ${range.pagePlan.length}")
    range.close()
  }

  test("SQL DELETE FROM through the lance catalog writes deletion vectors") {
    val ds = tmpDs()
    writeIds(ds, 600, 2)
    spark.sql(s"DELETE FROM lance.`$ds` WHERE grp = 2 OR id >= 550")
    val back = spark.read.format("lance").load(ds)
    val expect = spark.range(600).filter("NOT (id % 7 = 2 OR id >= 550)").count()
    assert(back.count() == expect)
    assert(back.filter("grp = 2 OR id >= 550").count() == 0)
    // string predicates render too (startswith -> StringStartsWith; plain
    // LIKE is not translated to a source filter by Spark's DELETE path)
    val ds2 = tmpDs()
    spark.range(100).selectExpr("id", "concat('cat_', id % 3) AS tag")
      .coalesce(1).write.format("lance").mode("append").save(ds2)
    spark.sql(s"DELETE FROM lance.`$ds2` WHERE startswith(tag, 'cat_1')")
    assert(spark.read.format("lance").load(ds2).count() ==
      spark.range(100).filter("id % 3 <> 1").count())
  }

  test("ARROW_ARRAY deletion files (foreign writer form) mask rows on read") {
    val ds = tmpDs()
    writeIds(ds, 200, 1) // single fragment, offsets = ids
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val manifestPath = LanceFormat.latestManifestPath(fs, p, None)
    val manifest = LanceFormat.readManifest(fs, manifestPath)
    val fragId = manifest.fragments.head.id

    // craft the Arrow IPC deletion file the lance crate would write:
    // one uint32 column of deleted physical offsets
    val deleted = Array(3, 4, 5, 17, 150, 199)
    val meta = LanceFormat.DeletionFileMeta(
      readVersion = manifest.version, id = 42L, fileType = 0,
      numDeleted = deleted.length.toLong)
    assert(meta.fileName(fragId).endsWith(".arrow"))
    val delDir = new org.apache.hadoop.fs.Path(p, "_deletions")
    fs.mkdirs(delDir)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val bos = new java.io.ByteArrayOutputStream()
    try {
      val field = new org.apache.arrow.vector.types.pojo.Field(
        "row_id", org.apache.arrow.vector.types.pojo.FieldType.nullable(
          new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, false)), null)
      val schema = new org.apache.arrow.vector.types.pojo.Schema(
        java.util.Collections.singletonList(field))
      val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
      try {
        val v = root.getVector(0).asInstanceOf[org.apache.arrow.vector.UInt4Vector]
        v.allocateNew(deleted.length)
        deleted.zipWithIndex.foreach { case (d, i) => v.setSafe(i, d) }
        root.setRowCount(deleted.length)
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(
          root, null, java.nio.channels.Channels.newChannel(bos))
        try { w.start(); w.writeBatch(); w.end() } finally w.close()
      } finally root.close()
    } finally alloc.close()
    val out = fs.create(new org.apache.hadoop.fs.Path(delDir, meta.fileName(fragId)), true)
    try out.write(bos.toByteArray) finally out.close()
    LanceMaintenance.commitDeletionPatch(
      conf, p, manifestPath, Map(fragId -> meta), manifest.version + 1)

    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 200 - deleted.length)
    assert(back.filter(col("id").isin(deleted.map(_.toLong): _*)).count() == 0)
    assert(back.agg(sum("id")).head.getLong(0) ==
      (0L until 200L).sum - deleted.map(_.toLong).sum)

    // a later deleteWhere must MERGE with the arrow-form file (the crate's
    // sparse-delete spelling), not assume its own roaring format
    LanceMaintenance.deleteWhere(spark, ds, "id >= 190")
    val merged = spark.read.format("lance").load(ds)
    val dead = deleted.map(_.toLong).toSet ++ (190L until 200L)
    assert(merged.count() == 200 - dead.size)
    assert(merged.filter(col("id").isin(dead.toSeq: _*)).count() == 0)
  }

  test("mergeInsert upserts matched rows and inserts new ones in one version") {
    import spark.implicits._
    Seq(false, true).foreach { padded =>
      val ds = tmpDs()
      spark.range(100).selectExpr(paddedCols(padded, 100): _*).repartition(2)
        .write.format("lance").mode("append").save(ds)
      val v1 = {
        val conf = spark.sessionState.newHadoopConf()
        val (fs, p) = LanceFormat.fileSystem(ds, conf)
        LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None)).version
      }
      // updates ids 50..99, inserts 100..120, from driver rows (the local
      // arm's source)
      val source = (50L to 120L).map(id => (id, id % 7, id * 10.0, s"$id"))
        .toDF("id", "grp", "v", "pad")
      val v2 = onSide(padded)(LanceMaintenance.mergeInsert(spark, ds, source, Seq("id")))
      assert(v2 == v1 + 1)

      val back = spark.read.format("lance").load(ds)
      assert(back.count() == 121)
      assert(back.select("id").distinct().count() == 121) // no duplicate keys
      val byId = back.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(byId(10L) == 15.0)   // untouched: id * 1.5
      assert(byId(60L) == 600.0)  // updated: id * 10
      assert(byId(120L) == 1200.0) // inserted
      // both surrounding versions are consistent
      val before = spark.read.format("lance").option("versionAsOf", v1).load(ds)
      assert(before.count() == 100)
      assert(before.filter("id = 60").head.getDouble(2) == 90.0)

      // merge is repeatable: same source again replaces its own rows
      val v3 = onSide(padded)(LanceMaintenance.mergeInsert(spark, ds, source, Seq("id")))
      assert(v3 == v2 + 1)
      val again = spark.read.format("lance").load(ds)
      assert(again.count() == 121 && again.select("id").distinct().count() == 121)
      // no staging leftovers
      val conf = spark.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(ds, conf)
      assert(!fs.listStatus(p).exists(_.getPath.getName.startsWith("_staging")))
    }
    // a source computed by Spark (not driver rows) keeps the DSv2 plan
    val ds = tmpDs()
    writeIds(ds, 100, 2)
    val computed = spark.range(50, 121)
      .selectExpr("id", "id % 7 AS grp", "CAST(id * 10.0 AS DOUBLE) AS v")
    onSide(padded = true)(LanceMaintenance.mergeInsert(spark, ds, computed, Seq("id")))
    assert(spark.read.format("lance").load(ds).count() == 121)
  }

  test("updateWhere rewrites matched rows in place (one version)") {
    val ds = tmpDs()
    writeIds(ds, 200, 2)
    val v2 = LanceMaintenance.updateWhere(spark, ds, "grp = 3",
      Map("v" -> "v * 100", "grp" -> "grp + 10"))
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 200)
    assert(back.filter("grp = 3").count() == 0)
    val updatedN = (0 until 200).count(_ % 7 == 3)
    assert(back.filter("grp = 13").count() == updatedN)
    assert(back.filter("id = 3").head.getDouble(2) == 3 * 1.5 * 100)
    assert(back.filter("id = 4").head.getDouble(2) == 4 * 1.5) // untouched
    // history intact, nothing matched -> no-op version
    assert(spark.read.format("lance").option("versionAsOf", v2 - 1).load(ds)
      .filter("grp = 3").count() == updatedN)
    assert(LanceMaintenance.updateWhere(spark, ds, "grp = 99",
      Map("v" -> "0.0")) == v2)
  }

  test("failed maintenance ops leave the dataset version untouched") {
    val ds = tmpDs()
    writeIds(ds, 50, 1)
    def version(): Long = {
      val conf = spark.sessionState.newHadoopConf()
      val (fs, p) = LanceFormat.fileSystem(ds, conf)
      LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None)).version
    }
    val v = version()
    intercept[Exception](LanceMaintenance.updateWhere(spark, ds, "grp = 1",
      Map("no_such_col" -> "1")))
    intercept[Exception](LanceMaintenance.updateWhere(spark, ds, "syntax ((",
      Map("v" -> "1.0")))
    intercept[Exception](LanceMaintenance.mergeInsert(spark, ds,
      spark.range(5).selectExpr("id", "id AS wrong_cols"), Seq("id")))
    intercept[Exception](LanceMaintenance.renameColumn(spark, ds, "ghost", "x"))
    intercept[Exception](LanceMaintenance.dropColumn(spark, ds, "ghost"))
    assert(version() == v)
    assert(spark.read.format("lance").load(ds).count() == 50)
  }

  test("compact materializes deletes and keeps history readable") {
    val ds = tmpDs()
    writeIds(ds, 400, 2)
    val vDel = LanceMaintenance.deleteWhere(spark, ds, "grp = 0")
    val vCompact = LanceMaintenance.compact(spark, ds, targetFragments = 1)
    assert(vCompact == vDel + 1)
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val m = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
    assert(m.fragments.length == 1 && m.fragments.head.deletion.isEmpty)
    val live = spark.range(400).filter("id % 7 <> 0").count()
    assert(spark.read.format("lance").load(ds).count() == live)
    // the pre-compaction version still reads through its deletion vector
    assert(spark.read.format("lance").option("versionAsOf", vDel).load(ds)
      .count() == live)

    // recluster while compacting: range-sorted fragments prune point scans
    LanceMaintenance.compact(spark, ds, targetFragments = 4, sortBy = Seq("id"))
    val sorted = spark.read.format("lance").load(ds)
    assert(sorted.count() == live)
    assert(sorted.rdd.getNumPartitions == 4)
    assert(sorted.filter("id BETWEEN 300 AND 310").rdd.getNumPartitions <= 2)
  }
}
