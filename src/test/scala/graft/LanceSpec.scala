package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lance connector vs the reference golden dataset
  * (/root/reference/test/test_data.lance: 5 rows, schema
  * id int64, name string, age int64, score double — SURVEY §5.1). */
class LanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val golden = "/root/reference/test/test_data.lance"

  test("schema inferred from manifest") {
    val df = spark.read.format("lance").load(golden)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("id" -> "long", "name" -> "string", "age" -> "long", "score" -> "double"))
  }

  test("full scan returns the golden rows") {
    val rows = spark.read.format("lance").load(golden)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (1L, "Alice", 25L, 85.5),
      (2L, "Bob", 30L, 92.0),
      (3L, "Charlie", 35L, 78.5),
      (4L, "David", 40L, 88.0),
      (5L, "Eve", 45L, 95.5)))
  }

  test("M2 minimum slice: SQL with filter + projection + order") {
    spark.read.format("lance").load(golden).createOrReplaceTempView("golden_lance")
    val rows = spark.sql(
      "SELECT name, score FROM golden_lance WHERE age > 30 ORDER BY score DESC")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq("Eve" -> 95.5, "David" -> 88.0, "Charlie" -> 78.5))
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("lance").load(golden).select("name")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("columns=[name]"), s"expected pruned scan, got: $scan")
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("Alice", "Bob", "Charlie", "David", "Eve"))
  }

  // --- write path (M3) ----------------------------------------------------

  def tmpDs(): String =
    java.nio.file.Files.createTempDirectory("graft-lance").toString + "/out.lance"

  test("t1 smoke: golden dataset round-trips through our writer") {
    val ds = tmpDs()
    val orig = spark.read.format("lance").load(golden)
    orig.write.format("lance").mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.schema == orig.schema)
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("fixture table with many types round-trips (multi-task write)") {
    import org.apache.spark.sql.functions._
    val ds = tmpDs()
    val src = Tables.load(spark, TestSpark.sfDir, "orders")
      .withColumn("flag", col("o_orderkey") % 2 === 0)
      .withColumn("small", col("o_orderkey").cast("int"))
      .withColumn("f32", col("o_totalprice").cast("float"))
      .repartition(4)
    src.write.format("lance").mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // 4 partitions -> 4 fragments -> 4 input partitions on re-read
    assert(back.rdd.getNumPartitions == 4)
  }

  test("embeddings (list<float>) round-trip + vector search over lance") {
    val ds = tmpDs()
    val src = Tables.load(spark, TestSpark.sfDir, "embeddings")
    src.write.format("lance").mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false))
    assert(back.count() == src.count())
    assert(back.select("vec_id", "embedding").exceptAll(src.select("vec_id", "embedding")).isEmpty)
    // the flagship composite: ANN-style search directly over a lance dataset
    val q = back.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val top = graft.operators.Similarity
      .cosineTopK(back.filter(col("vec_id") > 0), "vec_id", "embedding", q, 5)
    assert(top.count() == 5)
  }

  test("multi-page fragments round-trip (pageRows smaller than data)") {
    val ds = tmpDs()
    val src = spark.range(200000).selectExpr(
      "id", "CAST(id AS STRING) AS s", "CAST(id AS DOUBLE) / 7.0 AS d").coalesce(1)
    src.write.format("lance").mode("append").save(ds) // default page = 65536 rows -> 4 pages
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 200000)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("columnar reader streams one batch per page (no whole-fragment materialize)") {
    val ds = tmpDs()
    spark.range(200000).selectExpr("id", "CAST(id AS DOUBLE) / 3.0 AS d").coalesce(1)
      .write.format("lance").mode("append").save(ds) // 65536-row pages -> 4 pages
    import graft.sources.lance._
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val manifest = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
    val frag = manifest.fragments.head
    val f = frag.files.head
    val part = LanceInputPartition(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(ds, "data"), f.path).toString,
      f.fieldIds.toArray, f.columnIndices.toArray, frag.physicalRows)
    val idField = manifest.fields.find(_.name == "id").get
    val cols = Array(ColSpec(idField.id, idField.logicalType))
    val reader = new LanceColumnarReader(part, cols, Nil, conf)
    var batches = 0
    var rows = 0L
    var sum = 0L
    while (reader.next()) {
      val b = reader.get()
      batches += 1
      rows += b.numRows()
      (0 until b.numRows()).foreach(i => sum += b.column(0).getLong(i))
    }
    reader.close()
    assert(rows == 200000)
    assert(batches == 4, s"expected one batch per page, got $batches")
    assert(sum == 199999L * 200000 / 2)
  }

  test("reader and writer factories stay small: the Hadoop conf is not in the task binary") {
    val ds = tmpDs()
    val df = spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    df.coalesce(1).write.format("lance").mode("append").save(ds)
    def javaBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size()
    }
    val readers = spark.read.format("lance").load(ds).queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.readerFactory
    }
    assert(readers.size == 1)
    val writer = new graft.sources.lance.LanceBatchWrite(ds, df.schema, truncate = false)
      .createBatchWriterFactory(null)
    for (f <- readers :+ writer) {
      val n = javaBytes(f)
      assert(n < 16 * 1024, s"${f.getClass.getSimpleName} serializes to $n bytes")
    }
  }

  test("take path: _rowaddr predicates prune fragments and pages") {
    val ds = tmpDs()
    // 4 single-page fragments of 1000 rows each (fragment ids 0..3)
    (0 until 4).foreach { k =>
      spark.range(k * 1000, (k + 1) * 1000).selectExpr("id", "id * 2 AS v")
        .coalesce(1).write.format("lance").mode("append").save(ds)
    }
    val all = spark.read.format("lance").load(ds)
    assert(all.rdd.getNumPartitions == 4)

    // point lookup: one fragment planned, row correct
    val pt = all.select("_rowaddr", "id").filter(col("_rowaddr") === ((2L << 32) | 5L))
    assert(pt.rdd.getNumPartitions == 1, s"point lookup planned ${pt.rdd.getNumPartitions}")
    assert(pt.collect().map(_.getLong(1)).toSeq == Seq(2005L))

    // IN-list across two fragments
    val in = all.select("_rowaddr", "id")
      .filter(col("_rowaddr").isin((0L << 32) | 7L, (3L << 32) | 999L))
    assert(in.rdd.getNumPartitions == 2, s"IN lookup planned ${in.rdd.getNumPartitions}")
    assert(in.collect().map(_.getLong(1)).sorted.toSeq == Seq(7L, 3999L))

    // range: tail fragment only; empty range plans nothing
    assert(all.filter(col("_rowaddr") >= (3L << 32)).rdd.getNumPartitions == 1)
    assert(all.filter(col("_rowaddr") >= (9L << 32)).rdd.getNumPartitions == 0)

    // page level: a 4-page fragment still answers a point address right
    // (the one-surviving-page assertion lives in LanceDeleteSpec, which
    // can see the package-private FragmentPages)
    val big = tmpDs()
    spark.range(200000).selectExpr("id").coalesce(1)
      .write.format("lance").mode("append").save(big)
    val got = spark.read.format("lance").load(big)
      .filter(col("_rowaddr") === 150000L).select("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(150000L))
  }

  test("struct columns round-trip (grouped leaf columns)") {
    val ds = tmpDs()
    val src = spark.range(500).selectExpr(
      "id",
      "named_struct('mime', CONCAT('type/', CAST(id % 3 AS STRING)), " +
      "             'bytes', id * 10, " +
      "             'score', CAST(id AS DOUBLE) / 7.0) AS meta",
      "CASE WHEN id % 4 = 0 THEN named_struct('a', CAST(NULL AS BIGINT), 'b', 'x') " +
      "     ELSE named_struct('a', id, 'b', CAST(id AS STRING)) END AS nested"
    ).coalesce(1)
    src.write.format("lance").mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(back.count() == 500)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // field access + filter over the struct works through the connector
    assert(back.filter(col("meta.mime") === "type/1").count() == 167)
    assert(back.filter(col("nested.a").isNull).count() == 125)
  }

  test("null round-trip: validity bitmaps preserve nulls exactly") {
    val ds = tmpDs()
    val src = spark.range(1000).selectExpr(
      "id",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) / 3.0 END AS d",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 2 END AS l",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE array(CAST(id AS FLOAT), 1.5f) END AS vec"
    ).coalesce(2)
    src.write.format("lance").mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 1000)
    assert(back.filter(col("s").isNull).count() == 334)
    assert(back.filter(col("vec").isNull).count() == 91)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("append adds a version; versionAsOf time-travels; overwrite truncates") {
    val ds = tmpDs()
    val a = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(1)
    val b = spark.range(5, 8).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(1)
    a.write.format("lance").mode("append").save(ds)        // v1: 5 rows
    b.write.format("lance").mode("append").save(ds)        // v2: 8 rows
    assert(spark.read.format("lance").load(ds).count() == 8)
    assert(spark.read.format("lance").option("versionAsOf", "1").load(ds).count() == 5)
    a.write.format("lance").mode("overwrite").save(ds)     // v3: 5 rows
    assert(spark.read.format("lance").load(ds).count() == 5)
    assert(spark.read.format("lance").option("versionAsOf", "2").load(ds).count() == 8)
  }

  test("scalar scans use the columnar batch path (ColumnarToRow in plan)") {
    val df = spark.read.format("lance").load(golden).select("name", "score")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"columnar path not used:\n$plan")
    assert(df.count() == 5)
  }

  test("list<float> scans use the columnar batch path (embedding shape)") {
    val ds = tmpDs()
    Tables.register(spark, TestSpark.sfDir)
    spark.table("embeddings").write.format("lance").mode("overwrite").save(ds)
    val df = spark.read.format("lance").load(ds).select("vec_id", "embedding")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"columnar path not used for list<float>:\n$plan")
    val src = spark.table("embeddings").select("vec_id", "embedding")
    assert(df.exceptAll(src).isEmpty && src.exceptAll(df).isEmpty)
  }

  test("limit pushdown reaches the scan and prunes fragments") {
    val ds = tmpDs()
    spark.range(100000).selectExpr("id", "id * 2 AS v").repartition(8)
      .write.format("lance").mode("append").save(ds)
    val df = spark.read.format("lance").load(ds).limit(7)
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("limit=7"), s"limit not pushed: $scanDesc")
    assert(df.count() == 7)
    // only the first fragment should be planned (8 fragments of 12500 rows)
    assert(df.rdd.getNumPartitions == 1)
  }

  test("zone-map filter pushdown skips pages and stays correct") {
    val ds = tmpDs()
    // 300k sorted rows, 1 fragment -> ~5 pages of 64k; selective range
    // predicates can exclude most pages via recorded min/max
    spark.range(300000).selectExpr("id", "CAST(id AS DOUBLE) * 1.5 AS v")
      .coalesce(1).write.format("lance").mode("append").save(ds)
    val df = spark.read.format("lance").load(ds).filter(col("id") >= 290000)
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("zoneFilters=[id>="), s"no zone filters: $scanDesc")
    assert(df.count() == 10000)
    assert(df.agg(min("id")).head().getLong(0) == 290000)
    // equality + double-col filters too
    assert(spark.read.format("lance").load(ds).filter(col("v") === 150.0).count() == 1)
    assert(spark.read.format("lance").load(ds)
      .filter(col("id") < 1000 && col("v") > 100.0).count() == 1000 - 67)
    // IN-list pruning on numerics
    assert(spark.read.format("lance").load(ds)
      .filter(col("id").isin(5L, 299999L)).count() == 2)
  }

  test("fragment-level stats prune whole fragments at plan time") {
    val ds = tmpDs()
    spark.range(100000).selectExpr("id", "CAST(id AS DOUBLE) * 2 AS v")
      .repartitionByRange(8, col("id"))
      .write.format("lance").mode("append").save(ds)
    val all = spark.read.format("lance").load(ds)
    assert(all.rdd.getNumPartitions == 8)
    // range-partitioned fragments have disjoint id ranges -> a selective
    // predicate plans only the tail fragment(s), the rest never open
    val filtered = all.filter(col("id") >= 90000)
    assert(filtered.rdd.getNumPartitions <= 2,
      s"expected fragment pruning, planned ${filtered.rdd.getNumPartitions} of 8")
    assert(filtered.count() == 10000)
    assert(all.filter(col("id") < 0).rdd.getNumPartitions == 0)
  }

  test("string fragment stats prune fragments for categorical predicates") {
    val ds = tmpDs()
    // one fragment per language (three appends) -> disjoint string ranges
    Seq("de", "en", "fr").foreach { lang =>
      spark.range(10000).selectExpr("id", s"'$lang' AS lang").coalesce(1)
        .write.format("lance").mode("append").save(ds)
    }
    val all = spark.read.format("lance").load(ds)
    assert(all.rdd.getNumPartitions == 3)
    val en = all.filter(col("lang") === "en")
    assert(en.rdd.getNumPartitions == 1,
      s"expected string fragment pruning, planned ${en.rdd.getNumPartitions} of 3")
    assert(en.count() == 10000)
  }

  test("timestamp and date predicates participate in zone pruning") {
    val ds = tmpDs()
    spark.range(200000).selectExpr(
      "id",
      "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00') AS ts",
      "date_add(DATE '2024-01-01', CAST(id % 3000 AS INT)) AS d")
      .coalesce(1).write.format("lance").mode("append").save(ds)
    val late = spark.read.format("lance").load(ds)
      .filter(col("ts") >= "2024-01-03 07:00:00")
    val scanDesc = late.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("zoneFilters=[ts>="), s"ts filter not pushed: $scanDesc")
    assert(late.count() == 200000 - 198000)
    assert(spark.read.format("lance").load(ds)
      .filter(col("d") === java.sql.Date.valueOf("2024-02-01")).count() == 200000 / 3000 + 1)
  }

  test("string zone maps prune pages for categorical predicates") {
    val ds = tmpDs()
    // sorted string key -> pages carry disjoint [min,max] prefix ranges
    spark.range(200000).selectExpr("id", "format_string('k%06d', id) AS k").coalesce(1)
      .write.format("lance").mode("append").save(ds)
    val df = spark.read.format("lance").load(ds).filter(col("k") === "k199999")
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanDesc.contains("zoneFilters=[k=str]"), s"no string zone filter: $scanDesc")
    assert(df.count() == 1)
    assert(spark.read.format("lance").load(ds).filter(col("k") < "k000100").count() == 100)
    // IN-lists prune via the same stats (both members in the last page)
    assert(spark.read.format("lance").load(ds)
      .filter(col("k").isin("k199998", "k199999")).count() == 2)
    // direct reader: the equality predicate decodes 1 of the 4 pages
    import graft.sources.lance._
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = LanceFormat.fileSystem(ds, conf)
    val manifest = LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
    val frag = manifest.fragments.head
    val f = frag.files.head
    val part = LanceInputPartition(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(ds, "data"), f.path).toString,
      f.fieldIds.toArray, f.columnIndices.toArray, frag.physicalRows)
    val kField = manifest.fields.find(_.name == "k").get
    val cols = Array(ColSpec(kField.id, kField.logicalType))
    val zf = Seq((kField.id, ZoneFilter("k", "=", 0.0,
      ZoneFilter.prefixLong("k199999".getBytes("UTF-8")), isStr = true)))
    val reader = new LanceColumnarReader(part, cols, zf, conf)
    var batches = 0
    var rows = 0L
    while (reader.next()) { batches += 1; rows += reader.get().numRows() }
    reader.close()
    assert(batches == 1, s"string zone map should keep 1 of 4 pages, kept $batches")
    assert(rows == 200000 - 3 * 65536)
  }

  test("SQL INSERT INTO a lance catalog table appends a version") {
    val ds = tmpDs()
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.format("lance").mode("append").save(ds)
    spark.sql(s"INSERT INTO lance.`$ds` SELECT id + 10 AS id, CAST(id AS STRING) AS s FROM range(5)")
    assert(spark.sql(s"SELECT COUNT(*) FROM lance.`$ds`").head().getLong(0) == 10)
    // the insert created a new version; version 1 still shows 5 rows
    assert(spark.read.format("lance").option("versionAsOf", 1).load(ds).count() == 5)
  }

  test("SQL CTAS through the lance catalog creates a readable dataset") {
    val ds = tmpDs()
    spark.sql(s"CREATE TABLE lance.`$ds` AS SELECT id, CAST(id * 3 AS DOUBLE) AS v FROM range(1000)")
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("v")).head().getDouble(0) ==
      3.0 * 999 * 1000 / 2)
    assert(spark.sql(s"SELECT COUNT(*) FROM lance.`$ds` WHERE id < 10").head().getLong(0) == 10)
  }

  test("compact rewrites many small fragments into few, as a new version") {
    val ds = tmpDs()
    spark.range(10000).selectExpr("id", "CAST(id AS STRING) AS s")
      .repartition(8).write.format("lance").mode("append").save(ds)
    assert(spark.read.format("lance").load(ds).rdd.getNumPartitions == 8)
    val newVersion = graft.sources.lance.LanceMaintenance.compact(spark, ds, 1)
    val compacted = spark.read.format("lance").load(ds)
    assert(compacted.rdd.getNumPartitions == 1)
    assert(compacted.count() == 10000)
    assert(compacted.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) ==
      9999L * 10000 / 2)
    // pre-compaction version still readable with the old fragment layout
    val old = spark.read.format("lance").option("versionAsOf", newVersion - 1).load(ds)
    assert(old.rdd.getNumPartitions == 8 && old.count() == 10000)
  }

  test("scan reports statistics from the manifest") {
    val df = spark.read.format("lance").load(golden)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(5)), s"stats: $stats")
  }

  test("R5 replacement-scan equivalent: SQL over a lance path") {
    val rows = spark.sql(
      s"SELECT name, score FROM lance.`$golden` WHERE age > 30 ORDER BY score DESC")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq == Seq("Eve" -> 95.5, "David" -> 88.0, "Charlie" -> 78.5))
    // bare-path form, exactly like DuckDB's FROM 'x.lance'
    assert(spark.sql(s"SELECT COUNT(*) FROM `$golden`").head().getLong(0) == 5)
  }

  // parity with the reference's sqllogictest error cases
  // (test/sql/lance.test: lance_scan with no/invalid argument errors)
  test("error surface: missing path and nonexistent dataset fail cleanly") {
    val e1 = intercept[Exception] {
      spark.read.format("lance").load()
    }
    assert(e1.getMessage.toLowerCase.contains("path"))
    val e2 = intercept[Exception] {
      spark.read.format("lance").load("/tmp/definitely-not-a-dataset.lance").collect()
    }
    assert(e2 != null)
  }

  test("concurrent manifest commit is rejected (rename guard)") {
    val ds = tmpDs()
    spark.range(10).coalesce(1).write.format("lance").mode("append").save(ds)
    // simulate a racing writer committing the same next version directly
    val conf = spark.sessionState.newHadoopConf()
    val schema = spark.read.format("lance").load(ds).schema
    graft.sources.lance.LanceWriteSupport.writeManifest(
      conf, new org.apache.hadoop.fs.Path(ds), schema, Nil, 1, Nil, version = 2)
    val e = intercept[java.io.IOException] {
      graft.sources.lance.LanceWriteSupport.writeManifest(
        conf, new org.apache.hadoop.fs.Path(ds), schema, Nil, 1, Nil, version = 2)
    }
    assert(e.getMessage.contains("concurrent"))
  }

  test("concurrent appends all land via optimistic commit retry") {
    val ds = tmpDs()
    spark.range(0, 10).coalesce(1).write.format("lance").mode("append").save(ds)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { t =>
      new Thread(() => {
        try spark.range(t * 100, t * 100 + 10).coalesce(1)
          .write.format("lance").mode("append").save(ds)
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"concurrent appends failed: ${failures.peek()}")
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 70)
    assert(back.select("id").distinct().count() == 70)
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = graft.sources.lance.LanceFormat.fileSystem(ds, conf)
    val m = graft.sources.lance.LanceFormat.readManifest(fs,
      graft.sources.lance.LanceFormat.latestManifestPath(fs, p, None))
    // one version per committer, every fragment id unique
    assert(m.version == 7)
    assert(m.fragments.map(_.id).distinct.length == m.fragments.length)
  }

  test("appends and deletes racing: every commit lands or conflicts loudly, final state exact") {
    val ds = tmpDs()
    spark.range(0, 1000).coalesce(2).write.format("lance").mode("append").save(ds)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // deleteWhere rebases on concurrent APPENDS (provably harmless) but
    // refuses a fragment whose deletion entry changed underneath — the
    // documented client protocol is: catch the conflict and recompute
    // (re-invoke; it re-reads the head). The retry loop below IS that
    // protocol.
    def deleteRetrying(cond: String): Unit = {
      var done = false
      var attempts = 0
      while (!done) {
        try {
          graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, cond)
          done = true
        } catch {
          case _: graft.sources.lance.LanceCommitConflict if attempts < 50 =>
            attempts += 1; Thread.sleep(10)
        }
      }
    }
    val threads =
      (1 to 3).map { t =>
        new Thread(() => {
          try spark.range(10000L * t, 10000L * t + 50).coalesce(1)
            .write.format("lance").mode("append").save(ds)
          catch { case e: Throwable => failures.add(e) }
        })
      } ++ Seq("id % 10 = 1", "id % 10 = 2").map { cond =>
        new Thread(() => {
          try deleteRetrying(cond)
          catch { case e: Throwable => failures.add(e) }
        })
      }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"racing commits failed: ${failures.peek()}")
    val ids = spark.read.format("lance").load(ds)
      .select("id").collect().map(_.getLong(0)).toSet
    // any serialization is legal: base rows matching a delete predicate
    // MUST be gone; appended rows MUST be present unless they match a
    // delete predicate AND that delete's snapshot happened to include the
    // append (schedule-dependent) — so those are allowed either way
    val appended = (1 to 3).flatMap(t => 10000L * t until 10000L * t + 50).toSet
    val deletable = (i: Long) => i % 10 == 1 || i % 10 == 2
    val required = (0L until 1000L).filterNot(deletable).toSet ++
      appended.filterNot(deletable)
    val allowed = required ++ appended.filter(deletable)
    assert((required -- ids).isEmpty,
      s"rows lost: ${(required -- ids).take(5)}")
    assert((ids -- allowed).isEmpty,
      s"unexpected rows (leaked deletes?): ${(ids -- allowed).take(5)}")
  }

  test("sortBy writes produce range-disjoint fragments the planner prunes") {
    val ds = tmpDs()
    // global range sort on grp,id: each fragment covers a narrow grp slice
    spark.range(40000).selectExpr("id", "id % 8 AS grp", "CAST(id AS DOUBLE) AS v")
      .repartition(4) // scrambled input — the WRITE must arrange the layout
      .write.format("lance")
      .option("sortBy", "grp,id").option("writePartitions", "4")
      .mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 40000)
    assert(back.filter("grp = 3").count() == 5000)
    // a point filter plans only the fragment(s) whose manifest range
    // covers that grp value
    val all = back.rdd.getNumPartitions
    val pruned = back.filter("grp = 3").rdd.getNumPartitions
    assert(all >= 3, s"expected multiple fragments, got $all")
    assert(pruned <= 2, s"grp=3 planned $pruned of $all fragments — no pruning")
    assert(back.filter("id BETWEEN 100 AND 110").count() == 11)
  }

  test("clusterBy writes co-locate keys (one fragment per hash bucket)") {
    val ds = tmpDs()
    spark.range(20000).selectExpr("id", "id % 6 AS grp")
      .repartition(5)
      .write.format("lance")
      .option("clusterBy", "grp").option("sortBy", "id")
      .option("writePartitions", "3")
      .mode("append").save(ds)
    val back = spark.read.format("lance").load(ds)
    assert(back.count() == 20000)
    // every grp value lives in exactly one fragment: grouping by the
    // cluster key needs no wide shuffle of row data, and exact-dedup by
    // grp would be fragment-local
    val conf = spark.sessionState.newHadoopConf()
    val (fs, p) = graft.sources.lance.LanceFormat.fileSystem(ds, conf)
    val m = graft.sources.lance.LanceFormat.readManifest(fs,
      graft.sources.lance.LanceFormat.latestManifestPath(fs, p, None))
    assert(m.fragments.length >= 2)
    val byFrag = back.withColumn("_f", org.apache.spark.sql.functions
        .spark_partition_id())
    val spread = byFrag.groupBy("grp")
      .agg(org.apache.spark.sql.functions.countDistinct("_f").as("nf"))
      .agg(org.apache.spark.sql.functions.max("nf")).head.getLong(0)
    assert(spread == 1, s"a grp value spans $spread fragments")
  }

  test("writePartitions without a layout is refused by name") {
    val ds = tmpDs()
    val err = intercept[IllegalArgumentException] {
      spark.range(100).toDF("id").write.format("lance")
        .option("writePartitions", "2").mode("overwrite").save(ds)
    }
    Seq("writePartitions", "sortBy", "clusterBy", "partitionBy", "bucketBy").foreach { o =>
      assert(err.getMessage.contains(o), err.getMessage)
    }
    // with a layout the same fragment count writes
    spark.range(100).toDF("id").write.format("lance")
      .option("sortBy", "id").option("writePartitions", "2").mode("overwrite").save(ds)
    assert(spark.read.format("lance").load(ds).count() == 100)
  }

  test("versionAsOf resolves an explicit manifest version") {
    val df = spark.read.format("lance").option("versionAsOf", "1").load(golden)
    assert(df.count() == 5)
    val err = intercept[Exception] {
      spark.read.format("lance").option("versionAsOf", "99").load(golden).collect()
    }
    assert(err.getMessage.contains("99"))
  }
}
