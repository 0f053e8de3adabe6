package graft.sources.lance

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.operators.{Fts, ScalarIndex, Similarity}

/** Driver-local reads ([[LanceLocal]]) against the DSv2 scan: the same
  * rows across storage layouts, versions and tails, and the same answers
  * from the index faces that use them (BTREE lookup, the flat and IVF_PQ
  * combined-live searches, FTS), with no Spark job. */
class LanceLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(got: LanceLocal.Rows): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(got.schema)
    got.rows.map(toRow(_).asInstanceOf[Row])
  }

  private def byId(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.getLong(0))

  private def fixture(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).selectExpr("id", "CAST(id % 5 AS STRING) AS grp",
      "CAST(id AS DOUBLE) / 3 AS v",
      "IF(id % 11 = 0, NULL, concat('t', id % 97)) AS txt",
      "array(CAST(id AS FLOAT), CAST(id % 7 AS FLOAT)) AS emb")

  private type Writer = DataFrameWriter[Row]

  /** FuzzLance's layouts: (name, write options, read options). */
  private val layouts: Seq[(String, Writer => Writer, Map[String, String])] = Seq(
    ("plain", w => w, Map.empty),
    ("zstd", w => w.option("compression", "zstd"), Map.empty),
    ("sorted", w => w.option("sortBy", "id").option("writePartitions", "4"), Map.empty),
    ("partitioned", w => w.option("partitionBy", "grp"), Map.empty),
    ("bucketed", w => w.option("bucketBy", "8:id").option("writePartitions", "4"), Map.empty),
    ("split", w => w, Map("splitRows" -> "500")),
    ("stable", w => w.option("stableRowIds", "true").option("sortBy", "id"), Map.empty),
    ("deleted", w => w.option("sortBy", "id").option("writePartitions", "3"), Map.empty))

  private def reader(opts: Map[String, String]): DataFrameReader =
    opts.foldLeft(spark.read.format("lance")) { case (r, (k, v)) => r.option(k, v) }

  test("local rows equal the DSv2 scan's rows in every layout, pruned or not") {
    val dir = tmp("lance_local_layouts")
    layouts.foreach { case (name, opts, readOpts) =>
      val path = s"$dir/$name.lance"
      opts(fixture(0, 3000).repartition(3).write.format("lance").mode("overwrite")).save(path)
      if (name == "deleted") LanceMaintenance.deleteWhere(spark, path, "id % 7 = 3")
      val cols = Seq("*", "_rowaddr") ++ (if (name == "stable") Seq("_rowid") else Nil)
      val scan = reader(readOpts).load(path).select(cols.map(col): _*)
      val local = LanceLocal.read(spark, path, columns = cols).get
      assert(local.schema.map(f => (f.name, f.dataType, f.nullable)) ==
        scan.schema.map(f => (f.name, f.dataType, f.nullable)), name)
      val all = byId(scan.collect().toSeq)
      assert(byId(rowsOf(local)) == all, s"$name: full read differs")

      // zone filters prune pages only: the exact predicate gives equal rows
      val keys = Set(5L, 1234L, 2999L, 3L)
      val zoned = LanceLocal.read(spark, path, columns = cols,
        zoneFilters = ZoneFilter.in("id", keys.toSeq).toSeq).get
      assert(byId(rowsOf(zoned).filter(r => keys(r.getLong(0)))) ==
        all.filter(r => keys(r.getLong(0))), s"$name: zone-filtered read differs")
      // the take path: address ranges of a few rows
      val at = local.schema.fieldIndex("_rowaddr")
      val addrs = all.map(_.getLong(at)).sorted.grouped(700).map(_.head).toArray
      val taken = LanceLocal.read(spark, path, columns = cols,
        addrFilters = Seq(AddrRangeSet(addrs.flatMap(a => Array(a, a))))).get
      assert(byId(rowsOf(taken).filter(r => addrs.contains(r.getLong(at)))) ==
        all.filter(r => addrs.contains(r.getLong(at))), s"$name: take differs")
    }
  }

  test("local rows equal the DSv2 scan at old versions, over tails and merged columns") {
    val path = s"${tmp("lance_local_versions")}/ds.lance"
    fixture(0, 1000).repartition(2).write.format("lance").mode("overwrite").save(path)
    fixture(1000, 1500).write.format("lance").mode("append").save(path)
    LanceMaintenance.deleteWhere(spark, path, "id % 9 = 0")
    fixture(1500, 1600).coalesce(1).write.format("lance").mode("append").save(path)
    val cols = Seq("id", "txt", "_rowaddr")
    def same(local: Option[LanceLocal.Rows], scan: DataFrame, what: String): Unit =
      assert(byId(rowsOf(local.get)) == byId(scan.select(cols.map(col): _*).collect().toSeq), what)
    (1L to 4L).foreach { v =>
      same(LanceLocal.read(spark, path, Some(v), columns = cols),
        spark.read.format("lance").option("versionAsOf", v).load(path), s"version $v")
    }
    same(LanceLocal.read(spark, path, fromVersion = Some(2L), columns = cols),
      spark.read.format("lance").option("fromVersion", 2L).load(path), "tail after v2")
    same(LanceLocal.read(spark, path, Some(3L), Some(1L), cols),
      spark.read.format("lance").option("versionAsOf", 3L).option("fromVersion", 1L)
        .load(path), "tail (1, 3]")
    // column-merged fragments: the new columns ride in slice files
    LanceMaintenance.mergeColumns(spark, path,
      spark.range(0, 1600, 3).selectExpr("id AS rid", "id * 10 AS extra"), "id", "rid")
    val merged = Seq("*", "_rowaddr")
    assert(byId(rowsOf(LanceLocal.read(spark, path, columns = merged).get)) ==
      byId(spark.read.format("lance").load(path).select(merged.map(col): _*).collect().toSeq))
  }

  test("a read over the byte cap returns None") {
    val path = s"${tmp("lance_local_cap")}/big.lance"
    spark.range(0, 1200).selectExpr("id", "concat(CAST(id AS STRING), repeat('x', 8000)) AS pad")
      .coalesce(1).write.format("lance").mode("overwrite").save(path)
    assert(LanceLocal.read(spark, path, columns = Seq("id")).isEmpty)
    // pruned to no fragment, the same dataset reads locally
    assert(LanceLocal.read(spark, path, columns = Seq("id"),
      addrFilters = Seq(AddrRangeSet(Array(5L << 32, 5L << 32)))).exists(_.rows.isEmpty))
    // and the collect face falls back to the DSv2 scan
    assert(LanceLocal.collect(spark, path, None).map(_.getLong(0)).toSeq == (0L until 1200L))
  }

  test("headVersion is the listing's largest version after every commit kind") {
    val path = s"${tmp("lance_local_head")}/ds.lance"
    val conf = spark.sessionState.newHadoopConf()
    def check(what: String): Unit = {
      val (fs, p) = LanceFormat.fileSystem(path, conf)
      assert(LanceFormat.headVersion(conf, path) ==
        LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None)).version, what)
    }
    fixture(0, 400).repartition(4).write.format("lance").mode("overwrite").save(path)
    check("create")
    fixture(400, 500).write.format("lance").mode("append").save(path)
    check("append")
    fixture(0, 300).write.format("lance").mode("overwrite").save(path)
    check("overwrite")
    LanceMaintenance.deleteWhere(spark, path, "id < 10")
    check("delete")
    LanceMaintenance.compact(spark, path)
    check("compaction")
    LanceMaintenance.restore(spark, path, 2L)
    check("restore")
  }

  // ---- the write -------------------------------------------------------------

  private def manifestOf(path: String): LanceFormat.Manifest = {
    val (fs, p) = LanceFormat.fileSystem(path, spark.sessionState.newHadoopConf())
    LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, None))
  }

  test("a local write commits what the DSv2 write commits, with no job") {
    val dir = tmp("lance_local_write")
    // (name, sortBy, fixed-size-list columns, stable row ids: both copies
    // start from one DSv2 write with them, which later writes continue)
    val cases = Seq(("plain", Nil, Map.empty[String, Int], false),
      ("sorted_fsl_stable", Seq("grp", "id"), Map("emb" -> 2), true))
    // a history of appends and overwrites; each step's rows arrive in a
    // shuffled order, so the sort is the writer's
    val history = Seq(("overwrite", 0L, 300L), ("append", 300L, 420L),
      ("overwrite", 420L, 500L), ("append", 500L, 530L))
    cases.foreach { case (name, sortBy, fsl, stable) =>
      val (local, dsv2) = (s"$dir/$name-local.lance", s"$dir/$name-dsv2.lance")
      if (stable) Seq(local, dsv2).foreach(p => fixture(900, 910).coalesce(1).write.format("lance")
        .mode("overwrite").option("stableRowIds", "true").option("fixedSizeList", "emb:2").save(p))
      history.foreach { case (mode, lo, hi) =>
        val df = fixture(lo, hi).orderBy(expr("hash(id)"))
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
        val rows = LanceLocal.Rows(df.schema,
          df.collect().toIndexedSeq.map(toCatalyst(_).asInstanceOf[InternalRow]))
        val (_, jobs) = jobsOf(LanceLocal.write(spark, local, rows, mode, sortBy, fsl))
        assert(jobs == 0, s"$name $mode ran $jobs jobs")
        var w = df.coalesce(1).write.format("lance").mode(mode)
        if (sortBy.nonEmpty)
          w = w.option("sortBy", sortBy.mkString(",")).option("writePartitions", "1")
        if (fsl.nonEmpty) w = w.option("fixedSizeList", fsl.map { case (c, d) => s"$c:$d" }.mkString(","))
        w.save(dsv2)
        val (ml, md) = (manifestOf(local), manifestOf(dsv2))
        assert(ml.version == md.version, s"$name $mode")
        assert(ml.fields == md.fields, s"$name $mode: fields")
        assert(ml.sortCols == md.sortCols, s"$name $mode: sortCols")
        assert(ml.nextRowId == md.nextRowId, s"$name $mode: nextRowId")
        assert(ml.fragments.map(_.rowIds) == md.fragments.map(_.rowIds), s"$name $mode: row ids")
        val cols = Seq("*", "_rowaddr") ++ (if (stable) Seq("_rowid") else Nil)
        def read(p: String) = spark.read.format("lance").load(p).select(cols.map(col): _*)
          .collect().toSeq.map(_.toString).sorted
        assert(read(local) == read(dsv2), s"$name $mode: rows")
      }
    }
  }

  test("a frame folds to driver rows only when no job computes it") {
    val local = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val folded = LanceLocal.folded(local.filter(col("id") > 1).select(col("s"), col("id") * 2))
    assert(folded.map(_.rows.map(r => (r.getUTF8String(0).toString, r.getLong(1)))) ==
      Some(IndexedSeq(("b", 4L), ("c", 6L))))
    assert(LanceLocal.folded(spark.range(3).toDF()).isEmpty)
    assert(LanceLocal.folded(local.groupBy("s").count()).isEmpty)
  }

  // ---- the three index faces ---------------------------------------------

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")

  private def doc(id: Long, salt: Int): (Long, String, Array[Float]) = {
    val r = new java.util.Random(id * 31 + salt)
    val text = Seq.fill(4 + r.nextInt(8))(vocab(r.nextInt(vocab.size))).mkString(" ")
    (id, text, Array.fill(16)(r.nextFloat() * 2 - 1))
  }

  /** `docs` as a corpus frame; the padded twin carries ~9 KB per row. */
  private def frame(docs: Seq[(Long, String, Array[Float])], padded: Boolean): DataFrame = {
    val df = docs.toDF("doc_id", "text", "embedding")
    if (padded) df.withColumn("pad", concat(col("doc_id").cast("string"), expr("repeat('x', 9000)")))
    else df
  }

  private def writeDocs(path: String, docs: Seq[(Long, String, Array[Float])],
                        padded: Boolean, mode: String): Unit =
    frame(docs, padded).coalesce(1).write.format("lance").mode(mode)
      .option("fixedSizeList", "embedding:16").option("stableRowIds", "true").save(path)

  test("the three faces answer on the driver with no job, exactly as the DSv2 plan") {
    val dir = tmp("lance_local_faces")
    // one history on two corpora: `small` reads locally; every row of
    // `padded` carries ~9 KB more, so its source reads exceed the cap and
    // the faces run their DSv2 plans over the same rows and versions
    val corpora = Seq(s"$dir/small.lance" -> false, s"$dir/padded.lance" -> true)
    corpora.foreach { case (p, pad) => writeDocs(p, (0L until 1200L).map(doc(_, 0)), pad, "overwrite") }
    val (small, padded) = (corpora(0)._1, corpora(1)._1)
    ScalarIndex.build(spark, small, "doc_id", s"$dir/bt", writePartitions = 2,
      stableRowIds = true)
    Fts.buildIndexLance(spark, small, "doc_id", "text", s"$dir/fts", writePartitions = 2)
    Similarity.ivfPqBuildPersistLance(spark, small, "doc_id", "embedding", 8, s"$dir/ivf")
    Similarity.ivfBuildPersistLance(spark, small, "doc_id", "embedding", 8, s"$dir/ivf")
    // appends, upserts and deletes since the build
    val upserted = Seq(5L, 42L, 77L, 300L, 901L)
    corpora.foreach { case (p, pad) =>
      writeDocs(p, (1200L until 1230L).map(doc(_, 0)), pad, "append")
      LanceMaintenance.mergeInsert(spark, p, frame(upserted.map(doc(_, 1)), pad), Seq("doc_id"))
      LanceMaintenance.deleteWhere(spark, p, "doc_id IN (7, 43, 1205, 650)")
    }
    Similarity.clearIndexCaches()
    Fts.clearStatsCache()

    def both[A](face: String => DataFrame)(answer: DataFrame => A): Unit = {
      val (local, localJobs) = jobsOf(answer(face(small)))
      val (scan, scanJobs) = jobsOf(answer(face(padded)))
      assert(localJobs == 0, s"local face ran $localJobs jobs")
      assert(scanJobs > 0, "the padded corpus should run the DSv2 plan")
      assert(local == scan)
    }
    both(ScalarIndex.lookupCombined(spark, _, s"$dir/bt", Seq(5L, 42L, 650L, 1210L, 1111L))) {
      _.select("doc_id", "text").collect().toSeq.sortBy(_.getLong(0))
    }
    val query = doc(77L, 1)._3.toSeq
    both(Similarity.ivfPqSearchCombinedLive(spark, s"$dir/ivf", _, "doc_id", "embedding",
      query, 10, nProbe = 4)) { _.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq }
    both(Similarity.ivfSearchCombinedLive(spark, s"$dir/ivf", _, "doc_id", "embedding",
      query, 10, nProbe = 4)) { _.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq }
    Seq(Seq("alpha"), Seq("beta", "pi", "nope")).foreach { terms =>
      both(Fts.searchCombinedLive(spark, s"$dir/fts", _, "doc_id", "text", terms, 10)) {
        _.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    }
  }

  test("the BM25 plain function scores exactly as the Spark expression") {
    val r = new java.util.Random(7)
    val rows = Seq.fill(2000)((1L + r.nextInt(9), 1L + r.nextInt(60), r.nextInt(500).toLong))
    val (nDocs, avgdl) = (4321L, 17.25)
    val got = rows.map { case (tf, dl, df) => Fts.contribMicroOf(nDocs, avgdl, tf, dl, df) }
    val want = rows.toDF("tf", "dl", "df").select(Fts.contribMicro(nDocs, avgdl))
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    val sums = got.grouped(7).map(_.sum).toSeq
    assert(sums.map(Fts.scoreOf) ==
      sums.toDF("m").select(round(col("m") / lit(1e6), 6)).collect().map(_.getDouble(0)).toSeq)
  }
}
