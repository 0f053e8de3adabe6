package graft

/** Connector-differential fuzzing: every generated SQL query
  * (scripts/fuzzgen.py) runs once against the parquet fixtures and once
  * against a LANCE ROUND-TRIP of the same tables, per storage layout —
  * plain pages, zstd-compressed pages, range-sorted fragments,
  * value-partitioned fragments (KeyGroupedPartitioning reads), hash
  * buckets, and split-fragment reads. Any byte the writer/reader pair
  * mishandles (encodings, zone pruning, partition grouping, slice
  * clipping) surfaces as a value diff on some query — the SQL-fuzz idea
  * pointed at the STORAGE engine instead of the SQL dialect.
  *
  * Spark-vs-Spark, so no DuckDB needed; queries carry a total ORDER BY,
  * so results compare as ordered row lists.
  *
  *   python3 scripts/fuzzgen.py 42 150 /tmp/fuzz.json
  *   sbt "runMain graft.FuzzLance /root/testdata/sf0.01 /tmp/fuzz.json"
  */
object FuzzLance {

  private val tables = Seq("lineitem", "orders", "customer", "part",
                           "supplier", "documents")
  // a low-ish-cardinality non-null string column per table for the
  // value-partitioned layout; first int column for sort/bucket layouts
  private val partCol = Map(
    "lineitem" -> "l_returnflag", "orders" -> "o_orderstatus",
    "customer" -> "c_mktsegment", "part" -> "p_brand",
    "supplier" -> "s_name", "documents" -> "lang")
  private val intCol = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey",
    "supplier" -> "s_suppkey", "documents" -> "doc_id")

  def main(args: Array[String]): Unit = {
    val (sfDir, queryFile) = (args(0), args(1))
    val spark = GraftSession.local(GraftSession.cpus(8))
    val qs = FuzzVerify.readQueries(queryFile)

    // ground truth off the parquet fixtures
    Tables.register(spark, sfDir)
    val expected = qs.map { case (n, sql) => n -> spark.sql(sql).collect().toSeq }.toMap

    val work = graft.queries.QDef.tempWorkDir("graft-fuzz-lance")
    val layouts: Seq[(String, (org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row], String) => org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row], Map[String, String])] = Seq(
      ("plain", (w, _) => w, Map.empty),
      ("zstd", (w, _) => w.option("compression", "zstd"), Map.empty),
      ("sorted", (w, t) => w.option("sortBy", intCol(t))
         .option("writePartitions", "4"), Map.empty),
      ("partitioned", (w, t) => w.option("partitionBy", partCol(t)), Map.empty),
      ("bucketed", (w, t) => w.option("bucketBy", s"8:${intCol(t)}")
         .option("writePartitions", "4"), Map.empty),
      ("split", (w, _) => w, Map("splitRows" -> "1000")),
      ("stable", (w, t) => w.option("stableRowIds", "true")
         .option("sortBy", intCol(t)), Map.empty))

    var mismatches = 0
    def runLayout(layout: String, expect: Map[String, Seq[org.apache.spark.sql.Row]]): Unit = {
      var bad = 0
      qs.foreach { case (n, sql) =>
        val got = try spark.sql(sql).collect().toSeq catch {
          case e: Throwable =>
            System.err.println(s"[fuzz-lance] $layout/$n threw: ${GraftSession.rootLine(e)}")
            null
        }
        if (got == null || got != expect(n)) {
          bad += 1
          mismatches += 1
          if (bad <= 3) System.err.println(
            s"[fuzz-lance] MISMATCH $layout/$n: " +
            s"expected ${expect(n).size} rows, got ${Option(got).map(_.size)}")
        }
      }
      println(s"[fuzz-lance] layout=$layout: ${qs.size - bad}/${qs.size} match")
    }
    layouts.foreach { case (layout, opts, readOpts) =>
      tables.foreach { t =>
        val df = Tables.load(spark, sfDir, t)
        opts(df.write.format("lance").mode("overwrite"), t)
          .save(s"$work/$layout/$t.lance")
        var r = spark.read.format("lance")
        readOpts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(s"$work/$layout/$t.lance").createOrReplaceTempView(t)
      }
      runLayout(layout, expected)
      // restore parquet views for the next layout's write source
      Tables.register(spark, sfDir)
    }

    // deletion-vector differential: delete a deterministic slice of every
    // lance table (DELETE = per-fragment roaring masks, no rewrite), apply
    // the SAME predicate as a filter on the parquet ground truth, and
    // demand every query still agrees — masking must be invisible to the
    // whole relational surface (aggregates, joins, windows, set ops).
    val delPred = Map(
      "lineitem" -> "l_orderkey % 7 = 3", "orders" -> "o_orderkey % 7 = 3",
      "customer" -> "c_custkey % 7 = 3", "part" -> "p_partkey % 7 = 3",
      "supplier" -> "s_suppkey % 7 = 3", "documents" -> "doc_id % 7 = 3")
    tables.foreach { t =>
      val ds = s"$work/deleted/$t.lance"
      Tables.load(spark, sfDir, t).write.format("lance")
        .option("sortBy", intCol(t)).option("writePartitions", "3")
        .mode("overwrite").save(ds)
      graft.sources.lance.LanceMaintenance.deleteWhere(spark, ds, delPred(t))
      spark.read.format("lance").load(ds).createOrReplaceTempView(t)
    }
    val expectedDel = {
      val views = tables.map(t => t ->
        Tables.load(spark, sfDir, t).filter(s"NOT (${delPred(t)})")).toMap
      // compute ground truth on filtered parquet views, then restore lance
      views.foreach { case (t, df) => df.createOrReplaceTempView(s"__del_$t") }
      qs.map { case (n, sql) =>
        val rewritten = tables.foldLeft(sql)((acc, t) =>
          acc.replaceAll(s"\\b$t\\b", s"__del_$t"))
        n -> spark.sql(rewritten).collect().toSeq
      }.toMap
    }
    runLayout("deleted", expectedDel)

    println(s"[fuzz-lance] total mismatches: $mismatches over " +
      s"${layouts.size + 1} layouts x ${qs.size} queries")
    spark.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
