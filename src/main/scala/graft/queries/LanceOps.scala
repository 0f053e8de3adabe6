package graft.queries

import graft.Tables
import graft.functions.ArrayKernels.longDot
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lance connector coverage in the declared-query registry.
  *
  * The driver's DuckDB oracle has no Lance extension, but every value these
  * queries produce originates in the parquet fixtures (or the golden file's
  * known constants) — so the oracles check the same computation against the
  * parquet source / VALUES literals, proving the lance round-trip is
  * lossless end-to-end. Connector internals are additionally pinned by
  * LanceSpec/LanceForeignSpec.
  */
object LanceOps {

  private lazy val workDir =
    QDef.tempWorkDir("graft-lance-q")

  /** Build-once-per-(session, dir) for the ngram index — the corpus-sized
    * trigram explode is the offline build cost (the e06/f02 pattern). */
  private val ngramBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]
  private def ensureNgram(s: org.apache.spark.sql.SparkSession,
                          dir: String): (String, String) =
    ngramBuilt.computeIfAbsent(dir, _ => {
      val t = Tables.register(s, dir)
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val ds = s"$workDir/documents_ngx_$key.lance"
      t("documents").select("doc_id", "lang", "text")
        .write.format("lance").mode("overwrite").save(ds)
      val ix = s"$workDir/documents_ngx_idx_$key"
      graft.operators.ScalarIndex.buildNgram(s, ds, "text", ix)
      (ds, ix)
    })

  /** Build-once-per-(session, dir) for the co-partitioned l21 datasets —
    * the partitioned write (one clustered exchange each) is the offline
    * layout cost; the benched quantity is the zero-shuffle join. */
  private val partitionedBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]
  private def ensurePartitioned(s: org.apache.spark.sql.SparkSession,
                                dir: String): (String, String) =
    partitionedBuilt.computeIfAbsent(dir, _ => {
      val t = Tables.register(s, dir)
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val dsO = s"$workDir/orders_part_$key.lance"
      val dsL = s"$workDir/lineitem_part_$key.lance"
      t("orders").withColumn("bkt", col("o_orderkey") % 16)
        .write.format("lance")
        .option("partitionBy", "bkt").option("sortBy", "o_orderkey")
        .mode("overwrite").save(dsO)
      t("lineitem").select("l_orderkey", "l_quantity", "l_extendedprice")
        .withColumn("bkt", col("l_orderkey") % 16)
        .write.format("lance")
        .option("partitionBy", "bkt").option("sortBy", "l_orderkey")
        .mode("overwrite").save(dsL)
      (dsO, dsL)
    })

  private val bucketedBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]
  private def ensureBucketed(s: org.apache.spark.sql.SparkSession,
                             dir: String): (String, String) =
    bucketedBuilt.computeIfAbsent(dir, _ => {
      val t = Tables.register(s, dir)
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val dsO = s"$workDir/orders_bkt_$key.lance"
      val dsL = s"$workDir/lineitem_bkt_$key.lance"
      t("orders").select("o_orderkey", "o_orderpriority")
        .write.format("lance").option("bucketBy", "16:o_orderkey")
        .option("writePartitions", "8").mode("overwrite").save(dsO)
      t("lineitem").select("l_orderkey", "l_quantity")
        .write.format("lance").option("bucketBy", "16:l_orderkey")
        .option("writePartitions", "8").mode("overwrite").save(dsL)
      (dsO, dsL)
    })

  val defs: Seq[QDef] = Seq(

    // golden-dataset scan through the DSv2 connector (reference R1-R4);
    // oracle = the golden file's known rows as a VALUES literal
    QDef("l01_lance_scan_golden", (s, _) => {
      s.read.format("lance").load("/root/reference/test/test_data.lance")
        .filter(col("age") > 20).orderBy("id")
    }, Some("""
      SELECT id, name, age, CAST(score AS DOUBLE) AS score FROM (VALUES
        (1, 'Alice', 25, 85.5),
        (2, 'Bob', 30, 92.0),
        (3, 'Charlie', 35, 78.5),
        (4, 'David', 40, 88.0),
        (5, 'Eve', 45, 95.5)) t(id, name, age, score)
      WHERE age > 20 ORDER BY id""")),

    // write fixtures to lance, read back, aggregate (R6-R8 + R1-R4);
    // oracle aggregates the parquet source directly
    QDef("l02_lance_roundtrip_agg", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/supplier.lance"
      t("supplier").write.format("lance").mode("overwrite").save(ds)
      s.read.format("lance").load(ds)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), Det.dsum(col("s_acctbal")).as("total_bal"))
        .orderBy("s_nationkey")
    }, Some(s"""
      SELECT s_nationkey, COUNT(*) AS n, ${Det.oSum("s_acctbal")} AS total_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // compressed write end-to-end: zstd page-buffer compression (the 2.1
    // general-compression analogue, applied by this writer at page
    // granularity) + a range-sorted layout — the scan decompresses only
    // surviving pages and the oracle aggregates the parquet source, so a
    // mis-sized buffer, wrong raw length, or codec/zone interaction breaks
    // the hash. LanceCompressionSpec pins the size win and plain fallback.
    QDef("l18_lance_compressed", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_zstd.lance"
      t("documents")
        .write.format("lance")
        .option("compression", "zstd").option("sortBy", "doc_id")
        .option("writePartitions", "4")
        .mode("overwrite").save(ds)
      s.read.format("lance").load(ds)
        .filter(col("doc_id") % 3 === 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
             sum(length(col("text"))).as("text_chars"),
             sum(length(col("source"))).as("src_chars"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars,
             CAST(SUM(LENGTH(source)) AS BIGINT) AS src_chars
      FROM documents WHERE doc_id % 3 = 0
      GROUP BY lang ORDER BY lang""")),

    // blob refs end-to-end (lance blob / storage_class analogue): payloads
    // written as a binary column, read back as struct<path,pos,len>
    // REFERENCES (offsets-buffer-only decode — payload bytes never read by
    // the scan), filtered, then resolved by ranged reads. md5/len of the
    // fetched bytes against the parquet source pins the whole path:
    // page layout, offset math, ref ranges, fetch. ref_len comes off the
    // ref itself (never the bytes), pinning the offsets-derived lengths.
    QDef("l19_blob_fetch", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_blob.lance"
      t("documents")
        .select(col("doc_id"), col("lang"), col("text").cast(BinaryType).as("payload"))
        .write.format("lance").mode("overwrite").save(ds)
      val refs = s.read.format("lance").option("blobRefs", "payload").load(ds)
        .filter(col("doc_id") % 17 === 0)
      graft.operators.Blobs.fetch(refs, "payload", "bytes")
        .select(col("doc_id"), col("lang"),
          md5(col("bytes")).as("payload_md5"),
          length(col("bytes")).cast(IntegerType).as("payload_len"),
          col("payload.len").cast(IntegerType).as("ref_len"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang, md5(text) AS payload_md5,
             CAST(octet_length(CAST(text AS BLOB)) AS INT) AS payload_len,
             CAST(octet_length(CAST(text AS BLOB)) AS INT) AS ref_len
      FROM documents WHERE doc_id % 17 = 0 ORDER BY doc_id""")),

    // vector search directly over a lance dataset (lance's core use case) —
    // scaled-long exact cosine (the e01 determinism recipe) over the
    // round-tripped embeddings, codegen LongDot kernel
    QDef("l03_lance_vector_search", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/embeddings.lance"
      t("embeddings").write.format("lance").mode("overwrite").save(ds)
      val e = s.read.format("lance").load(ds)
        .select(col("vec_id"),
                transform(col("embedding"),
                  x => round(x.cast(DoubleType) * 10000000.0).cast(LongType)).as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") > 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
                round(longDot(col("v"), col("qv")).cast(DoubleType) /
                  (sqrt(longDot(col("v"), col("v")).cast(DoubleType)) *
                   sqrt(longDot(col("qv"), col("qv")).cast(DoubleType))), 9).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }, Some("""
      WITH d AS (
        SELECT vec_id, CAST(i AS INT) AS i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS v
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)),
      q AS (SELECT i AS qi, v AS qv FROM d WHERE vec_id = 0),
      qn AS (SELECT CAST(SUM(qv * qv) AS BIGINT) AS qnrm FROM q),
      dots AS (SELECT vec_id, CAST(SUM(v * qv) AS BIGINT) AS dot,
                      CAST(SUM(v * v) AS BIGINT) AS nrm
               FROM d JOIN q ON i = qi WHERE vec_id > 0 GROUP BY vec_id)
      SELECT vec_id,
             ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(nrm AS DOUBLE)) * SQRT(CAST(qnrm AS DOUBLE))), 9) AS cos
      FROM dots CROSS JOIN qn
      ORDER BY cos DESC, vec_id LIMIT 10""")),

    // deletion vectors end-to-end: write, deleteWhere (roaring bitmap +
    // new manifest version), masked re-read — the oracle computes the same
    // aggregate over the parquet source minus the deleted predicate, so a
    // single resurrected or double-masked row breaks the hash
    QDef("l05_lance_delete", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/orders_del.lance"
      t("orders").write.format("lance").mode("overwrite").save(ds)
      graft.sources.lance.LanceMaintenance.deleteWhere(s, ds, "o_orderstatus = 'F'")
      s.read.format("lance").load(ds)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n, ${Det.oSum("o_totalprice")} AS total
      FROM orders WHERE o_orderstatus <> 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // merge-insert (lance merge_insert analogue) end-to-end: matched keys
    // replaced, unmatched inserted, ONE committed version — the oracle
    // recomputes the merged state relationally (source rows + anti-joined
    // target rows), so a lost update, resurrected old row, or duplicated
    // key breaks the hash
    QDef("l06_lance_merge", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/orders_merge.lance"
      t("orders").write.format("lance").mode("overwrite").save(ds)
      val updates = t("orders").filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val inserts = t("orders").filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      graft.sources.lance.LanceMaintenance.mergeInsert(
        s, ds, updates.unionByName(inserts), Seq("o_orderkey"))
      s.read.format("lance").load(ds)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0),
      merged AS (
        SELECT * FROM src
        UNION ALL
        SELECT * FROM orders o WHERE NOT EXISTS (
          SELECT 1 FROM src WHERE src.o_orderkey = o.o_orderkey))
      SELECT o_orderpriority, COUNT(*) AS n, ${Det.oSum("o_totalprice")} AS total
      FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // layout-controlled write end-to-end: a GLOBAL range sort on
    // l_shipdate at write time (DSv2 RequiresDistributionAndOrdering)
    // gives range-disjoint fragments, and the date-range scan plans only
    // the fragments whose manifest stats cover the window — the oracle
    // checks the aggregate is exact, LanceSpec asserts the pruning
    QDef("l09_lance_sorted_scan", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/lineitem_sorted.lance"
      t("lineitem").select("l_orderkey", "l_shipdate", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .write.format("lance")
        .option("sortBy", "l_shipdate").option("writePartitions", "16")
        .mode("overwrite").save(ds)
      s.read.format("lance").load(ds)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("qty"),
             Det.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag, COUNT(*) AS n, ${Det.oSum("l_quantity")} AS qty,
             ${Det.oSum("l_extendedprice")} AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // take path end-to-end (lance Dataset::take analogue): rows fetched by
    // _rowaddr from a doc_id-sorted single-fragment dataset — the pushed
    // IN-list prunes to one fragment and, on multi-page fragments, to the
    // pages owning the addresses. Writing sorted makes offset i the i-th
    // smallest doc_id, so DuckDB reproduces the fetch with ROW_NUMBER.
    QDef("l10_lance_take", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_sorted.lance"
      t("documents").orderBy("doc_id").coalesce(1)
        .sortWithinPartitions("doc_id")
        .write.format("lance").mode("overwrite").save(ds)
      val rel = s.read.format("lance").load(ds)
      // fragment ids grow across overwrites in a shared workDir — resolve
      // the base address once, then take by literal addresses (pushdown
      // needs literals, exactly like an ANN probe handing back row ids)
      val base = rel.select(min(col("_rowaddr"))).head().getLong(0)
      val offs = Seq(3L, 17L, 128L, 311L, 499L)
      rel.filter(col("_rowaddr").isin(offs.map(base + _): _*))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang, n_chars
      FROM (SELECT doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rn
            FROM documents)
      WHERE rn IN (3, 17, 128, 311, 499)
      ORDER BY doc_id""")),

    // scalar index end-to-end (lance create_scalar_index BTREE analogue):
    // build the sorted (key, addr) sidecar over an UNSORTED base dataset,
    // point-lookup through it (zone-pruned probe -> _rowaddr take), plus a
    // range probe — the oracle recomputes both from the parquet source, so
    // a stale addr, mis-sorted sidecar, or wrong take decode breaks the
    // hash. ScalarIndexSpec asserts the pruning.
    QDef("l11_scalar_index_lookup", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/customer_sidx.lance"
      // shuffle the write order: the index, not base-table order, must
      // locate the keys
      t("customer").orderBy(col("c_name").desc)
        .write.format("lance").mode("overwrite").save(ds)
      val ix = s"$workDir/customer_sidx_idx.lance"
      graft.operators.ScalarIndex.build(s, ds, "c_custkey", ix)
      val pts = graft.operators.ScalarIndex.lookup(s, ds, ix,
        Seq(7L, 42L, 101L, 149L))
      val rng = graft.operators.ScalarIndex.lookupRange(s, ds, ix, 60L, 70L)
      pts.unionByName(rng)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey IN (7, 42, 101, 149)
         OR (c_custkey >= 60 AND c_custkey < 70)
      ORDER BY c_custkey""")),

    // label-list index end-to-end (lance-index LABEL_LIST analogue, the
    // array_has_any query shape): docs carry a token-prefix tag array;
    // the exploded (label, addr) posting sidecar probes two labels,
    // dedupes addrs, take-fetches. Oracle recomputes membership over the
    // same 4-token prefix with LIKE (order-stable, version-safe spelling).
    QDef("l12_labellist_lookup", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_tags.lance"
      t("documents")
        .select(col("doc_id"), col("lang"),
                slice(split(col("text"), " "), 1, 4).as("tags"))
        .write.format("lance").mode("overwrite").save(ds)
      val ix = s"$workDir/documents_tags_idx.lance"
      graft.operators.ScalarIndex.buildLabels(s, ds, "tags", ix)
      graft.operators.ScalarIndex.lookupAnyLabel(s, ds, ix,
          Seq("merge", "filter"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ' ' || array_to_string(string_split(text, ' ')[1:4], ' ') || ' ' AS pfx
        FROM documents)
      WHERE pfx LIKE '% merge %' OR pfx LIKE '% filter %'
      ORDER BY doc_id""")),

    // BITMAP index end-to-end (lance-index BITMAP scalar-index type): one
    // roaring bitmap per (key, fragment) built executor-side with the
    // deletion-file codec, probed conjunctively across TWO indexes — the
    // per-fragment OR-then-AND runs on compressed offset sets before any
    // row materializes, then one take-fetch. The oracle recomputes the
    // conjunction relationally, so a wrong bitmap bit, a lost fragment
    // shard, or a bad intersect breaks the hash.
    QDef("l13_bitmap_index", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/customer_bmx.lance"
      // unsorted write: the bitmaps, not data order, must find the rows
      t("customer").orderBy(col("c_acctbal"))
        .write.format("lance").mode("overwrite").save(ds)
      val ixSeg = s"$workDir/customer_bmx_seg"
      val ixNat = s"$workDir/customer_bmx_nat"
      graft.operators.ScalarIndex.buildBitmap(s, ds, "c_mktsegment", ixSeg)
      graft.operators.ScalarIndex.buildBitmap(s, ds, "c_nationkey", ixNat)
      graft.operators.ScalarIndex.lookupBitmapAnd(s, ds,
          ixSeg, Seq("BUILDING"), ixNat, Seq(7L, 12L))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_nationkey IN (7, 12)
      ORDER BY c_custkey""")),

    // NGRAM index end-to-end (lance-index NGRAM scalar-index type, the
    // LIKE '%needle%' accelerator): distinct character trigrams post to a
    // range-sorted (gram, addr) sidecar; the probe intersects the
    // needle's gram posting slivers (HAVING count = n_grams), take-fetches
    // the candidates, and re-verifies with a real contains — exact by
    // construction, and the oracle IS the LIKE scan it replaces. The
    // trigram build (the one corpus-sized job) memoizes per session like
    // the IVF/FTS builds — the query measures the PROBE, the offline
    // build cost is ScalarIndexSpec's and the first run's.
    QDef("l14_ngram_index", (s, dir) => {
      val (ds, ix) = ensureNgram(s, dir)
      graft.operators.ScalarIndex.lookupContains(s, ds, ix, "text",
          "merge window")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang FROM documents
      WHERE text LIKE '%merge window%'
      ORDER BY doc_id""")),

    // column-merge end-to-end (crate Dataset::merge / add_columns): a
    // per-customer aggregate joins onto the customer dataset by key and
    // lands as column-slice files (existing data files untouched); the
    // read routes field ids across each fragment's slices. The oracle
    // recomputes the join relationally, so a misaligned slice offset, a
    // wrong null-fill, or a mis-routed field id breaks the hash.
    QDef("l15_lance_merge_columns", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/customer_mergec.lance"
      t("customer").write.format("lance").mode("overwrite").save(ds)
      val orderAgg = t("orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             Det.dsum(col("o_totalprice")).as("order_total"))
      graft.sources.lance.LanceMaintenance.mergeColumns(
        s, ds, orderAgg, "c_custkey", "o_custkey")
      s.read.format("lance").load(ds)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
             count(col("n_orders")).as("with_orders"),
             Det.dsum(coalesce(col("order_total"), lit(0.0))).as("seg_total"))
        .orderBy("c_mktsegment")
    }, Some(s"""
      WITH oa AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ${Det.oSum("o_totalprice")} AS order_total
        FROM orders GROUP BY o_custkey)
      SELECT c_mktsegment, COUNT(*) AS n,
             COUNT(oa.n_orders) AS with_orders,
             ${Det.oSum("COALESCE(oa.order_total, 0.0)")} AS seg_total
      FROM customer c LEFT JOIN oa ON c.c_custkey = oa.o_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // Move-stable row ids end-to-end (crate `enable_move_stable_row_ids`):
    // a scalar index keyed by `_rowid` is built, then the dataset is
    // DELETED FROM and COMPACTED underneath it — rows move to new
    // addresses, ids don't. The probe resolves id -> current address
    // through the head manifest's sequences, so a wrong sequence after
    // compaction, a leaked deleted id, or a bad id->addr walk breaks the
    // hash. The oracle recomputes the filter relationally (deleted rows
    // excluded — their ids vanished with the compaction).
    QDef("l16_stable_rowid_index", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/supplier_rid.lance"
      t("supplier").repartition(3).write.format("lance")
        .option("stableRowIds", "true").mode("overwrite").save(ds)
      val ix = s"$workDir/supplier_rid_ix"
      graft.operators.ScalarIndex.build(s, ds, "s_nationkey", ix,
        stableRowIds = true)
      graft.sources.lance.LanceMaintenance.deleteWhere(s, ds, "s_acctbal < 0")
      graft.sources.lance.LanceMaintenance.compactStable(s, ds,
        targetFragments = 2)
      graft.operators.ScalarIndex.lookup(s, ds, ix, Seq(3L, 9L, 14L))
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    }, Some("""
      SELECT s_suppkey, s_name, s_nationkey FROM supplier
      WHERE s_nationkey IN (3, 9, 14) AND s_acctbal >= 0
      ORDER BY s_suppkey""")),

    // Row-level change feed between versions (full-fidelity CDC on top of
    // move-stable row ids): insert = live id in v_to not in v_from,
    // delete = converse — two metadata-only `_rowid` scans anti-joined,
    // full rows fetched only for changed ids. A compaction BETWEEN the
    // endpoints (rows move, ids don't) must contribute nothing; the
    // oracle recomputes both legs relationally, so a reassigned id, a
    // leaked compacted row, or a missed delete breaks the hash.
    QDef("l17_change_feed", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/supplier_cdc.lance"
      val sup = t("supplier")
      sup.filter(col("s_suppkey") % 2 === 0)
        .write.format("lance").option("stableRowIds", "true")
        .mode("overwrite").save(ds)
      graft.sources.lance.LanceMaintenance.deleteWhere(s, ds, "s_acctbal < 0")
      sup.filter(col("s_suppkey") % 2 === 1)
        .write.format("lance").mode("append").save(ds)
      graft.sources.lance.LanceMaintenance.compactStable(s, ds,
        targetFragments = 2)
      val head = graft.sources.lance.LanceFormat.headVersion(
        s.sessionState.newHadoopConf(), ds)
      graft.sources.lance.LanceMaintenance.changesBetween(s, ds, 1L, head)
        .select(col("_change"), col("s_suppkey"), col("s_name"),
                col("s_acctbal"))
        .orderBy("_change", "s_suppkey")
    }, Some("""
      SELECT * FROM (
        SELECT 'insert' AS _change, s_suppkey, s_name, s_acctbal
        FROM supplier WHERE s_suppkey % 2 = 1
        UNION ALL
        SELECT 'delete' AS _change, s_suppkey, s_name, s_acctbal
        FROM supplier WHERE s_suppkey % 2 = 0 AND s_acctbal < 0)
      ORDER BY _change, s_suppkey""")),

    // UPDATE analogue end-to-end: predicate-matched rows replaced with
    // transformed selves (deletion vectors + staged fragments, one
    // version); oracle applies the same CASE rewrite relationally
    QDef("l08_lance_update", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/lineitem_upd.lance"
      t("lineitem").select("l_orderkey", "l_linenumber", "l_quantity",
          "l_discount", "l_returnflag")
        .write.format("lance").mode("overwrite").save(ds)
      graft.sources.lance.LanceMaintenance.updateWhere(s, ds,
        "l_returnflag = 'R' AND l_discount > 0.05",
        Map("l_quantity" -> "l_quantity + 100", "l_returnflag" -> "'X'"))
      s.read.format("lance").load(ds)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("qty"))
        .orderBy("l_returnflag")
    }, Some(s"""
      WITH updated AS (
        SELECT CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
                    THEN l_quantity + 100 ELSE l_quantity END AS l_quantity,
               CASE WHEN l_returnflag = 'R' AND l_discount > 0.05
                    THEN 'X' ELSE l_returnflag END AS l_returnflag
        FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n, ${Det.oSum("l_quantity")} AS qty
      FROM updated GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // schema evolution end-to-end: add column (old fragments null-fill),
    // rename column (id kept), append rows carrying the new column — the
    // oracle reconstructs the evolved state relationally, so a mis-mapped
    // field id or a non-null backfill breaks the hash
    // schema evolution end-to-end, top-level AND nested: add a double
    // column, add + rename struct sub-fields (manifest-only commits),
    // append rows carrying the evolved schema (path-keyed field-id
    // matching), aggregate across both fragment eras.
    QDef("l07_lance_evolution", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/customer_evo.lance"
      t("customer")
        .select(col("c_custkey"), col("c_acctbal"),
                struct(col("c_name").as("name"),
                       col("c_mktsegment").as("seg")).as("info"))
        .write.format("lance").mode("overwrite").save(ds)
      graft.sources.lance.LanceMaintenance.addColumn(
        s, ds, "loyalty", DoubleType)
      graft.sources.lance.LanceMaintenance.addColumn(
        s, ds, "info.tier", StringType)
      graft.sources.lance.LanceMaintenance.renameColumn(
        s, ds, "info.seg", "segment")
      t("customer").filter(col("c_custkey") % 5 === 0)
        .select((col("c_custkey") + lit(1000000L)).as("c_custkey"),
                col("c_acctbal"),
                struct(col("c_name").as("name"),
                       col("c_mktsegment").as("segment"),
                       when(col("c_acctbal") > 5000.0, lit("gold"))
                         .otherwise(lit("std")).as("tier")).as("info"),
                (col("c_acctbal") / 100.0).as("loyalty"))
        .write.format("lance").mode("append").save(ds)
      s.read.format("lance").load(ds)
        .groupBy(col("info.segment").as("segment"))
        .agg(count(lit(1)).as("n"),
             count(col("loyalty")).as("with_loyalty"),
             count(col("info.tier")).as("with_tier"),
             Det.dsum(coalesce(col("loyalty"), lit(0.0))).as("loyalty_sum"))
        .orderBy("segment")
    }, Some(s"""
      WITH all_rows AS (
        SELECT c_mktsegment AS segment, CAST(NULL AS DOUBLE) AS loyalty,
               CAST(NULL AS VARCHAR) AS tier
        FROM customer
        UNION ALL
        SELECT c_mktsegment, c_acctbal / 100.0,
               CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END
        FROM customer WHERE c_custkey % 5 = 0)
      SELECT segment, COUNT(*) AS n, COUNT(loyalty) AS with_loyalty,
             COUNT(tier) AS with_tier,
             ${Det.oSum("COALESCE(loyalty, 0.0)")} AS loyalty_sum
      FROM all_rows GROUP BY segment ORDER BY segment""")),

    // multimodal-on-lance: binary payloads + struct metadata stored as a
    // lance dataset, decoded partition-wise on re-read (SURVEY §2.5
    // multimodal + the connector's struct/binary surface together).
    // Oracle recomputes the byte statistics (length / mean byte / histogram
    // entropy) from the source text; header-derived dimensions are m02's
    // story (text payloads have none).
    QDef("l04_lance_multimodal", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/media.lance"
      t("documents")
        .select(col("doc_id"),
                col("text").cast("binary").as("payload"),
                struct(lit("text/plain").as("mime"),
                       length(col("text")).cast("long").as("n_chars")).as("meta"))
        .write.format("lance").mode("overwrite").save(ds)
      val media = s.read.format("lance").load(ds)
        .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      import s.implicits._
      graft.operators.Multimodal.decode(media.as[graft.operators.Multimodal.MediaRow])
        .toDF()
        .select(col("doc_id"), col("n_bytes"),
                round(col("mean_byte"), 6).as("mean_byte"),
                round(col("entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    }, Some("""
      WITH chars AS (
        SELECT doc_id, ASCII(c) AS b FROM (
          SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)),
      hist AS (SELECT doc_id, b, COUNT(*) AS cnt FROM chars GROUP BY 1, 2),
      tot AS (SELECT doc_id, LENGTH(text) AS n FROM documents)
      SELECT t.doc_id,
             CAST(t.n AS INT) AS n_bytes,
             ROUND(SUM(b * cnt) / CAST(t.n AS DOUBLE), 6) AS mean_byte,
             ROUND(-SUM((cnt / CAST(t.n AS DOUBLE)) * LOG2(cnt / CAST(t.n AS DOUBLE))), 6) AS entropy
      FROM hist h JOIN tot t ON h.doc_id = t.doc_id
      GROUP BY t.doc_id, t.n
      ORDER BY t.doc_id""")),

    // runtime (dynamic-pruning) filtering: the lance fact is range-sorted
    // on the join key, the dim filter is selective, and the scan
    // implements SupportsRuntimeV2Filtering — Spark hands the realized
    // build-side key set to the scan, which prunes whole fragments via
    // manifest stats before opening a file. The result is layout- and
    // pruning-invariant (the join re-checks every key), so the oracle is
    // the same join over the parquet source; LanceRuntimeFilterSpec pins
    // that the filter actually reaches the scan and drops fragments.
    QDef("l20_runtime_prune", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/orders_bykey.lance"
      t("orders").select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
        .write.format("lance")
        .option("sortBy", "o_custkey").option("writePartitions", "16")
        .mode("overwrite").save(ds)
      val fact = s.read.format("lance").load(ds)
      val dim = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
        .select("c_custkey")
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n, ${Det.oSum("o_totalprice")} AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // storage-partitioned join: orders and lineitem value-partitioned on a
    // shared bucket key (o_orderkey % 16) and sorted by the join key within
    // each fragment — the scan reports KeyGroupedPartitioning + SortOrder,
    // so the fact-fact join runs with ZERO shuffle and ZERO sort (the
    // grouped fragments zip pairwise; LancePartitionSpec pins the plan
    // shape). At 100 TB this is the layout that removes the dominant
    // exchange entirely. Oracle joins the parquet sources with the same
    // (redundant) bucket-equality conjunct.
    QDef("l21_partitioned_join", (s, dir) => {
      val (dsO, dsL) = ensurePartitioned(s, dir)
      val o = s.read.format("lance").load(dsO)
      val l = s.read.format("lance").load(dsL)
      o.join(l, o("bkt") === l("bkt") && o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             Det.dsum(col("l_extendedprice")).as("rev"),
             sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n,
             ${Det.oSum("l_extendedprice")} AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM orders JOIN lineitem
        ON (o_orderkey % 16) = (l_orderkey % 16) AND o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // hash-bucket layout + catalog `bucket` function: the join runs on the
    // RAW high-cardinality key (o_orderkey) with no materialized bucket
    // column and NO join-side shuffle — the catalog-resolved reads report
    // bucket(16, key) KeyGroupedPartitioning on both sides and Spark
    // zips the co-bucketed fragments (LanceBucketSpec pins the plan).
    QDef("l23_bucketed_join", (s, dir) => {
      val (dsO, dsL) = ensureBucketed(s, dir)
      s.sql(s"""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lance.`$dsO` o JOIN lance.`$dsL` l
          ON o.o_orderkey = l.l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // partition-key aggregation over a lang-partitioned corpus: the
    // documents table laid out one-fragment-per-language (the data-lake
    // layout for per-language pipeline stages) aggregates by lang with NO
    // exchange — partial aggs per fragment ARE the final groups.
    QDef("l22_partitioned_agg", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_bylang.lance"
      t("documents").select("doc_id", "lang", "text", "n_chars")
        .write.format("lance")
        .option("partitionBy", "lang").option("sortBy", "doc_id")
        .mode("overwrite").save(ds)
      s.read.format("lance").load(ds)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
             sum("n_chars").as("chars"),
             sum(length(col("text")).cast("long")).as("text_chars"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars
      FROM documents GROUP BY lang ORDER BY lang""")),

    // Incrementally-maintained materialized view end-to-end: create over
    // a subset, churn the source (delete + append), refresh via the
    // change feed — ONLY affected groups rewrite. The oracle recomputes
    // the final state relationally from parquet, so a missed delta, a
    // double-applied delete, a dropped group, or inexact decimal
    // maintenance arithmetic all break the hash.
    QDef("l24_incremental_matview", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/orders_mv_src.lance"
      val mv = s"$workDir/orders_mv.lance"
      val ord = t("orders").select("o_orderkey", "o_orderpriority",
        "o_totalprice")
      ord.filter(col("o_orderkey") % 3 =!= 0)
        .write.format("lance").option("stableRowIds", "true")
        .mode("overwrite").save(ds)
      graft.operators.MatView.create(s, ds, mv,
        Seq("o_orderpriority"), Seq("o_totalprice"))
      graft.sources.lance.LanceMaintenance.deleteWhere(s, ds,
        "o_totalprice > 400000")
      ord.filter(col("o_orderkey") % 3 === 0)
        .write.format("lance").mode("append").save(ds)
      graft.operators.MatView.refresh(s, mv)
      graft.operators.MatView.read(s, mv)
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("o_orderpriority")
    }, Some(s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             ${Det.oSum("o_totalprice")} AS total
      FROM orders
      WHERE o_orderkey % 3 = 0
         OR (o_orderkey % 3 <> 0 AND o_totalprice <= 400000)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // NDV sketch sidecar end-to-end: build per-fragment HLL sketches,
    // append (refresh sketches ONLY the new fragments), answer
    // COUNT(DISTINCT) sidecar-only. The exact NDV is oracled directly;
    // the sketch estimate is pinned as a hash-checked accuracy bit
    // (within 5% of exact — a broken union, a missed fragment, or a
    // stale sidecar flips it and breaks the hash).
    QDef("l25_ndv_sidecar", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/documents_ndv.lance"
      val ix = s"$workDir/documents_ndv_ix"
      val docs = t("documents").select("doc_id", "n_chars")
      docs.filter(col("doc_id") % 2 === 0).repartition(3)
        .write.format("lance").mode("overwrite").save(ds)
      graft.operators.SketchIndex.build(s, ds, "n_chars", ix)
      docs.filter(col("doc_id") % 2 === 1).repartition(2)
        .write.format("lance").mode("append").save(ds)
      graft.operators.SketchIndex.refresh(s, ix)
      val est = graft.operators.SketchIndex.ndv(s, ds, ix)
      val exact = s.read.format("lance").load(ds)
        .select("n_chars").distinct().count()
      import s.implicits._
      Seq((exact, math.abs(est - exact.toDouble) / exact < 0.05))
        .toDF("ndv_exact", "sketch_ok")
    }, Some("""
      SELECT COUNT(DISTINCT n_chars) AS ndv_exact, true AS sketch_ok
      FROM documents""")),

    // Hidden date-transform partitioning (days(ts)) end-to-end: two
    // event datasets written day-partitioned storage-partition-join ON
    // THE RAW TIMESTAMP (equal ts => equal day; the catalog's `days` V2
    // function resolves the transform — zero join shuffle, pinned by
    // LanceDaysSpec), then roll up per (day, type). The oracle recomputes
    // relationally from parquet, so wrong day cuts, dropped fragments, or
    // a bad partition-value codec all break the hash.
    QDef("l26_days_partitioned", (s, dir) => {
      val t = Tables.register(s, dir)
      val dsA = s"$workDir/events_days_a.lance"
      val dsB = s"$workDir/events_days_b.lance"
      val ev = t("events")
      ev.filter(col("value") > 300)
        .select(col("ts"), col("event_type"), col("value"))
        .write.format("lance").option("partitionBy", "days(ts)")
        .mode("overwrite").save(dsA)
      ev.select(col("ts"), col("user_id"))
        .write.format("lance").option("partitionBy", "days(ts)")
        .mode("overwrite").save(dsB)
      s.sql(
        s"""SELECT CAST(a.ts AS DATE) AS day, a.event_type,
                   COUNT(*) AS n,
                   CAST(SUM(b.user_id) AS BIGINT) AS uid_sum,
                   ${Det.sSum("a.value")} AS val_sum
            FROM lance.`$dsA` a JOIN lance.`$dsB` b ON a.ts = b.ts
            GROUP BY 1, 2 ORDER BY day, event_type""")
    }, Some(s"""
      SELECT CAST(CAST(a.ts AS TIMESTAMP) AS DATE) AS day, a.event_type,
             COUNT(*) AS n,
             CAST(SUM(b.user_id) AS BIGINT) AS uid_sum,
             ${Det.oSum("a.value")} AS val_sum
      FROM events a JOIN events b ON a.ts = b.ts
      WHERE a.value > 300
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Joined (star-rollup) materialized view: orders fact x customer dim
    // rolled up by market segment, maintained through the change feed
    // with the dim pinned and broadcast — delta rows join the dim the
    // same way the full compute did, so refresh ≡ recompute exactly.
    // The oracle recomputes the final state relationally.
    QDef("l27_joined_matview", (s, dir) => {
      val t = Tables.register(s, dir)
      val ds = s"$workDir/orders_jmv_src.lance"
      val dimP = s"$workDir/customer_jmv_dim.lance"
      val mv = s"$workDir/orders_jmv.lance"
      val ord = t("orders").select("o_orderkey", "o_custkey", "o_totalprice")
      ord.filter(col("o_orderkey") % 4 =!= 0)
        .write.format("lance").option("stableRowIds", "true")
        .mode("overwrite").save(ds)
      t("customer").select("c_custkey", "c_mktsegment")
        .write.format("lance").mode("overwrite").save(dimP)
      graft.operators.MatView.create(s, ds, mv,
        Seq("c_mktsegment"), Seq("o_totalprice"),
        dims = Seq((dimP, "o_custkey", "c_custkey")))
      graft.sources.lance.LanceMaintenance.deleteWhere(s, ds,
        "o_totalprice < 50000")
      ord.filter(col("o_orderkey") % 4 === 0)
        .write.format("lance").mode("append").save(ds)
      graft.operators.MatView.refresh(s, mv)
      graft.operators.MatView.read(s, mv)
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_o_totalprice").cast("double").as("total"))
        .orderBy("c_mktsegment")
    }, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS cnt,
             ${Det.oSum("o_totalprice")} AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 4 = 0
         OR (o_orderkey % 4 <> 0 AND o_totalprice >= 50000)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))
  )
}
