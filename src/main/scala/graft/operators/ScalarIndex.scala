package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar (BTREE-analogue) index over a lance dataset — the lance crate's
  * `create_scalar_index` re-expressed Spark-first (`/root/reference/
  * Cargo.lock`: `lance-index` ships btree/bitmap scalar indexes; the
  * reference surfaces them through the lance scan's pushdown).
  *
  * Structure: the index IS a lance dataset of `(key, addr)` pairs written
  * globally sorted by key (`sortBy` → RequiresDistributionAndOrdering →
  * range-disjoint fragments). A point/range probe therefore prunes to the
  * one fragment (and page) whose manifest stats cover the key — the same
  * mechanism a BTREE's interior nodes provide, expressed as zone maps.
  * The probe returns row ADDRESSES, and the fetch goes through the take
  * path: a pushed `_rowaddr` IN-list plans only the owning fragments and
  * decodes only the owning pages.
  *
  * At 100 TB: a lookup touches one index fragment (~1/writePartitions of
  * the skinny key+addr sidecar) plus the take pages — never the corpus.
  * The collect between probe and fetch is the index's result — a bounded
  * row-id list, exactly what the crate's btree hands its take; `maxRows`
  * fails loudly if a mis-used "lookup" would materialize a scan-sized
  * result on the driver (use a plain pushed filter for that).
  *
  * Staleness contract (same as the crate): the index addresses the
  * VERSION it was built from. Rows appended later are not covered until
  * [[build]] runs again; rows deleted later are masked by the take path's
  * deletion-vector handling (a stale addr fetches nothing, never a wrong
  * row). [[update]] (and the bitmap/ngram twins) extend an index over the
  * append tail instead.
  *
  * Every kind but the label list is a published index
  * ([[graft.sources.lance.IndexStore]]): `meta.lance` holds
  * (built_version, key_col, [stable,] data_version), and probes read the
  * data sidecar at `data_version`.
  */
object ScalarIndex {

  import graft.sources.lance.{IndexStore, LanceFormat, LanceLocal, MaintenanceLock}
  import IndexStore.Published

  /** Build (or rebuild) the index sidecar for `keyCol`. One range shuffle
    * of `(key, addr)` — the index build is the offline cost. The source
    * head version is published alongside (`meta.lance`) so
    * [[lookupCombined]] can cover the append tail.
    */
  def build(spark: SparkSession, datasetPath: String, keyCol: String,
            indexPath: String, writePartitions: Int = 8,
            stableRowIds: Boolean = false): Long =
    // stable mode stores move-stable row IDS instead of addresses: the
    // index keeps answering correctly after the dataset is compacted
    // underneath it (ids survive the move; lookup resolves id -> current
    // address through the manifest's sequences at probe time)
    buildPublished(spark, datasetPath, indexPath, "keys", writePartitions,
        Seq("key_col" -> keyCol, "stable" -> stableRowIds), keyRows(keyCol, stableRowIds))

  /** Whether this index stores row ids (vs addresses) — `stable` meta
    * column; absent in pre-stable indexes, defaulting to false. */
  private def isStable(pub: Published): Boolean = {
    val i = pub.row.schema.fieldNames.indexOf("stable")
    i >= 0 && !pub.row.isNullAt(i) && pub.row.getBoolean(i)
  }

  private def metaPath(indexPath: String): String = s"$indexPath/meta.lance"

  private def requireMeta(spark: SparkSession, indexPath: String): Published =
    IndexStore.published(spark, metaPath(indexPath)).getOrElse(
      throw new IllegalStateException(s"$indexPath has no meta.lance"))

  /** The data sidecar pinned at the published `data_version` (the head
    * for legacy indexes without one; see [[IndexStore]]). */
  private def sidecar(spark: SparkSession, indexPath: String, name: String,
                      pub: Option[Published]): DataFrame =
    IndexStore.pinned(spark, indexPath, s"$name.lance",
      pub.flatMap(_.pin("data_version")))

  /** The source rows of one version window: the snapshot at `to` when
    * `from` is 0 (a build), else only the fragments committed after
    * `from` (an update's tail). */
  private def window(spark: SparkSession, datasetPath: String,
                     from: Long, to: Long): DataFrame = {
    val rd = spark.read.format("lance").option("versionAsOf", to)
    (if (from > 0) rd.option("fromVersion", from) else rd).load(datasetPath)
  }

  /** How an index kind derives its sidecar rows from source rows: the
    * source `columns` it reads, a row-wise `project` (which folds into a
    * `LocalRelation` over a driver-local read), then `finish` as a plan
    * or `finishLocal` as plain rows on the driver, equal row for row. */
  private final case class Derive(
      columns: Seq[String], project: DataFrame => DataFrame,
      finish: DataFrame => DataFrame = identity,
      finishLocal: IndexedSeq[InternalRow] => IndexedSeq[InternalRow] = identity) {
    def of(src: DataFrame): DataFrame = finish(project(src.select(columns.map(col): _*)))
  }

  private def keyRows(keyCol: String, stable: Boolean): Derive = {
    val addr = if (stable) "_rowid" else "_rowaddr"
    Derive(Seq(keyCol, addr), _.select(col(keyCol).as("key"), col(addr).as("addr")))
  }

  private def writeSorted(rows: DataFrame, path: String, mode: String,
                          writePartitions: Int): Unit =
    rows.write.format("lance")
      .option("sortBy", "key")
      .option("writePartitions", writePartitions.toString)
      .mode(mode).save(path)

  /** Publish (built_version, `fields`, data_version = the data sidecar's
    * head) to meta.lance. */
  private def publishMeta(spark: SparkSession, indexPath: String, name: String,
                          fence: Option[MaintenanceLock.Fence], builtV: Long,
                          fields: Seq[(String, Any)]): Unit =
    IndexStore.publish(spark, metaPath(indexPath), fence,
      (("built_version" -> builtV) +: fields) :+ ("data_version" ->
        LanceFormat.headVersion(spark.sessionState.newHadoopConf(),
          s"$indexPath/$name.lance")): _*)

  /** The one build body: `rows` of the source at its head overwrite the
    * data sidecar, then meta publishes. */
  private def buildPublished(spark: SparkSession, datasetPath: String,
                             indexPath: String, name: String,
                             writePartitions: Int, fields: Seq[(String, Any)],
                             rows: Derive): Long = {
    val builtV = LanceFormat.headVersion(spark.sessionState.newHadoopConf(), datasetPath)
    writeSorted(rows.of(window(spark, datasetPath, 0L, builtV)), s"$indexPath/$name.lance",
      "overwrite", writePartitions)
    publishMeta(spark, indexPath, name, None, builtV, fields)
    builtV
  }

  /** The one update body of every kind — the crate's `optimize_indices`
    * for a scalar index, O(tail): under the fenced maintenance lock, sweep
    * a fence-aborted predecessor's orphan tail, append the `rowsOf(record)`
    * of the source tail as NEW key-sorted fragments (existing fragments
    * untouched; a probe prunes by zone maps per fragment), then republish
    * the record with the covered version and the new data pin. Fence
    * BEFORE the sweep: a usurped holder resuming from a pause must not
    * restore the sidecar to ITS stale record and delete a successor's
    * fresh tail. A tail that fits [[LanceLocal.CapBytes]] is read, derived
    * and appended on the driver with no Spark job; a larger one runs the
    * DSv2 plan. */
  private def appendUpdate(spark: SparkSession, datasetPath: String,
                           indexPath: String, name: String,
                           writePartitions: Int)(rowsOf: Published => Derive): Long = {
    val conf = spark.sessionState.newHadoopConf()
    MaintenanceLock.withLockFenced(indexPath, conf) { fence =>
      val pub = requireMeta(spark, indexPath)
      val headV = LanceFormat.headVersion(conf, datasetPath)
      if (headV == pub.built) pub.built
      else {
        fence.check()
        pub.pin("data_version").foreach(
          IndexStore.sweep(spark, indexPath, s"$name.lance", _))
        val rows = rowsOf(pub)
        val path = s"$indexPath/$name.lance"
        (for {
          tail <- LanceLocal.read(spark, datasetPath, Some(headV), Some(pub.built), rows.columns)
          projected = rows.project(tail.frame(spark))
          got <- LanceLocal.folded(projected)
          local = LanceLocal.Rows(rows.finish(projected).schema, rows.finishLocal(got.rows))
          if local.fits
        } yield local) match {
          case Some(local) => LanceLocal.write(spark, path, local, "append", sortBy = Seq("key"))
          case None => writeSorted(rows.of(window(spark, datasetPath, pub.built, headV)),
            path, "append", writePartitions)
        }
        publishMeta(spark, indexPath, name, Some(fence), headV,
          pub.row.schema.fieldNames.toSeq
            .filterNot(Set("built_version", "data_version"))
            .map(n => n -> pub.row.getAs[Any](n)))
        headV
      }
    }
  }

  /** Translate a probed `addr` column to CURRENT row addresses: identity
    * for an address index; for a stable index, resolve ids through the
    * `head` manifest's row-id sequences (driver-side metadata walk, the
    * manifest read only then). Ids compacted away with their deletes
    * simply vanish — a stale id fetches nothing, never a wrong row.
    */
  private def resolveAddrs(head: => LanceFormat.Manifest, stable: Boolean,
                           vals: Array[Long]): Array[Long] =
    if (!stable) vals
    else {
      val byId = LanceFormat.addrOfRowIds(head, vals.toSeq)
      vals.flatMap(byId.get)
    }

  /** Incrementally extend the index over rows appended after the build:
    * the post-build fragments' `(key, addr)` pairs append as new
    * range-sorted fragments, so a probe opens at most one old + one new
    * fragment per key. After an update, [[lookup]] covers exactly what a
    * full [[build]] at the head would — the addr SET is identical, only
    * the fragment layout differs.
    */
  def update(spark: SparkSession, datasetPath: String, indexPath: String,
             writePartitions: Int = 2): Long =
    appendUpdate(spark, datasetPath, indexPath, "keys", writePartitions)(
      pub => keyRows(pub.row.getString(1), isStable(pub)))

  /** Greedy coverage-optimal interval cover: split the sorted addrs at
    * the (maxIntervals - 1) largest gaps — for a fixed interval budget
    * this minimizes covered slack, so page pruning stays tight whether
    * the matches cluster (sorted layout) or scatter. */
  private[graft] def intervalCover(sorted: Array[Long],
                                   maxIntervals: Int): Array[(Long, Long)] = {
    if (sorted.isEmpty) return Array.empty
    val n = sorted.length
    if (n <= maxIntervals) return sorted.map(a => (a, a))
    // indices i where a gap sorted(i+1) - sorted(i) opens; keep the largest
    val gapIdx = (0 until n - 1).sortBy(i => -(sorted(i + 1) - sorted(i)))
      .take(maxIntervals - 1).sorted
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](maxIntervals)
    var start = 0
    for (g <- gapIdx) { out += ((sorted(start), sorted(g))); start = g + 1 }
    out += ((sorted(start), sorted(n - 1)))
    out.toArray
  }

  private def requireLookup(matched: Int, maxRows: Int): Unit =
    require(matched <= maxRows,
      s"scalar-index lookup matched > $maxRows rows — this is a scan, " +
        "not a lookup; filter the dataset directly instead")

  private def fetchByAddrs(spark: SparkSession, datasetPath: String,
                           probe: DataFrame, maxRows: Int,
                           stable: Boolean = false): DataFrame = {
    val vals = probe.select("addr")
      .limit(maxRows + 1).collect().map(_.getLong(0))
    requireLookup(vals.length, maxRows)
    val addrs = resolveAddrs(LanceLocal.snapshot(spark, datasetPath).manifest,
      stable, vals).sorted
    if (addrs.isEmpty)
      return spark.read.format("lance").load(datasetPath).limit(0)
    // ship the probe result as a <=256-interval cover through a scan
    // option (fragment + page pruning, no 100k-literal In expression);
    // exactness comes from the binary-searched membership kernel below
    val ranges = intervalCover(addrs, 256)
      .map { case (lo, hi) => s"$lo:$hi" }.mkString(",")
    spark.read.format("lance").option("addrRanges", ranges).load(datasetPath)
      .filter(graft.functions.ArrayKernels
        .longInSortedArray(col("_rowaddr"), addrs))
  }

  /** Point / IN-list lookup: zone-pruned index probe → take-path fetch. */
  def lookup(spark: SparkSession, datasetPath: String, indexPath: String,
             keys: Seq[Any], maxRows: Int = 100000): DataFrame = {
    val pub = IndexStore.published(spark, metaPath(indexPath))
    val probe = sidecar(spark, indexPath, "keys", pub)
      .filter(col("key").isin(keys: _*))
    fetchByAddrs(spark, datasetPath, probe, maxRows, pub.exists(isStable))
  }

  /** Range lookup `lo <= key < hi` — the BTREE range-scan shape; the
    * sorted layout prunes to the covering fragment run.
    */
  def lookupRange(spark: SparkSession, datasetPath: String, indexPath: String,
                  lo: Any, hi: Any, maxRows: Int = 100000): DataFrame = {
    val pub = IndexStore.published(spark, metaPath(indexPath))
    val probe = sidecar(spark, indexPath, "keys", pub)
      .filter(col("key") >= lit(lo) && col("key") < lit(hi))
    fetchByAddrs(spark, datasetPath, probe, maxRows, pub.exists(isStable))
  }

  /** Point / IN-list lookup that ALSO covers rows appended after the
    * index build (crate semantics for a stale index — the ANN combined
    * search's scalar twin): index probe for the covered prefix, plus a
    * `fromVersion` CDC scan of ONLY the post-build fragments with the
    * key filter pushed (zone maps still prune inside the tail). Union of
    * addrs, one take fetch; rows deleted since the build stay masked on
    * both sides (index addrs by the take path's deletion vectors, the
    * tail by reading the live dataset).
    */
  def lookupCombined(spark: SparkSession, datasetPath: String,
                     indexPath: String, keys: Seq[Any],
                     maxRows: Int = 100000): DataFrame = {
    // the tail bound and the pin come from ONE publish record
    val pub = requireMeta(spark, indexPath)
    lookupCombinedLocal(spark, datasetPath, indexPath, pub, keys, maxRows)
      .getOrElse {
        val keyCol = pub.row.getString(1)
        val stable = isStable(pub)
        val idxProbe = sidecar(spark, indexPath, "keys", Some(pub))
          .filter(col("key").isin(keys: _*)).select("addr")
        val tailProbe = spark.read.format("lance")
          .option("fromVersion", pub.built).load(datasetPath)
          .filter(col(keyCol).isin(keys: _*))
          .select(col(if (stable) "_rowid" else "_rowaddr").as("addr"))
        fetchByAddrs(spark, datasetPath, idxProbe.unionByName(tailProbe),
                     maxRows, stable)
      }
  }

  /** [[lookupCombined]] answered on the driver through bounded local
    * reads ([[LanceLocal]]), with no Spark job: the index probe at its
    * pin, and the tail probe and the take at ONE source head. None when a
    * read is over the cap or a key needs more than integral widening to
    * compare with the key column, and the caller runs the DSv2 plan. */
  private def lookupCombinedLocal(spark: SparkSession, datasetPath: String,
                                  indexPath: String, pub: Published,
                                  keys: Seq[Any], maxRows: Int): Option[DataFrame] = {
    import graft.sources.lance.{AddrRangeSet, ZoneFilter}
    val stable = isStable(pub)
    // the source's head manifest, read once for the tail, the id
    // resolution and the take
    val head = LanceLocal.snapshot(spark, datasetPath)
    // the addrs of rows whose `key` is one of `keys`
    def probe(at: => LanceLocal.Snapshot, from: Option[Long],
              key: String, addr: String): Option[IndexedSeq[Long]] =
      for {
        zone <- ZoneFilter.in(key, keys)
        got <- LanceLocal.readAt(at, from, Seq(key, addr), Seq(zone))
        dt = got.schema(key).dataType
        wanted <- catalystKeys(dt, keys)
      } yield got.rows.collect {
        case r if !r.isNullAt(0) && wanted(r.get(0, dt)) => r.getLong(1)
      }
    for {
      idx <- probe(LanceLocal.snapshot(spark, s"$indexPath/keys.lance", pub.pin("data_version")),
                   None, "key", "addr")
      tail <- probe(head, Some(pub.built), pub.row.getString(1),
                    if (stable) "_rowid" else "_rowaddr")
      addrs = {
        requireLookup(idx.length + tail.length, maxRows)
        resolveAddrs(head.manifest, stable, (idx ++ tail).toArray).sorted
      }
      taken <- LanceLocal.readAt(head, columns = Seq("*", "_rowaddr"),
        addrFilters = Seq(AddrRangeSet(intervalCover(addrs, 256)
          .flatMap { case (lo, hi) => Array(lo, hi) })))
    } yield {
      val data = StructType(taken.schema.fields.init)
      val at = taken.schema.length - 1
      taken.copy(schema = data, rows = taken.rows.collect {
        case r if java.util.Arrays.binarySearch(addrs, r.getLong(at)) >= 0 =>
          InternalRow.fromSeq(r.toSeq(taken.schema).init)
      }).frame(spark)
    }
  }

  /** `keys` as the catalyst values an `isin` over a column of type `dt`
    * matches, for exact-equality types only; None when a key would need
    * more than integral widening to compare. */
  private def catalystKeys(dt: DataType, keys: Seq[Any]): Option[Set[Any]] = {
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    scala.util.Try(keys.map(Literal(_))).toOption.flatMap { lits =>
      if (!LanceLocal.ExactKeyTypes(dt)) None
      else if (lits.forall(_.dataType == dt)) Some(lits.map(_.value).toSet)
      else if (dt == LongType && lits.forall(l => integral(l.dataType)))
        Some(lits.map(l => l.value.asInstanceOf[Number].longValue(): Any).toSet)
      else None
    }
  }

  /** LABEL_LIST-analogue index over an ARRAY column (the lance-index
    * label-list type, which backs `array_has_any` queries): one
    * `(key, addr)` row per array ELEMENT, sorted by key — the posting-list
    * layout. A membership probe prunes to the labels' fragments; the addr
    * set dedupes before the take (a row tagged with two probed labels
    * fetches once).
    *
    * This kind has no update and so no publish point: nothing commits to
    * its sidecar after the build, and probes read the sidecar head.
    */
  def buildLabels(spark: SparkSession, datasetPath: String, arrayCol: String,
                  indexPath: String, writePartitions: Int = 8): Unit =
    writeSorted(spark.read.format("lance").load(datasetPath)
        .select(explode(col(arrayCol)).as("key"), col("_rowaddr").as("addr")),
      s"$indexPath/keys.lance", "overwrite", writePartitions)

  /** Rows whose indexed array contains ANY of `labels` (`array_has_any`). */
  def lookupAnyLabel(spark: SparkSession, datasetPath: String,
                     indexPath: String, labels: Seq[Any],
                     maxRows: Int = 100000): DataFrame = {
    val probe = spark.read.format("lance").load(s"$indexPath/keys.lance")
      .filter(col("key").isin(labels: _*))
      .select("addr").distinct()
    fetchByAddrs(spark, datasetPath, probe, maxRows)
  }

  // --------------------------------------------------------------------------
  // BITMAP index (lance-index BITMAP scalar-index type)
  // --------------------------------------------------------------------------

  import graft.sources.lance.Roaring

  private val serBitmap = udf((offs: Seq[Int]) =>
    Roaring.serialize(offs.toArray.sorted))
  private val unionBitmaps = udf((bms: Seq[Array[Byte]]) =>
    Roaring.serialize(bms.flatMap(Roaring.deserialize).distinct.sorted.toArray))
  private val andBitmaps = udf((a: Array[Byte], b: Array[Byte]) => {
    // merge-intersect of two sorted offset arrays
    val xs = Roaring.deserialize(a); val ys = Roaring.deserialize(b)
    val out = Array.newBuilder[Int]
    var i = 0; var j = 0
    while (i < xs.length && j < ys.length) {
      if (xs(i) == ys(j)) { out += xs(i); i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1 else j += 1
    }
    out.result()
  })

  /** BITMAP-analogue index for LOW-CARDINALITY columns (the lance-index
    * BITMAP scalar-index type): one roaring bitmap of local row offsets per
    * `(key, fragment)`, persisted as a lance sidecar sorted by key. The
    * per-fragment sharding is what makes it distributed — bitmaps build
    * executor-side (the same `Roaring` codec the deletion files use), a
    * probe reads only matched-key rows (zone-pruned), and set algebra
    * (OR within an index, AND across indexes) runs on the skinny
    * `(frag, bitmap)` frames before any row is fetched.
    *
    * Keys are stored in the column's canonical string spelling — bitmap
    * indexes target string/integer dictionary columns where that cast is
    * lossless; probes cast their literals identically.
    */
  def buildBitmap(spark: SparkSession, datasetPath: String, keyCol: String,
                  indexPath: String, writePartitions: Int = 4): Long =
    buildPublished(spark, datasetPath, indexPath, "bitmaps", writePartitions,
        Seq("key_col" -> keyCol), bitmapRows(keyCol))

  /** The per-(key, fragment) bitmaps of source rows. */
  private def bitmapRows(keyCol: String): Derive =
    Derive(Seq(keyCol, "_rowaddr"),
      _.select(col(keyCol).cast("string").as("key"),
               shiftrightunsigned(col("_rowaddr"), 32).as("frag"),
               col("_rowaddr").bitwiseAND(lit(0xFFFFFFFFL)).cast("int").as("off")),
      _.groupBy("key", "frag")
        .agg(count(lit(1)).as("card"),
             serBitmap(sort_array(collect_list(col("off")))).as("bitmap")),
      _.groupBy(r => (if (r.isNullAt(0)) null else r.getUTF8String(0), r.getLong(1)))
        .iterator.map { case ((key, frag), rs) =>
          InternalRow(key, frag, rs.length.toLong,
            Roaring.serialize(rs.map(_.getInt(2)).toArray.sorted))
        }.toIndexedSeq)

  /** Incrementally extend the bitmap index over post-build appends — new
    * fragments' bitmaps append as new key-sorted rows (a `(key, frag)`
    * never repeats across version windows, so probes stay exact); O(tail).
    */
  def updateBitmap(spark: SparkSession, datasetPath: String,
                   indexPath: String, writePartitions: Int = 2): Long =
    appendUpdate(spark, datasetPath, indexPath, "bitmaps", writePartitions)(
      pub => bitmapRows(pub.row.getString(1)))

  /** Per-fragment OR of the bitmaps matching `keys` (one index) —
    * `(frag, bitmap)`, all executor-side. */
  private def fragBitmaps(spark: SparkSession, indexPath: String,
                          keys: Seq[Any]): DataFrame =
    sidecar(spark, indexPath, "bitmaps",
        IndexStore.published(spark, metaPath(indexPath)))
      .filter(col("key").isin(keys.map(_.toString): _*))
      .groupBy("frag")
      .agg(unionBitmaps(collect_list(col("bitmap"))).as("bitmap"))

  /** Rows whose indexed key is IN `keys` — bitmap OR, then take-fetch. */
  def lookupBitmap(spark: SparkSession, datasetPath: String,
                   indexPath: String, keys: Seq[Any],
                   maxRows: Int = 100000): DataFrame = {
    val probe = fragBitmaps(spark, indexPath, keys)
      .select(col("frag"), explode(deserBitmap(col("bitmap"))).as("off"))
      .select((col("frag") * lit(1L << 32) + col("off")).as("addr"))
    fetchByAddrs(spark, datasetPath, probe, maxRows)
  }

  private val deserBitmap = udf((bm: Array[Byte]) => Roaring.deserialize(bm))

  /** Conjunctive probe across TWO bitmap indexes of the same dataset —
    * the query shape bitmap indexes exist for (`WHERE a IN (...) AND
    * b IN (...)`): per index a per-fragment OR over its matched keys,
    * then a per-fragment AND across the indexes via merge-intersect of
    * the compressed offset sets, and ONE take-fetch of the surviving
    * addresses. Rows never materialize before the conjunction.
    */
  def lookupBitmapAnd(spark: SparkSession, datasetPath: String,
                      indexA: String, keysA: Seq[Any],
                      indexB: String, keysB: Seq[Any],
                      maxRows: Int = 100000): DataFrame = {
    val a = fragBitmaps(spark, indexA, keysA)
    val b = fragBitmaps(spark, indexB, keysB)
      .withColumnRenamed("bitmap", "bitmap_b")
    val probe = a.join(b, Seq("frag"))
      .select(col("frag"),
              explode(andBitmaps(col("bitmap"), col("bitmap_b"))).as("off"))
      .select((col("frag") * lit(1L << 32) + col("off")).as("addr"))
    fetchByAddrs(spark, datasetPath, probe, maxRows)
  }

  // --------------------------------------------------------------------------
  // NGRAM index (lance-index NGRAM scalar-index type)
  // --------------------------------------------------------------------------

  /** NGRAM-analogue index for substring (`LIKE '%needle%'` / `contains`)
    * queries over a text column — the lance-index NGRAM type: one
    * `(gram, addr)` posting row per DISTINCT character trigram of each
    * document, range-sorted by gram (the LABEL_LIST layout over derived
    * labels). A needle probe reads only its trigrams' posting fragments.
    */
  def buildNgram(spark: SparkSession, datasetPath: String, textCol: String,
                 indexPath: String, n: Int = 3,
                 writePartitions: Int = 8): Long =
    buildPublished(spark, datasetPath, indexPath, "keys", writePartitions,
        Seq("key_col" -> s"$textCol#$n"), ngramRows(textCol, n))

  /** One `(addr, gram)` row per distinct `n`-gram of each source row. */
  private def ngramRows(textCol: String, n: Int): Derive =
    Derive(Seq("_rowaddr", textCol),
      _.select(col("_rowaddr").as("addr"), col(textCol).as("t"))
        .select(col("addr"), array_distinct(expr(
          s"transform(sequence(1, greatest(length(t) - ${n - 1}, 0))," +
            s" i -> substring(t, i, $n))")).as("grams")),
      _.select(col("addr"), explode(col("grams")).as("key")),
      _.flatMap { r =>
        val grams = if (r.isNullAt(1)) null else r.getArray(1)
        (0 until (if (grams == null) 0 else grams.numElements())).map(i =>
          InternalRow(r.getLong(0), if (grams.isNullAt(i)) null else grams.getUTF8String(i)))
      })

  /** Incrementally extend the ngram index over post-build appends (new
    * fragments' gram postings as new range-sorted fragments; O(tail)). */
  def updateNgram(spark: SparkSession, datasetPath: String,
                  indexPath: String, writePartitions: Int = 2): Long =
    appendUpdate(spark, datasetPath, indexPath, "keys", writePartitions) { pub =>
      val Array(textCol, n) = pub.row.getString(1).split('#')
      ngramRows(textCol, n.toInt)
    }

  /** Rows whose `textCol` CONTAINS `needle` — exact (not approximate):
    * candidate rows must post ALL of the needle's trigrams (an
    * intersection expressed as a `HAVING count = n_grams` aggregate over
    * the probed slivers), and the take-fetched candidates re-verify with
    * a real `contains` — false positives (grams present but
    * non-adjacent) are filtered, false negatives are impossible. Needles
    * shorter than the gram size fall back to a pushed filter scan.
    */
  def lookupContains(spark: SparkSession, datasetPath: String,
                     indexPath: String, textCol: String, needle: String,
                     n: Int = 3, maxRows: Int = 100000): DataFrame = {
    val base = spark.read.format("lance").load(datasetPath)
    if (needle.length < n) return base.filter(col(textCol).contains(needle))
    val grams = needle.sliding(n).toSeq.distinct
    val probe = sidecar(spark, indexPath, "keys",
        IndexStore.published(spark, metaPath(indexPath)))
      .filter(col("key").isin(grams: _*))
      .groupBy("addr").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === grams.size)
    fetchByAddrs(spark, datasetPath, probe, maxRows)
      .filter(col(textCol).contains(needle))
  }
}
