package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact dedup against a PERSISTED fingerprint store.
  *
  * The production shape of corpus dedup is not one big batch job: data
  * arrives continuously, and each new batch must be deduped against
  * everything ever ingested. Holding the full corpus for that is absurd at
  * 100 TB — what persists is a fingerprint store (16-byte md5 per distinct
  * document), here a lance dataset, which is ~0.01% of corpus bytes.
  *
  * Scale shape:
  *  - the store is written `sortBy("h")` → range-disjoint fragments with
  *    zone maps, so future point probes / range scans prune;
  *  - a batch dedupes via ONE left-anti shuffle join on the 16-byte key —
  *    no corpus text ever re-reads or re-shuffles;
  *  - surviving fingerprints append as a new lance version (atomic commit,
  *    optimistic retry), so concurrent readers see either the old or the
  *    new store, never a torn one. The store's version history doubles as
  *    an ingestion ledger (which batch added which fingerprints).
  *
  * Reference analogue: lance's upsert/merge-insert is exactly this
  * fingerprint-store maintenance; the dedup decision itself matches the
  * exact-hash stage every near-dup pipeline (MinHash/SimHash) ends with.
  */
object IncrementalDedup {

  /** Initialize the store from a historical corpus slice. */
  def initStore(docs: DataFrame, textCol: String, store: String): Unit =
    docs.select(md5(col(textCol)).as("h")).distinct()
      .write.format("lance").option("sortBy", "h").mode("overwrite").save(store)

  /** Dedup `batch` against the store: returns rows whose fingerprint is
    * NOT yet stored (batch-internal duplicates all survive the anti-join;
    * the store append collapses them to one fingerprint). Appends the new
    * fingerprints as one new store version.
    *
    * The returned frame is PINNED (`versionAsOf`) to the pre-append store
    * version: Spark plans are lazy, so an unpinned anti-join re-executed
    * after the append would see its own output fingerprints and return
    * zero rows — the probe must read the snapshot it deduped against. */
  def dedupeBatch(spark: SparkSession, batch: DataFrame, textCol: String,
                  store: String): DataFrame = {
    val v = graft.sources.lance.LanceFormat.headVersion(
      spark.sessionState.newHadoopConf(), store)
    val stored = spark.read.format("lance").option("versionAsOf", v).load(store)
    val fresh = batch.join(stored, md5(batch(textCol)) === stored("h"), "left_anti")
    fresh.select(md5(col(textCol)).as("h")).distinct()
      .write.format("lance").mode("append").save(store)
    fresh
  }

  /** One-row census of an init+dedupe round (the d27 query body). */
  def census(spark: SparkSession, batch: DataFrame, fresh: DataFrame,
             store: String, storeBefore: Long): DataFrame = {
    import spark.implicits._
    val after = spark.read.format("lance").load(store).count()
    val nBatch = batch.count()
    val nNew = fresh.count()
    Seq((nBatch, nNew, storeBefore, after))
      .toDF("n_batch", "n_new", "store_before", "store_after")
  }
}
