package graft.sources.lance

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The published-index protocol, shared by every persisted index kind
  * (the scalar indexes, FTS and IVF): the lance analogue of an index read
  * resolving ONE manifest, so a reader always sees one consistent snapshot.
  *
  * An index is a directory of lance datasets. One of them, the PUBLISH
  * POINT (`meta.lance`, `built.lance`, `pq_meta.lance`), holds a single
  * row: the source version the index covers (`built_version`) and, per
  * sidecar dataset, the sidecar version readers may see (a pin column such
  * as `data_version` or `postings_version`). Then:
  *
  *  - Readers resolve the record once ([[published]]) and read every
  *    sidecar AT its pin ([[pinned]]), so commits that no publish names are
  *    invisible, exactly like uncommitted MVCC writes. A missing or negative
  *    pin (legacy records, FTS's rebuild tombstone) reads the sidecar head.
  *  - Maintainers commit sidecars first and the record last ([[publish]],
  *    after the maintenance-lock fence when they hold one). A fence abort
  *    or a crash anywhere before that overwrite publishes nothing; it can
  *    only leave sidecar versions past their pins, which the next
  *    maintainer restores ([[sweep]]) before it applies its own change.
  *    Appends would otherwise stack on the orphan tail and duplicate its
  *    rows.
  *  - The record is cached per publish-point head version, so a hit costs
  *    one `_versions` listing and no Spark job, and a publish by another
  *    process is visible at the next read. A miss reads the one row on
  *    the driver ([[LanceLocal]]).
  *  - A transient store failure serves the last record this JVM read for
  *    the index, from a non-evicting roster: stale-but-consistent beats
  *    unpinned-and-possibly-torn, and an LRU eviction must not downgrade a
  *    flaky read to sidecar heads. An index this JVM never read rethrows.
  *    Each call tries the store once; nothing retries or loops.
  */
object IndexStore {

  /** One publish record: the publish point's row at manifest `version`. */
  final case class Published(version: Long, row: Row) {
    def built: Long = row.getLong(0)

    /** The sidecar version a pin column records; None reads the head. */
    def pin(column: String): Option[Long] = {
      val i = row.schema.fieldNames.indexOf(column)
      if (i < 0 || row.isNullAt(i) || row.getLong(i) < 0) None
      else Some(row.getLong(i))
    }
  }

  private val cache = new graft.functions.Lru[String, Published](32)

  /** Last record read per publish point (None: it did not exist) — the
    * failure fallback. A roster, not a cache: an entry is a path and one
    * row, added only when the index is actually read. */
  private val roster =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Published]]()

  private def remember(metaPath: String, rec: Option[Published]): Unit = {
    rec.foreach(cache.put(metaPath, _))
    roster.put(metaPath, rec)
  }

  /** The record at the publish point's head (None: the index has no
    * publish point). */
  def published(spark: SparkSession, metaPath: String): Option[Published] =
    try {
      val (fs, p) = LanceFormat.fileSystem(metaPath, spark.sessionState.newHadoopConf())
      val rec =
        if (!fs.exists(p)) None
        else {
          val head = LanceFormat.headVersion(fs, p)
          cache.get(metaPath).filter(_.version == head).orElse {
            // read AT the statted version: a racing overwrite between the
            // stat and the read cannot pair this version with another row
            Some(Published(head,
              LanceLocal.collect(spark, metaPath, Some(head)).head))
          }
        }
      remember(metaPath, rec)
      rec
    } catch {
      case e: Exception => Option(roster.get(metaPath)).getOrElse(throw e)
    }

  /** `sidecar` under `indexPath`, read at `pin` (the head when None). */
  def pinned(spark: SparkSession, indexPath: String, sidecar: String,
             pin: Option[Long]): DataFrame = {
    val rd = spark.read.format("lance")
    pin.fold(rd)(v => rd.option("versionAsOf", v)).load(s"$indexPath/$sidecar")
  }

  /** Restore `sidecar` to its `pin` when commits landed past it. */
  def sweep(spark: SparkSession, indexPath: String, sidecar: String,
            pin: Long): Unit = {
    val path = s"$indexPath/$sidecar"
    if (LanceFormat.headVersion(spark.sessionState.newHadoopConf(), path) != pin)
      LanceMaintenance.restore(spark, path, pin)
  }

  /** Overwrite the publish point with one row of `fields` (Long, String
    * or Boolean values, in column order), after `fence.check()`, and
    * write the new record through to the caches. The row commits on the
    * driver ([[LanceLocal.write]]), with no Spark job. */
  def publish(spark: SparkSession, metaPath: String,
              fence: Option[MaintenanceLock.Fence],
              fields: (String, Any)*): Published = {
    val schema = StructType(fields.map {
      case (n, _: Long)    => StructField(n, LongType, nullable = false)
      case (n, _: Boolean) => StructField(n, BooleanType, nullable = false)
      case (n, _)          => StructField(n, StringType)
    })
    val row = new GenericRowWithSchema(fields.map(_._2).toArray, schema)
    fence.foreach(_.check())
    LanceLocal.write(spark, metaPath, LanceLocal.Rows(schema, IndexedSeq(
      CatalystTypeConverters.createToCatalystConverter(schema)(row).asInstanceOf[InternalRow])),
      "overwrite")
    val rec = Published(
      LanceFormat.headVersion(spark.sessionState.newHadoopConf(), metaPath), row)
    remember(metaPath, Some(rec))
    rec
  }

  /** Drop what this JVM knows of one publish point (a re-attach). */
  private[graft] def forget(metaPath: String): Unit = {
    cache.remove(metaPath)
    roster.remove(metaPath)
  }

  /** Test hook: simulate a fresh process. */
  private[graft] def clear(): Unit = {
    cache.clear()
    roster.clear()
  }
}
