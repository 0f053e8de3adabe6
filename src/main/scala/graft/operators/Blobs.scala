package graft.operators

import graft.sources.lance.SessionConf
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Lazy blob access for large binary columns (the lance blob /
  * `storage_class` analogue, re-expressed for this connector's layout).
  *
  * A metadata query over a 100 TB multimodal corpus must not materialize
  * image/audio bytes into Spark rows: `option("blobRefs", "payload")` makes
  * the scan emit `struct<path, pos, len>` REFERENCES — decoded from each
  * page's offsets buffer alone, so the payload bytes are never read, never
  * decoded, never shuffled. A downstream stage (or an external system: the
  * ref is an absolute byte range in a stable data file) fetches exactly the
  * blobs that survive filtering via [[fetch]] — ranged reads, one reused
  * handle per file per task.
  *
  * This composes with everything the scan already does: zone-map pruning
  * picks the fragments/pages, the take path fetches point rows, and the
  * refs column costs 8 bytes/row of I/O instead of the blob.
  *
  * Reference: lance blob API (`lance::dataset::blob`, storage_class =
  * "blob") — same contract (lazy ranged reads of out-of-line values),
  * different mechanism (lance stores blob columns in separate blob files;
  * this writer keeps them in column pages and hands out page-precise
  * ranges).
  */
object Blobs {

  /** Schema of a blob reference as emitted by `option("blobRefs", col)`. */
  val refType: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("len", LongType, nullable = false)))

  /** Resolve refs to bytes: appends `outCol` (binary) by range-reading
    * each ref. Per-partition handle cache (one open stream per distinct
    * file), closed on task completion; refs for the same file in input
    * order hit mostly-sequential ranges when the scan order is preserved. */
  def fetch(df: DataFrame, refCol: String, outCol: String = "bytes"): DataFrame = {
    val spark = df.sparkSession
    val serConf = SessionConf.broadcast(spark)
    val outSchema = df.schema.add(outCol, BinaryType, nullable = true)
    val refIdx = df.schema.fieldIndex(refCol)
    df.mapPartitions { rows =>
      val cache = scala.collection.mutable.HashMap
        .empty[String, org.apache.hadoop.fs.FSDataInputStream]
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        cache.valuesIterator.foreach(in => try in.close() catch { case _: Exception => () })
      })
      rows.map { r =>
        val ref = r.getStruct(refIdx)
        val bytes: Array[Byte] =
          if (ref == null) null
          else {
            val path = ref.getString(0)
            val in = cache.getOrElseUpdate(path, {
              val p = new org.apache.hadoop.fs.Path(path)
              p.getFileSystem(serConf.value.value).open(p)
            })
            val b = new Array[Byte](ref.getLong(2).toInt)
            in.readFully(ref.getLong(1), b)
            b
          }
        new GenericRowWithSchema((r.toSeq :+ bytes).toArray, outSchema): Row
      }
    }(Encoders.row(outSchema))
  }
}
