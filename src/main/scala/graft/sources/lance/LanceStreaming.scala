package graft.sources.lance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

/** Structured Streaming SOURCE over a lance dataset: tail appended
  * versions as micro-batches (`spark.readStream.format("lance").load(ds)`)
  * — the read-side complement of the existing foreachBatch sink, and the
  * Spark-native face of lance's versioned append model.
  *
  * Offsets are manifest versions. A batch (start, end] reads the
  * fragments present in version `end` but absent from version `start`
  * (fragment ids are monotonically assigned), so each appended version
  * arrives exactly once. Semantics are APPEND-ONLY tailing: overwrite /
  * compaction rewrite history and a fragment-set shrink fails the stream
  * with a clear error rather than silently re-emitting rows. Deletion
  * vectors attached to NEW fragments are honored; deletes added later to
  * already-emitted fragments are not retracted (streaming sources cannot
  * retract — document-and-move-on, same as file sources).
  */
class LanceMicroBatchStream(path: String, colSpecs: Array[ColSpec],
                            checkpointLocation: String)
    extends MicroBatchStream {

  private def conf = SparkSession.active.sessionState.newHadoopConf()

  private def manifestAt(version: Option[Long]): LanceFormat.Manifest = {
    val (fs, p) = LanceFormat.fileSystem(path, conf)
    LanceFormat.readManifest(fs, LanceFormat.latestManifestPath(fs, p, version))
  }

  override def initialOffset(): Offset = LanceVersionOffset(0L)

  override def latestOffset(): Offset =
    LanceVersionOffset(manifestAt(None).version)

  override def deserializeOffset(json: String): Offset =
    LanceVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startV = start.asInstanceOf[LanceVersionOffset].version
    val endV = end.asInstanceOf[LanceVersionOffset].version
    if (endV <= startV) return Array.empty
    val endM = manifestAt(Some(endV))
    val seen: Set[Long] =
      if (startV == 0) Set.empty
      else manifestAt(Some(startV)).fragments.map(_.id).toSet
    val endIds = endM.fragments.map(_.id).toSet
    require(seen.subsetOf(endIds),
      s"lance stream: fragments ${seen.diff(endIds).toSeq.sorted.mkString(",")} " +
      s"disappeared between versions $startV and $endV — the dataset was " +
      "overwritten or compacted; append-only tailing cannot continue")
    endM.fragments.filterNot(f => seen.contains(f.id)).map { frag =>
      val delPath = frag.deletion.map(d =>
        new Path(new Path(path, "_deletions"), d.fileName(frag.id)).toString)
      val head = frag.files.head
      val extras = frag.files.tail.map(f => LanceFileSlice(
        new Path(new Path(path, "data"), f.path).toString,
        f.fieldIds.toArray, f.columnIndices.toArray)).toArray
      LanceInputPartition(
        new Path(new Path(path, "data"), head.path).toString,
        head.fieldIds.toArray, head.columnIndices.toArray, frag.physicalRows,
        fragId = frag.id, deletionPath = delPath,
        numDeleted = frag.deletion.map(_.numDeleted).getOrElse(0L),
        extraFiles = extras)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // deletions may appear on any batch's fragments: stay row-based
    new LanceReaderFactory(colSpecs, SessionConf.broadcast(SparkSession.active), Nil, -1,
      anyDeletions = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LanceVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}
