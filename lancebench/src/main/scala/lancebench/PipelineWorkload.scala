package lancebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Fts, Similarity}

/** `pipeline`: batch LLM-data preparation on a seeded corpus with planted
  * near-duplicate clusters, which set-up writes as a Lance source
  * dataset. One pass is seven ops, each writing to fresh paths: bulk
  * Lance write (a copy of the source) -> `Dedup.lshExactPairs` ->
  * `connectedComponents` -> `dedupDecision` -> write survivors ->
  * `Fts.buildIndexLance` -> `ivfPqBuildPersistLance`. Duplicate recall and
  * precision are scored against the planted clusters. */
final class PipelineWorkload(ctx: Ctx) extends Workload {
  import PipelineWorkload._
  private val spark = ctx.spark
  import spark.implicits._
  val cycle = Stages.size
  // one set-up is a sub-second write, so the median takes more of them
  override val setupReps = 5
  private val corpus = Gen.pipelineCorpus(ctx.seed, Docs, new Gen.Vocab(), new Gen.Mixture(ctx.seed))
  private var input: DataFrame = _
  private val dupRecall = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val dupPrecision = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val spaceAmps = scala.collection.mutable.ArrayBuffer.empty[Double]
  // state of the pass in flight
  private var bulk = ""
  private var survivorsPath = ""
  private var pairs: DataFrame = _
  private var labels: DataFrame = _
  private var keep: Array[Long] = Array.empty
  private var survivorDocs: Map[Long, Gen.Doc] = Map.empty

  /** Writes the pipeline's source: the corpus, as a Lance dataset each
    * pass reads. */
  def setup(dir: java.nio.file.Path): Unit = {
    val source = dir.resolve("source.lance").toString
    corpus.docs.map(d => (d.id, d.text, d.emb.toSeq, d.category)).toDF("doc_id", "text", "embedding", "category")
      .repartition(ctx.cores).write.format("lance").mode("overwrite")
      .option("fixedSizeList", s"embedding:${Gen.Dim}").save(source)
    input = spark.read.format("lance").load(source)
  }

  /** The set-up's write once, untimed, so every timed set-up is warm. */
  override def warmUp(dir: java.nio.file.Path): Unit = setup(dir)

  /** One full pass, unchecked and untimed, so the timed passes do not pay
    * class loading, code generation and JIT warm-up at the loop's sizes. */
  override def prepare(): Unit = (0 until Stages.size).foreach(i => op(-Stages.size + i).run())

  private def dir(pass: Long) = ctx.work.resolve(s"pass$pass")

  def op(i: Long): Op = {
    val pass = Math.floorDiv(i, Stages.size.toLong)
    val stage = Stages(Math.floorMod(i, Stages.size.toLong).toInt)
    stage match {
      case "bulk_write" => Op(stage, write = true, rows = Docs, run = () => {
        if (pass > 0) Main.deleteTree(dir(pass - 1))
        spark.catalog.clearCache() // frames the last pass's operators cached
        bulk = dir(pass).resolve("corpus.lance").toString
        ctx.tracer.span("write.append", -1L, (_: Unit) => Seq("user_bytes" -> Gen.logicalBytes(corpus.docs),
            "disk_bytes" -> Report.dirBytes(java.nio.file.Paths.get(bulk)).toDouble)) {
          input.write.format("lance").mode("overwrite")
            .option("fixedSizeList", s"embedding:${Gen.Dim}").save(bulk)
        }
        ManifestProbe.read(ctx, bulk)
        () => {
          val n = spark.read.format("lance").load(bulk).count()
          if (n != Docs) Some(s"bulk_write: read back $n rows, want $Docs") else None
        }
      })
      case "pairs" =>
        lazy val docs = spark.read.format("lance").load(bulk)
        Op(stage, write = false, rows = 0, run = () => {
          val got = ctx.tracer.span("dedup.pairs", -1L, (g: Array[org.apache.spark.sql.Row]) => Seq("pairs" -> g.length.toDouble)) {
            pairs = Dedup.lshExactPairs(docs, "doc_id", "text", NumHashes, Bands, CandidateThreshold, ExactThreshold)
              .localCheckpoint()
            pairs.collect()
          }
          () => got.find(r => r.getLong(0) >= r.getLong(1) || r.getDouble(2) < ExactThreshold)
            .map(r => s"pairs: (${r.getLong(0)}, ${r.getLong(1)}) is unordered or below the threshold")
        }, after = Some(() => {
          // the candidate stage alone, for the candidate count and the LSH
          // share of the pair time (`lshExactPairs` exposes neither)
          ctx.tracer.span("dedup.lsh", -1L, (n: Long) => Seq("pairs" -> n.toDouble)) {
            Dedup.minHashLsh(docs, "doc_id", "text", NumHashes, Bands, CandidateThreshold).count()
          }
          ()
        }))
      case "components" => Op(stage, write = false, rows = 0, run = () => {
        val docs = spark.read.format("lance").load(bulk)
        val got = ctx.tracer.span("dedup.cc", -1L, (g: Map[Long, Long]) => Seq("clusters" ->
            g.collect { case (d, k) if d != k => k }.toSet.size.toDouble)) {
          labels = Dedup.connectedComponents(docs, "doc_id", pairs).localCheckpoint()
          labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        () => {
          score(got)
          if (got.size != Docs) Some(s"components: ${got.size} labels, want $Docs")
          else got.find { case (d, k) => k > d || got.get(k).exists(_ != k) }
            .map { case (d, k) => s"components: doc $d has label $k, not its component minimum" }
        }
      })
      case "decision" => Op(stage, write = false, rows = 0, run = () => {
        val docs = spark.read.format("lance").load(bulk)
        val edges = labels.filter(col("keep_id") =!= col("doc_id"))
          .select(col("keep_id").as("doc_a"), col("doc_id").as("doc_b"))
        keep = ctx.span("dedup.decision") {
          Dedup.dedupDecision(docs, "doc_id", edges).filter(col("keep_id") === col("doc_id"))
            .select("doc_id").as[Long].collect()
        }
        () => {
          val reps = labels.select("keep_id").distinct().count()
          if (keep.length != reps) Some(s"decision: ${keep.length} survivors, want $reps components") else None
        }
      })
      case "write_survivors" => Op(stage, write = true, rows = 0, run = () => {
        survivorsPath = dir(pass).resolve("survivors.lance").toString
        val docs = spark.read.format("lance").load(bulk)
        val survivors = docs.join(keep.toSeq.toDF("doc_id"), "doc_id")
        val keepSet = keep.toSet
        survivorDocs = corpus.docs.iterator.filter(d => keepSet.contains(d.id)).map(d => d.id -> d).toMap
        ctx.tracer.span("write.append", -1L, (_: Unit) => Seq("user_bytes" -> Gen.logicalBytes(survivorDocs.values),
            "disk_bytes" -> Report.dirBytes(java.nio.file.Paths.get(survivorsPath)).toDouble)) {
          survivors.write.format("lance").mode("overwrite")
            .option("fixedSizeList", s"embedding:${Gen.Dim}").save(survivorsPath)
        }
        ManifestProbe.read(ctx, survivorsPath)
        () => {
          val n = spark.read.format("lance").load(survivorsPath).count()
          if (n != keep.length) Some(s"write_survivors: read back $n rows, want ${keep.length}") else None
        }
      })
      case "fts_build" => Op(stage, write = true, rows = 0, run = () => {
        val idx = dir(pass).resolve("fts").toString
        ctx.span("fts.build") { Fts.buildIndexLance(spark, survivorsPath, "doc_id", "text", idx, writePartitions = 4) }
        () => {
          val d = survivorDocs.values.head
          val term = d.text.split(' ').last
          val hits = Fts.searchCombinedLive(spark, idx, survivorsPath, "doc_id", "text", Seq(term), 10)
            .select("doc_id").as[Long].collect()
          if (hits.isEmpty) Some(s"fts_build: no hit for '$term'")
          else hits.find(h => !survivorDocs.get(h).exists(_.text.split(' ').contains(term)))
            .map(h => s"fts_build: hit $h lacks '$term'")
        }
      })
      case "ann_build" => Op(stage, write = true, rows = 0, run = () => {
        val idx = dir(pass).resolve("ivf_pq").toString
        ctx.span("ann.build") { Similarity.ivfPqBuildPersistLance(spark, survivorsPath, "doc_id", "embedding", IvfLists, idx) }
        () => {
          spaceAmps += (Report.dirBytes(dir(pass)) / (Gen.logicalBytes(corpus.docs) + Gen.logicalBytes(survivorDocs.values)))
          val q = survivorDocs.values.head.emb
          val hits = Similarity.ivfPqSearchCombinedLive(spark, idx, survivorsPath, "doc_id", "embedding", q.toSeq, 10)
            .select("doc_id").as[Long].collect()
          if (hits.length != 10 || hits.exists(h => !survivorDocs.contains(h))) Some("ann_build: search misses survivors")
          else None
        }
      })
    }
  }

  /** Duplicate recall and precision of the components against the
    * planted clusters, over pairs of documents. */
  private def score(label: Map[Long, Long]): Unit = {
    val predicted = label.toSeq.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => for (a <- g; b <- g if a._1 < b._1) yield (a._1, b._1)).toSet
    val truth = corpus.truePairs
    val hit = predicted.count(truth.contains).toDouble
    dupRecall += (if (truth.isEmpty) 1.0 else hit / truth.size)
    dupPrecision += (if (predicted.isEmpty) 1.0 else hit / predicted.size)
  }

  def finish(): Seq[String] = Nil
  def answerRecall: Metric = Metric("answer_recall", Report.mean(dupRecall.toSeq), "ratio", dupRecall.size)
  def figures: Seq[Metric] = Seq(
    answerRecall.copy(name = "dup_recall"),
    Metric("dup_precision", Report.mean(dupPrecision.toSeq), "ratio", dupPrecision.size),
    Metric("corpus_docs", Docs.toDouble, "docs", 1),
    Metric("planted_pairs", corpus.truePairs.size.toDouble, "pairs", 1))
  override def spaceAmp: Option[Double] = Some(Report.mean(spaceAmps.toSeq))
}

object PipelineWorkload {
  val Docs = 10000
  val NumHashes = 64
  val Bands = 16
  val CandidateThreshold = 0.6
  val ExactThreshold = 0.7
  val IvfLists = 32
  val Stages = IndexedSeq("bulk_write", "pairs", "components", "decision", "write_survivors", "fts_build", "ann_build")
}
