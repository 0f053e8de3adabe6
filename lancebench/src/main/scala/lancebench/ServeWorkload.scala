package lancebench

import scala.collection.mutable

import graft.operators.{Fts, ScalarIndex, Similarity}
import graft.sources.lance.LanceMaintenance

/** `serve`: interactive search with live writes on one corpus (`doc_id`,
  * `text`, 64-d `embedding`, `category`) that carries IVF_PQ, FTS and
  * BTREE indexes. The closed loop follows a seeded schedule of ~80% reads
  * (BTREE lookups with Zipf-skewed keys, half of them recently written;
  * ANN top-10; FTS top-10) and ~20% writes (append, upsert, delete and
  * an index update); a traced run compacts once after its loop. A
  * client-side model of acknowledged writes checks every answer. */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import ServeWorkload._
  private val spark = ctx.spark
  val cycle = Period
  override val setupReps = 2
  override def countsRows = false
  private val vocab = new Gen.Vocab()
  private val mix = new Gen.Mixture(ctx.seed)
  private val corpus = Gen.serveCorpus(ctx.seed, CorpusRows, vocab, mix)
  private var sched = new Schedule(ctx.seed, corpus, vocab, mix)
  private var path = ""
  private var ivf = ""
  private var fts = ""
  private var btree = ""
  private val recalls = mutable.ArrayBuffer.empty[Double]

  /** Set-up and one op of every kind, the index update last, on a small
    * slice of the corpus, with its own schedule; the real schedule then
    * starts afresh. */
  override def warmUp(dir: java.nio.file.Path): Unit = {
    val main = sched
    sched = new Schedule(ctx.seed, corpus.take(WarmRows), vocab, mix)
    try {
      setup(dir)
      "lnfaudx".foreach(k => op(sched.next(Slots.indexOf(k).toLong)).run())
    } finally sched = main
  }

  def setup(dir: java.nio.file.Path): Unit = {
    path = dir.resolve("corpus.lance").toString
    ivf = dir.resolve("ivf_pq").toString
    fts = dir.resolve("fts").toString
    btree = dir.resolve("btree").toString
    docsFrame(corpus).repartition(4).write.format("lance").mode("overwrite")
      .option("fixedSizeList", s"embedding:${Gen.Dim}").option("stableRowIds", "true").save(path)
    buildIndexes()
  }

  private def buildIndexes(): Unit = {
    ctx.span("btree.build") { ScalarIndex.build(spark, path, "doc_id", btree, writePartitions = 4, stableRowIds = true) }
    ctx.span("fts.build") { Fts.buildIndexLance(spark, path, "doc_id", "text", fts, writePartitions = 4) }
    ctx.span("ann.build") { Similarity.ivfPqBuildPersistLance(spark, path, "doc_id", "embedding", IvfLists, ivf) }
  }

  private def docsFrame(docs: Seq[Gen.Doc]) = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.emb.toSeq, d.category)).toDF("doc_id", "text", "embedding", "category")
  }

  /** A write under span `name`, then the client's read of the new head.
    * Traced, the span records the logical bytes written and the bytes the
    * dataset grew by. */
  private def written(name: String, docs: Seq[Gen.Doc])(body: => Unit): Unit = {
    val dir = java.nio.file.Paths.get(path)
    val before = if (ctx.tracer.on) Report.dirBytes(dir) else 0L
    ctx.tracer.span(name, -1L, (_: Unit) => Seq("user_bytes" -> Gen.logicalBytes(docs),
      "disk_bytes" -> (Report.dirBytes(dir) - before).toDouble))(body)
    ManifestProbe.read(ctx, path)
  }

  def op(i: Long): Op = op(sched.next(i))

  private def op(o: SOp): Op = o match {
    case Lookup(key) =>
      Op("lookup", write = false, rows = 1, run = () => {
        val got = ctx.span("btree.lookup") {
          ScalarIndex.lookupCombined(spark, path, btree, Seq(key)).select("doc_id", "text", "category").collect()
        }
        () => {
          val want = sched.model(key)
          if (got.length != 1 || got(0).getLong(0) != key || got(0).getString(1) != want.text ||
              got(0).getString(2) != want.category) Some(s"lookup $key: got ${got.length} rows not matching the model")
          else None
        }
      })
    case Ann(q) =>
      Op("ann", write = false, rows = K, run = () => {
        val got = ctx.span("ann.search") {
          Similarity.ivfPqSearchCombinedLive(spark, ivf, path, "doc_id", "embedding", q.toSeq, K)
            .select("doc_id").collect().map(_.getLong(0))
        }
        () => {
          val exact = sched.exactTopK(q, K)
          recalls += got.count(exact.contains).toDouble / exact.size
          if (got.length != K || got.distinct.length != K) Some(s"ann: ${got.length} hits, want $K distinct")
          else got.find(id => !sched.model.contains(id)).map(id => s"ann: hit $id is not live")
        }
      })
    case Search(term) =>
      Op("fts", write = false, rows = K, run = () => {
        val got = ctx.span("fts.search") {
          Fts.searchCombinedLive(spark, fts, path, "doc_id", "text", Seq(term), K)
            .select("doc_id").collect().map(_.getLong(0))
        }
        () => {
          if (got.isEmpty || got.length > K) Some(s"fts '$term': ${got.length} hits")
          else got.find(id => !sched.model.get(id).exists(_.text.split(' ').contains(term)))
            .map(id => s"fts '$term': hit $id is not live or lacks the term")
        }
      })
    case Append(docs) =>
      Op("append", write = true, rows = docs.size, run = () => {
        written("write.append", docs) {
          docsFrame(docs).write.format("lance").mode("append").option("fixedSizeList", s"embedding:${Gen.Dim}").save(path)
        }
        sched.ack(Append(docs)); () => None
      })
    case Upsert(docs) =>
      Op("upsert", write = true, rows = docs.size, run = () => {
        written("write.upsert", docs) { LanceMaintenance.mergeInsert(spark, path, docsFrame(docs), Seq("doc_id")) }
        sched.ack(Upsert(docs)); () => None
      })
    case Delete(ids) =>
      Op("delete", write = true, rows = ids.size, run = () => {
        written("write.delete", Nil) { LanceMaintenance.deleteWhere(spark, path, s"doc_id IN (${ids.mkString(",")})") }
        sched.ack(Delete(ids)); () => None
      })
    case Reindex =>
      Op("reindex", write = true, rows = 0, run = () => {
        ctx.span("ann.update") { Similarity.ivfPqUpdateIndex(spark, path, ivf, "doc_id", "embedding") }
        ctx.span("fts.update") { Fts.updateIndex(spark, path, fts) }
        ctx.span("btree.update") { ScalarIndex.update(spark, path, btree) }
        () => None
      })
  }

  /** Compaction rewrites every fragment, and the engine's incremental
    * index updates refuse to cross a rewrite, so the indexes are rebuilt
    * after it. One compaction with its rebuild costs about half a period,
    * so it runs once, after the loop of a traced run; one read of each
    * kind then checks the rebuilt indexes. */
  override def maintenance: Option[Op] = Some(Op("compact", write = true, rows = 0, run = () => {
    written("write.compact", Nil) { LanceMaintenance.compact(spark, path, targetFragments = 4) }
    buildIndexes()
    val d = sched.model(sched.zipfKey())
    () => Seq(Lookup(d.id), Ann(d.emb), Search(d.text.split(' ').head))
      .flatMap(o => op(o).run()())
      .headOption.map(f => s"after compaction: $f")
  }))

  /** A fresh read of the head must equal the model of acknowledged writes.
    * In a traced run this read is the workload's `scan.exec` span. */
  def finish(): Seq[String] = {
    val got = ctx.span("scan.exec") {
      spark.read.format("lance").load(path).select("doc_id", "text", "category").collect()
    }
    val m = sched.model
    val byId = got.map(r => r.getLong(0) -> r).toMap
    val missing = m.keys.count(id => !byId.contains(id))
    val extra = byId.keys.count(id => !m.contains(id))
    val stale = m.values.count(d => byId.get(d.id).exists(r => r.getString(1) != d.text || r.getString(2) != d.category))
    Seq(
      if (got.length != byId.size) Some(s"head holds ${got.length - byId.size} duplicate doc_ids") else None,
      if (missing > 0) Some(s"$missing acknowledged docs missing from the head") else None,
      if (extra > 0) Some(s"$extra deleted or unknown docs visible at the head") else None,
      if (stale > 0) Some(s"$stale docs do not show their acknowledged upsert") else None).flatten
  }

  def answerRecall: Metric = Metric("answer_recall", Report.mean(recalls.toSeq), "ratio", recalls.size)
  def figures: Seq[Metric] = Seq(
    answerRecall.copy(name = "recall_at_10"),
    Metric("corpus_rows", sched.model.size.toDouble, "rows", 1))
  override def spaceAmp: Option[Double] = {
    val onDisk = Seq(path, ivf, fts, btree).map(p => Report.dirBytes(java.nio.file.Paths.get(p))).sum
    Some(onDisk / Gen.logicalBytes(sched.model.values))
  }
}

object ServeWorkload {
  val CorpusRows = 10000
  val WarmRows = 1000
  val IvfLists = 32
  val K = 10
  /** One period: l/r = lookup of a Zipf / recently written key, n = ANN,
    * f = FTS, a/u/d = append/upsert/delete, x = index update. */
  val Slots = "lnrfa" + "nlrnu" + "lfnrd" + "nlrfx"
  val Period = Slots.length

  sealed trait SOp
  final case class Lookup(key: Long) extends SOp
  final case class Ann(q: Array[Float]) extends SOp
  final case class Search(term: String) extends SOp
  final case class Append(docs: Seq[Gen.Doc]) extends SOp
  final case class Upsert(docs: Seq[Gen.Doc]) extends SOp
  final case class Delete(ids: Seq[Long]) extends SOp
  case object Reindex extends SOp

  /** The seeded op schedule and the client-side model of acknowledged
    * writes. The schedule is a function of the seed and of the model, and
    * the model changes only through acknowledged writes, so a run with no
    * failures replays the same sequence for a seed. */
  final class Schedule(seed: Long, corpus: IndexedSeq[Gen.Doc], vocab: Gen.Vocab, mix: Gen.Mixture) {
    private val r = new java.util.Random(seed ^ 0x5C4EDL)
    val model = mutable.LinkedHashMap.empty[Long, Gen.Doc]
    corpus.foreach(d => model(d.id) = d)
    private var nextId = corpus.size.toLong
    private val recent = mutable.ArrayBuffer.empty[Long]  // recently written ids
    // Zipf ranks map to ids through a seeded permutation
    private val rank = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x21FL))
      .shuffle(corpus.indices.map(_.toLong))

    private def zipfId(): Long = {
      val n = rank.size
      val k = math.min(n - 1, (math.pow(n + 1.0, r.nextDouble()) - 1).toInt)
      rank(k)
    }
    def zipfKey(): Long = Iterator.continually(zipfId()).find(model.contains).get
    private def recentKey(): Long = {
      val live = recent.filter(model.contains)
      if (live.nonEmpty) live(r.nextInt(live.size)) else zipfKey()
    }
    private def liveIds(n: Int): Seq[Long] =
      Iterator.continually(if (r.nextBoolean()) zipfKey() else recentKey()).take(n * 4).toSeq.distinct.take(n)

    /** The op at loop position `i`. Every period of [[Period]] ops has
      * the same make-up: 8 BTREE lookups (half on recently written keys),
      * 5 ANN and 3 FTS searches, one each of append, upsert and delete,
      * and one index update -- 80% reads. */
    def next(i: Long): SOp = Slots((i % Period).toInt) match {
      case 'a' => Append((0 until 20).map { _ =>
        nextId += 1
        Gen.Doc(nextId, vocab.text(r, 12 + r.nextInt(12)).mkString(" "), mix.draw(r),
          Gen.Categories(r.nextInt(Gen.Categories.size)))
      })
      case 'u' => Upsert(liveIds(5).map { id =>
        // an edit keeps the text's tokens and adds one, so an FTS hit on
        // the indexed text stays a hit on the edited one
        val d = model(id)
        d.copy(text = d.text + " " + vocab.tailWord(r), emb = mix.draw(r),
          category = Gen.Categories(r.nextInt(Gen.Categories.size)))
      })
      case 'd' => Delete(liveIds(5))
      case 'x' => Reindex
      case 'l' => Lookup(zipfKey())
      case 'r' => Lookup(recentKey())
      case 'n' => Ann(mix.draw(r))
      case 'f' =>
        // a term of a live document, from the vocabulary's uniform tail
        val toks = model(zipfKey()).text.split(' ').filter(vocab.isTail)
        Search(toks(r.nextInt(toks.length)))
    }

    /** Applies an acknowledged write to the model. */
    def ack(op: SOp): Unit = op match {
      case Append(ds) => ds.foreach(d => model(d.id) = d); remember(ds.map(_.id))
      case Upsert(ds) => ds.foreach(d => model(d.id) = d); remember(ds.map(_.id))
      case Delete(ids) => ids.foreach(model.remove)
      case _ =>
    }
    private def remember(ids: Seq[Long]): Unit = {
      recent ++= ids
      if (recent.size > 64) recent.remove(0, recent.size - 64)
    }

    /** Exact cosine top-k over the live model. */
    def exactTopK(q: Array[Float], k: Int): Set[Long] = {
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      val heap = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by[(Double, Long), Double](-_._1))
      model.valuesIterator.foreach { d =>
        var dot = 0.0; var nn = 0.0; var i = 0
        while (i < q.length) { dot += q(i) * d.emb(i); nn += d.emb(i) * d.emb(i); i += 1 }
        val c = dot / (qn * math.sqrt(nn))
        if (heap.size < k) heap.enqueue((c, d.id))
        else if (c > heap.head._1) { heap.dequeue(); heap.enqueue((c, d.id)) }
      }
      heap.map(_._2).toSet
    }
  }
}
