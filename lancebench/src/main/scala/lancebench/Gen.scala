package lancebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every input a workload hands the engine comes
  * from here and depends on the seed alone: the same seed gives the same
  * tables, corpora, ground truth and op schedule. */
object Gen {
  /** A pseudo-word for vocabulary index `i`: letters drawn from the index
    * digits, so the vocabulary is fixed and needs no word list. */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vows = "aeiou"
    val sb = new StringBuilder
    var n = i + 1
    while (n > 0) {
      sb += cons(n % cons.length); n /= cons.length
      sb += vows(n % vows.length); n /= vows.length
    }
    sb.toString
  }

  /** Text vocabulary: a small head of frequent words plus a large uniform
    * tail, so unrelated documents share few distinct tokens. */
  final class Vocab(val tail: Int = 20000, val head: Int = 100) {
    private val words = Array.tabulate(tail + head)(word)
    def headWord(r: java.util.Random): String = {
      // Zipf-like: rank k with probability ~ 1/(k+1)
      val u = r.nextDouble()
      words(tail + math.min(head - 1, (math.pow(head + 1.0, u) - 1).toInt))
    }
    def tailWord(r: java.util.Random): String = words(r.nextInt(tail))
    private val tailSet = words.take(tail).toSet
    def isTail(w: String): Boolean = tailSet.contains(w)
    def text(r: java.util.Random, len: Int): Array[String] =
      Array.fill(len)(if (r.nextDouble() < 0.2) headWord(r) else tailWord(r))
  }

  // --- scan ----------------------------------------------------------------
  val ShipDay0 = 8035          // 1992-01-01
  val ShipDays = 2526          // through 1998-12-01

  private def h(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def pm(c: Column, n: Long): Column = pmod(c, lit(n))

  /** Lineitem-shaped rows. Ship dates rise with the row id (plus a month
    * of jitter), as in a table loaded day by day, so fragments cover
    * date ranges a range predicate can prune. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    val orders = math.max(rows / 4, 1L)
    val keyOffset = math.floorMod(seed * 7919L, 1000L) * 1000L
    val day = (col("id") * ShipDays / rows + pm(h(seed, 10), 31) - 15)
      .cast("long")
    val qty = (pm(h(seed, 5), 50) + 1).cast("double")
    spark.range(0, rows, 1, parts).select(
      (pm(h(seed, 1), orders) + 1 + keyOffset).as("l_orderkey"),
      (pm(h(seed, 2), 20000) + 1).as("l_partkey"),
      (pm(h(seed, 3), 1000) + 1).as("l_suppkey"),
      (pm(h(seed, 4), 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pm(h(seed, 6), 100000) / 100.0), 2).as("l_extendedprice"),
      (pm(h(seed, 7), 11) / 100.0).as("l_discount"),
      (pm(h(seed, 8), 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pm(h(seed, 9), 3) + 1).cast("int"))
        .as("l_returnflag"),
      when(day < lit(ShipDays / 2), lit("F")).otherwise(lit("O")).as("l_linestatus"),
      timestamp_seconds((day + ShipDay0) * 86400L).as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long, lineitemRows: Long, parts: Int): DataFrame = {
    val n = math.max(lineitemRows / 4, 1L)
    val keyOffset = math.floorMod(seed * 7919L, 1000L) * 1000L
    spark.range(1, n + 1, 1, parts).select(
      (col("id") + keyOffset).as("o_orderkey"),
      (pm(h(seed, 21), 15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (pm(h(seed, 22), 3) + 1).cast("int"))
        .as("o_orderstatus"),
      round(pm(h(seed, 23), 50000000) / 100.0, 2).as("o_totalprice"),
      timestamp_seconds((pm(h(seed, 24), ShipDays) + ShipDay0) * 86400L).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (pm(h(seed, 25), 5) + 1).cast("int")).as("o_orderpriority"))
  }

  /** The deletion slice: ~1% of lineitem rows (1/7 x 1/14). */
  def deletionSlice(seed: Long): String =
    s"l_linenumber = 7 AND l_orderkey % 14 = ${math.floorMod(seed, 14L)}"

  /** Per-shape query parameters: a small seeded pool the loop cycles. */
  final case class ScanParams(q1Delta: Int, rangeDay: Int, qtyMin: Double, joinDay: Int)
  def scanParams(seed: Long, n: Int): IndexedSeq[ScanParams] = {
    val r = new java.util.Random(seed ^ 0x5CA1L)
    IndexedSeq.fill(n)(ScanParams(60 + r.nextInt(60), r.nextInt(ShipDays - 120),
      10.0 + r.nextInt(30), r.nextInt(ShipDays - 400)))
  }

  // --- serve ---------------------------------------------------------------
  val Dim = 64
  val Categories: IndexedSeq[String] = (0 until 8).map(i => s"cat$i")

  final case class Doc(id: Long, text: String, emb: Array[Float], category: String)

  /** Bytes of the values themselves: 8 for the id, the text and category
    * characters, 4 a vector element. */
  def logicalBytes(docs: Iterable[Doc]): Double =
    docs.iterator.map(d => 8.0 + d.text.length + 4.0 * Dim + d.category.length).sum

  /** Gaussian mixture with low intrinsic dimension, as real embeddings
    * have: `k` seeded centres on the unit sphere, each with its own
    * `rank`-dimensional subspace; a vector is a centre, plus a Gaussian
    * step inside that subspace, plus a little isotropic noise. */
  final class Mixture(seed: Long, k: Int = 32, rank: Int = 8) {
    private val r = new java.util.Random(seed ^ 0xE3BL)
    private def unit(): Array[Double] = {
      val c = Array.fill(Dim)(r.nextGaussian()); val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    private val centres = Array.fill(k)(unit())
    private val bases = Array.fill(k, rank)(unit())
    def draw(rr: java.util.Random): Array[Float] = {
      val j = rr.nextInt(k)
      val v = centres(j).clone()
      bases(j).foreach { b =>
        val z = 0.25 * rr.nextGaussian()
        var i = 0
        while (i < Dim) { v(i) += z * b(i); i += 1 }
      }
      Array.tabulate(Dim)(i => (v(i) + 0.02 * rr.nextGaussian()).toFloat)
    }
  }

  def serveCorpus(seed: Long, n: Int, vocab: Vocab, mix: Mixture): IndexedSeq[Doc] = {
    val r = new java.util.Random(seed ^ 0x5E7EL)
    (0 until n).map { i =>
      Doc(i.toLong, vocab.text(r, 12 + r.nextInt(12)).mkString(" "), mix.draw(r),
        Categories(r.nextInt(Categories.size)))
    }
  }

  // --- pipeline ------------------------------------------------------------
  val Chains = 8
  val ChainLength = 8

  final case class PipelineCorpus(docs: IndexedSeq[Doc], cluster: Array[Int]) {
    /** Near-duplicate pairs planted by construction (same cluster). */
    lazy val truePairs: Set[(Long, Long)] = docs.indices.groupBy(cluster(_))
      .collect { case (c, ix) if c >= 0 && ix.size > 1 => ix }
      .flatMap(ix => for (a <- ix; b <- ix if a < b) yield {
        val (x, y) = (docs(a).id, docs(b).id); (math.min(x, y), math.max(x, y))
      }).toSet
  }

  /** `n` documents. [[Chains]] clusters are chains of [[ChainLength]]
    * successive edits (10% of tokens replaced a step, so only neighbours
    * in the chain pass the verification threshold and every seed gives the
    * components stage the same longest path to propagate along). Then ~8% of
    * documents are cluster roots with 1-3 copies whose tokens are replaced
    * at 2-12% (Jaccard to the root of about 0.8-0.96), and the rest are
    * unrelated. */
  def pipelineCorpus(seed: Long, n: Int, vocab: Vocab, mix: Mixture): PipelineCorpus = {
    val r = new java.util.Random(seed ^ 0xD0CL)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val cluster = scala.collection.mutable.ArrayBuffer.empty[Int]
    var c = 0
    (0 until Chains).foreach { _ =>
      c += 1
      var toks = vocab.text(r, 40 + r.nextInt(40))
      val emb = mix.draw(r)
      (0 until ChainLength).foreach { _ =>
        docs += Doc(0L, toks.mkString(" "), emb, Categories(r.nextInt(Categories.size)))
        cluster += c
        toks = toks.map(t => if (r.nextDouble() < 0.1) vocab.tailWord(r) else t)
      }
    }
    while (docs.size < n) {
      val toks = vocab.text(r, 40 + r.nextInt(40))
      val emb = mix.draw(r)
      val copies = if (r.nextDouble() < 0.08) 1 + r.nextInt(3) else 0
      val label = if (copies > 0) { c += 1; c } else -1
      docs += Doc(0L, toks.mkString(" "), emb, Categories(r.nextInt(Categories.size)))
      cluster += label
      (0 until copies).foreach { _ =>
        val rate = 0.02 + 0.1 * r.nextDouble()
        val edited = toks.map(t => if (r.nextDouble() < rate) vocab.tailWord(r) else t)
        docs += Doc(0L, edited.mkString(" "), emb, Categories(r.nextInt(Categories.size)))
        cluster += label
      }
    }
    // ids are a seeded permutation so clusters are not contiguous in id order
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x1D5L))
      .shuffle((0L until docs.size.toLong).toIndexedSeq)
    // a chain's revisions get rising ids, as successive edits do, so the
    // chain's minimum id sits at its start for every seed
    val chained = (0 until Chains).flatMap { c =>
      val ix = c * ChainLength until (c + 1) * ChainLength
      ix.zip(ix.map(ids).sorted)
    }.toMap
    PipelineCorpus(docs.indices.map(i => docs(i).copy(id = chained.getOrElse(i, ids(i)) + 1)).take(n).toIndexedSeq,
      cluster.take(n).toArray)
  }

  // --- digests -------------------------------------------------------------
  /** Order-insensitive digest of a DataFrame: sum of per-row hashes. */
  def frameDigest(df: DataFrame): Long =
    df.select(sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
      .getDecimal(0).longValue()

  def docsDigest(docs: Iterable[Doc]): Long = docs.foldLeft(17L) { (h, d) =>
    h * 31 + d.id * 1000003L + d.text.hashCode + java.util.Arrays.hashCode(d.emb) + d.category.hashCode
  }
}
