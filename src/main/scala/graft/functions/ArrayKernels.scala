package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd array kernels for vector similarity (SURVEY §2.5, §4.2:
  * "distance/minhash kernels — UDF overhead at 100 TB → Catalyst
  * Expression with codegen").
  *
  * Spark's higher-order functions (zip_with/aggregate) evaluate lambdas
  * interpreted, one boxed call per element; these expressions compile to a
  * tight primitive loop inside whole-stage codegen — the difference is
  * ~10x on a 64-dim dot product and keeps the surrounding
  * filter/project/topk in a single codegen stage.
  */

/** Exact dot product of two array<bigint> columns (used with scaled-long
  * quantized vectors: integer math is associative, so results are
  * bit-identical regardless of partitioning/order — the oracle-safe
  * formulation). */
case class LongDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_long_dot expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long ${ev.value}0 = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}0 += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = ${ev.value}0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity of two array<float> columns, accumulated in double
  * (production kernel — fast, not oracle-exact across engines). */
case class FloatCosine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_cosine expects (array<float>, array<float>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatCosine.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${classOf[FloatCosine].getName}.score($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FloatCosine {
  /** The kernel body, shared by the Spark expression and driver-side
    * callers so both give identical doubles. */
  def score(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** Count of positions where two array<bigint> columns hold equal values
  * (MinHash signature agreement — the estimated-Jaccard numerator). */
case class LongEqCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) acc += 1; i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED array<bigint> columns (merge walk, no
  * per-row hash-set allocation — token sets are sorted once per document
  * at build time, then every pair comparison is O(n+m)). */
/** Membership test of a long column against a CONSTANT sorted array,
  * binary-searched — the take path's exact `_rowaddr` filter. Replaces a
  * 100k-literal `isin` (whose `In` expression stressed analysis and plan
  * size) with one reference object shared by all generated code; the
  * coarse interval cover pushed into the scan handles pruning, this
  * handles exactness. */
case class LongInSortedArray(child: Expression, sorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_long_in_sorted expects bigint, got $other")
    }
  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(sorted, v.asInstanceOf[Long]) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedAddrs", sorted, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($ref, $c) >= 0")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var acc = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { acc += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val acc = ctx.freshName("acc")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $acc = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $acc++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket of an array<float> vector: bit p of the
  * result is sign(dot(vec, planes[p])). `planes` must be a foldable
  * array<array<double>> literal (one row per bit), so the whole bucket —
  * nBits x dim multiply-adds — runs as one codegen loop instead of nBits
  * interpreted HOF folds. */
case class HyperplaneBucket(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val planes = b.asInstanceOf[ArrayData]
    val nBits = planes.numElements()
    var sig = 0L
    var p = 0
    while (p < nBits) {
      val w = planes.getArray(p)
      val n = math.min(vec.numElements(), w.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i).toDouble * w.getDouble(i); i += 1 }
      if (dot > 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val w = ctx.freshName("w")
      val dot = ctx.freshName("dot")
      val sig = ctx.freshName("sig")
      s"""
         |long $sig = 0L;
         |for (int $p = 0; $p < $b.numElements(); $p++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $w = $b.getArray($p);
         |  int $n = java.lang.Math.min($a.numElements(), $w.numElements());
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * $w.getDouble($i);
         |  }
         |  if ($dot > 0.0) $sig |= (1L << $p);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-list stopword hit counts over a token array in ONE pass: `left` is
  * array<string> tokens, `right` a foldable array<array<string>> literal of
  * stopword lists; result is array<int> with one occurrence count per list.
  * Replaces N interpreted `filter(toks, isin(...))` HOF folds (the d04/d05
  * hot path: lambda HOFs evaluate one boxed call per element) with a single
  * codegen'd UTF8String comparison loop.
  */
case class StopwordHits(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_stopword_hits expects (array<string>, array<array<string>>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val lists = b.asInstanceOf[ArrayData]
    val nl = lists.numElements()
    val out = new Array[Int](nl)
    var i = 0
    val nt = toks.numElements()
    while (i < nt) {
      if (!toks.isNullAt(i)) {
        val tok = toks.getUTF8String(i)
        var l = 0
        while (l < nl) {
          val lst = lists.getArray(l)
          var k = 0
          val nk = lst.numElements()
          var hit = false
          while (k < nk && !hit) {
            if (tok.equals(lst.getUTF8String(k))) hit = true
            k += 1
          }
          if (hit) out(l) += 1
          l += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val l = ctx.freshName("l")
      val k = ctx.freshName("k")
      val nl = ctx.freshName("nl")
      val nt = ctx.freshName("nt")
      val nk = ctx.freshName("nk")
      val out = ctx.freshName("out")
      val tok = ctx.freshName("tok")
      val lst = ctx.freshName("lst")
      val hit = ctx.freshName("hit")
      s"""
         |int $nl = $b.numElements();
         |int $nt = $a.numElements();
         |int[] $out = new int[$nl];
         |for (int $i = 0; $i < $nt; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $tok = $a.getUTF8String($i);
         |    for (int $l = 0; $l < $nl; $l++) {
         |      org.apache.spark.sql.catalyst.util.ArrayData $lst = $b.getArray($l);
         |      int $nk = $lst.numElements();
         |      boolean $hit = false;
         |      for (int $k = 0; $k < $nk && !$hit; $k++) {
         |        if ($tok.equals($lst.getUTF8String($k))) $hit = true;
         |      }
         |      if ($hit) $out[$l]++;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ADC (asymmetric distance computation) scoring for product-quantized
  * vectors: `left` is a packed PQ code (one byte per subspace,
  * little-endian in an int64 — M <= 8 subspaces), `right` a foldable
  * array<double> lookup table of length 2*M*256 where `[m*256 + b]` holds
  * dot(query_m, codebook_m[b]) and `[M*256 + m*256 + b]` holds
  * |codebook_m[b]|^2. Result = sum(dot) / sqrt(sum(norm)) — the
  * approximate cosine up to the constant 1/|q|, which the caller divides
  * out. One table lookup per subspace instead of a dim-length float loop:
  * the reason PQ probes scan 10-30x faster than raw vectors.
  *
  * Construction follows the public PQ scheme (Jégou/Douze/Schmid, PAMI
  * 2011), the same family lance-index's IVF_PQ implements
  * (`/root/reference/Cargo.lock`: lance-index). */
/** Product-quantization encoder: `left` is an array<float> vector, `right`
  * a foldable array<array<double>> of M*256 codebook centroids (subspace-
  * major: entry `s*256 + b` is code b of subspace s, each of length
  * dim/M). Result: the vector's packed code — per subspace, the index of
  * the nearest (L2) centroid, one byte each, little-endian in an int64.
  * Runs once at index build; 256*dim flops per vector, fused into the
  * build scan's codegen stage (no UDF boxing). */
/** Index of the nearest (L2) centroid for a float vector — the IVF
  * coarse-assignment kernel. `right` is the full centroid table
  * (array<array<double>>, any count); ties keep the lowest index. One
  * tight codegen loop per row at index build / cluster blocking — no
  * MLlib model broadcast, no UDF boxing. */
case class NearestCentroid(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_centroid expects (array<float>, array<array<double>>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    if (right.foldable) NearestCentroid.nearest(vec, cents)
    else NearestCentroid.nearestDirect(vec, cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      if (right.foldable) s"graft.functions.NearestCentroid.nearest($v, $c)"
      else s"graft.functions.NearestCentroid.nearestDirect($v, $c)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object NearestCentroid {
  /** The centroid/codebook table arrives as ONE plan-literal ArrayData
    * referenced for every row; reading it through per-element
    * `ArrayData.getDouble` walks a boxed GenericArrayData — k × dim
    * unboxings per ROW (at a sqrt-scaled 448-list index that was ~29k
    * per row, the dominant cost of every sf10 index build). Convert to a
    * primitive double[][] ONCE per task thread, keyed by reference
    * identity, in a small fixed-slot memo: one projection can evaluate
    * SEVERAL table expressions per row (CollapseProject merges the
    * `ivfPqBuildPersist` assignment + PQ-encode projections, so
    * NearestCentroid's coarse table and PqEncode's codebook alternate on
    * one thread — a single slot would re-convert BOTH tables every row).
    * Only FOLDABLE table arguments reach this memo (the expressions gate
    * on `right.foldable` and fall back to [[nearestDirect]]): a literal's
    * ArrayData is one immutable object for the plan's lifetime, so
    * identity-keying is sound, whereas a per-row column would miss every
    * row AND could legally reuse a mutated buffer across rows. The memo
    * pins at most [[MemoSlots]] small tables per live thread (≲1 MB each
    * at the sqrt-scaled sf10 sizing); a single projection alternating
    * MORE than [[MemoSlots]] distinct tables would thrash again (the
    * conversions counter below makes that observable) — the widest
    * in-repo plan, ivfPqBuildPersist's collapsed assignment+encode,
    * alternates two. */
  private val MemoSlots = 4
  private final class Memo {
    val keys = new Array[ArrayData](MemoSlots)
    val vals = new Array[Array[Array[Double]]](MemoSlots)
    var next = 0
  }
  private val tableMemo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo
  }
  /** Table conversions performed (memo misses) — test observability for
    * the once-per-task-per-table contract; a relaxed counter on the miss
    * path only, never in the per-row hot loop. */
  private[graft] val conversions = new java.util.concurrent.atomic.AtomicLong
  def table(cents: ArrayData): Array[Array[Double]] = {
    val m = tableMemo.get()
    var i = 0
    while (i < MemoSlots) {
      if (m.keys(i) eq cents) return m.vals(i)
      i += 1
    }
    conversions.incrementAndGet()
    val k = cents.numElements()
    val arr = new Array[Array[Double]](k)
    var c = 0
    while (c < k) { arr(c) = cents.getArray(c).toDoubleArray(); c += 1 }
    m.keys(m.next) = cents
    m.vals(m.next) = arr
    m.next = (m.next + 1) % MemoSlots
    arr
  }

  /** Static helper the generated code calls directly (foldable table). */
  def nearest(vec: ArrayData, cents: ArrayData): Int = {
    val tbl = table(cents)
    val k = tbl.length
    val dim = vec.numElements()
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < k) {
      val cent = tbl(c)
      val d2max = math.min(dim, cent.length)
      var d2 = 0.0
      var d = 0
      while (d < d2max) {
        val t = vec.getFloat(d).toDouble - cent(d)
        d2 += t * t
        d += 1
      }
      if (d2 < bd) { bd = d2; best = c }
      c += 1
    }
    best
  }

  /** Non-foldable-table path (the SQL-exposed function can receive a
    * per-row centroid column): direct ArrayData reads, no memo — a fresh
    * object per row would miss every lookup and pay a full k×dim
    * primitive copy on top of the boxed walk. */
  def nearestDirect(vec: ArrayData, cents: ArrayData): Int = {
    val k = cents.numElements()
    val dim = vec.numElements()
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val d2max = math.min(dim, cent.numElements())
      var d2 = 0.0
      var d = 0
      while (d < d2max) {
        val t = vec.getFloat(d).toDouble - cent.getDouble(d)
        d2 += t * t
        d += 1
      }
      if (d2 < bd) { bd = d2; best = c }
      c += 1
    }
    best
  }
}

case class PqEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_encode expects (array<float>, array<array<double>>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cbs = b.asInstanceOf[ArrayData]
    if (right.foldable) PqEncode.encode(vec, cbs)
    else PqEncode.encodeDirect(vec, cbs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      if (right.foldable) s"graft.functions.PqEncode.encode($v, $c)"
      else s"graft.functions.PqEncode.encodeDirect($v, $c)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqEncode {
  /** Static helper the generated code calls directly (foldable codebook) —
    * the codebook literal goes through [[NearestCentroid.table]]'s
    * per-thread primitive conversion (2048 sub-centroids × dsub boxed
    * reads per row otherwise; same multi-slot memo, so sharing a
    * collapsed projection with a NearestCentroid over a different table
    * costs nothing — each table holds its own slot). */
  def encode(vec: ArrayData, cbs: ArrayData): Long = {
    val tbl = NearestCentroid.table(cbs)
    val m = tbl.length >> 8
    val dsub = vec.numElements() / math.max(m, 1)
    var code = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < 256) {
        val cent = tbl(s * 256 + c)
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val t = vec.getFloat(s * dsub + d).toDouble - cent(d)
          d2 += t * t
          d += 1
        }
        if (d2 < bd) { bd = d2; best = c }
        c += 1
      }
      code |= best.toLong << (s * 8)
      s += 1
    }
    code
  }

  /** Non-foldable-codebook path: direct ArrayData reads, no memo (see
    * [[NearestCentroid.nearestDirect]]). */
  def encodeDirect(vec: ArrayData, cbs: ArrayData): Long = {
    val m = cbs.numElements() >> 8
    val dsub = vec.numElements() / math.max(m, 1)
    var code = 0L
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < 256) {
        val cent = cbs.getArray(s * 256 + c)
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val t = vec.getFloat(s * dsub + d).toDouble - cent.getDouble(d)
          d2 += t * t
          d += 1
        }
        if (d2 < bd) { bd = d2; best = c }
        c += 1
      }
      code |= best.toLong << (s * 8)
      s += 1
    }
    code
  }
}

case class PqAdcScore(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_adc expects (bigint, array<double>), got ($l, $r)")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcScore.score(a.asInstanceOf[Long], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${classOf[PqAdcScore].getName}.score($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcScore {
  /** The kernel body, shared by the Spark expression and driver-side
    * callers: the ADC cosine of one 8-byte code against a query's lookup
    * table (per subspace 256 dots, then 256 squared norms). */
  def score(code: Long, lut: ArrayData): Double = {
    val m = lut.numElements() >> 9 // 2 * 256 entries per subspace
    var dots = 0.0
    var nrm = 0.0
    var s = 0
    while (s < m) {
      val byte = ((code >>> (s * 8)) & 0xffL).toInt
      dots += lut.getDouble(s * 256 + byte)
      nrm += lut.getDouble((m + s) * 256 + byte)
      s += 1
    }
    if (nrm > 0.0) dots / math.sqrt(nrm) else 0.0
  }
}

/** Binary quantization: pack the SIGN BITS of an array<bigint> vector into
  * ceil(n/64) words (bit j of word j/64 set iff v[j] > 0) — the 1-bit
  * sketch behind Hamming-space ANN (lance's binary-quantization shape):
  * 64-dim float vector -> one long, a 256x byte reduction. */
case class LongSignPack(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_sign_pack expects array<bigint>, got $t")
    }
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    LongSignPack.pack(x)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LongSignPack.pack($a);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object LongSignPack {
  def pack(x: ArrayData): ArrayData = {
    val n = x.numElements()
    val words = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      if (x.getLong(i) > 0L) words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
  }
}

/** Hamming distance between two packed sign-bit vectors (xor + popcount —
  * a 64-dim comparison is ONE xor and ONE popcount instruction). */
case class LongHamming(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_hamming expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) { acc += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int ${ev.value}0 = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}0 += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = ${ev.value}0;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A document's FTS postings in one pass over its text: the tokens of
  * `split(text, ' ')` (single-space split, empty tokens kept), each
  * distinct token once, in first-seen order, as
  * struct(dl = the token count, term, tf, positions ascending) — what
  * `posexplode` + `groupBy(doc, dl, term)` + `sort_array(collect_list(pos))`
  * give for one document, with no exchange or aggregate. NULL text gives
  * NULL (posts nothing). `dl` is nullable exactly where
  * `size(split(text, ' '))` is (`legacySizeOfNull`). */
case class FtsPostings(child: Expression, legacySizeOfNull: Boolean)
    extends UnaryExpression {
  def this(child: Expression) =
    this(child, org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dl", LongType, nullable = child.nullable && !legacySizeOfNull),
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false), nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_fts_postings expects string, got $t")
    }
  override def nullSafeEval(a: Any): Any =
    FtsPostings.postings(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FtsPostings.postings($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object FtsPostings {
  import org.apache.spark.unsafe.types.UTF8String

  /** One token's positions so far. */
  private final class Positions(first: Int) {
    var at: Array[Int] = Array(first)
    var n = 1
    def add(p: Int): Unit = {
      if (n == at.length) at = java.util.Arrays.copyOf(at, n * 2)
      at(n) = p
      n += 1
    }
  }

  def postings(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    // a space byte never occurs inside a multi-byte UTF-8 sequence, so a
    // byte scan splits as `split` does
    val seen = new java.util.LinkedHashMap[UTF8String, Positions]()
    var start = 0
    var dl = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        val t = UTF8String.fromBytes(bytes, start, i - start)
        val p = seen.get(t)
        if (p == null) seen.put(t, new Positions(dl)) else p.add(dl)
        dl += 1
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    var k = 0
    seen.forEach { (t, p) =>
      out(k) = InternalRow(dl.toLong, t, p.n.toLong,
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
          java.util.Arrays.copyOf(p.at, p.n)))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object ArrayKernels {
  import org.apache.spark.sql.graftglue.ColumnBridge.{column, expression}
  def signPack(a: Column): Column = column(LongSignPack(expression(a)))
  def hamming(a: Column, b: Column): Column = column(LongHamming(expression(a), expression(b)))
  def longDot(a: Column, b: Column): Column = column(LongDot(expression(a), expression(b)))
  def floatCosine(a: Column, b: Column): Column = column(FloatCosine(expression(a), expression(b)))
  def longEqCount(a: Column, b: Column): Column = column(LongEqCount(expression(a), expression(b)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedLongIntersectCount(expression(a), expression(b)))
  def longInSortedArray(c: Column, sorted: Array[Long]): Column =
    column(LongInSortedArray(expression(c), sorted))
  def hyperplaneBucket(vec: Column, planes: Column): Column =
    column(HyperplaneBucket(expression(vec), expression(planes)))
  def stopwordHits(toks: Column, lists: Column): Column =
    column(StopwordHits(expression(toks), expression(lists)))
  def bigramShingles(text: Column): Column =
    column(BigramShingleSummary(expression(text)))
  def tokenQualityStats(text: Column, stopwords: Seq[String]): Column =
    column(TokenQualityStats(expression(text), stopwords))
  def wordGramStats(text: Column, n: Int): Column =
    column(WordGramStats(expression(text), n))
  def rollingDocHash(text: Column): Column =
    column(RollingDocHash(expression(text)))
  def piiRedact(text: Column): Column =
    column(PiiRedactSummary(expression(text)))
  def minhashSig(text: Column, p: Int): Column =
    column(MinHashSig(expression(text), p))
  def bigramBuckets(text: Column): Column =
    column(BigramBucketCounts(expression(text)))
  def pqAdcScore(code: Column, lut: Column): Column =
    column(PqAdcScore(expression(code), expression(lut)))
  def pqEncode(vec: Column, codebooks: Column): Column =
    column(PqEncode(expression(vec), expression(codebooks)))
  def nearestCentroid(vec: Column, centroids: Column): Column =
    column(NearestCentroid(expression(vec), expression(centroids)))
  private[graft] def ftsPostings(text: Column): Column =
    column(new FtsPostings(expression(text)))

  // SQL names for every kernel are registered by GraftExtensions
  // (injectFunction) — see graft.plans.GraftExtensions.
}
