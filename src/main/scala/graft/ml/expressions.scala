package graft.ml

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Static kernels referenced from generated code (same pattern as
  * text.TextUtil). Inputs are non-null ARRAY<DOUBLE> without null elements
  * (embedding columns); sums run sequentially in index order — the same
  * evaluation order as DuckDB's list_dot_product, so rounded oracle
  * results agree. */
object VecUtil {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns.
  *
  * Why an Expression and not the builtin `aggregate(zip_with(...))` HOF:
  * Catalyst evaluates higher-order functions interpretively (per-element
  * lambda dispatch, boxed accumulators) — measured 129 s for the LSH dedup
  * at sf0.01. A primitive-loop kernel invoked from generated code stays
  * inside WholeStageCodegen with zero per-element overhead. Beats a Scala
  * UDF too: no Seq[Double] conversion, no encoder boundary — the kernel
  * reads Tungsten's UnsafeArrayData in place. */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_d"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ml.VecUtil.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Static PQ kernels referenced from generated code (VecUtil's pattern).
  *
  * Why these exist (r20, guide §1.2 step 2 / §4): the PQ encode and ADC
  * query-table builders used to inline 16 `dot_product_d` expressions per
  * subspace — 8 chained Projects × 16 dots with embedded 8-double literal
  * arrays. That expression tree is pathological twice over: the generated
  * class is so large that Janino compilation costs ~2 s per bench run
  * (measured: m_ann_pq_seeded 3.0-3.7 s default vs 1.2-1.3 s with
  * factoryMode=NO_CODEGEN — the difference is compile work, re-paid every
  * run), and the interpreted fallback evaluates ~1,300 boxed nodes per
  * row. One compact Expression per subspace (a primitive loop over the
  * codebook, constants on the codegen references array) keeps the whole
  * stage inside WholeStageCodegen with a ~10-node tree.
  *
  * Exactness: the loops replicate the retired expression op-for-op —
  * score_j = (-2.0 · Σᵢ xsᵢ·cbⱼᵢ) + ssⱼ (same left-fold order inside the
  * dot, same multiply-then-add shape), the argmin replicates
  * `array_position(sc, array_min(sc)) − 1` exactly (min under
  * java.lang.Double.compare — catalyst's double ordering — then FIRST
  * index with primitive `==`, so even the −0.0/+0.0 tie behaves
  * identically), and the ADC table entry is (dot(qs,qs) + (−2.0·dotⱼ))
  * + ssⱼ with dot(qs,qs) hoisted — bit-identical because the hoisted
  * value is the same deterministic double the per-element expression
  * recomputed. PqSpec asserts both kernels bit-equal to the inline
  * expression forms on seeded random vectors. */
object PqUtil {
  /** Index (0-based) of the first minimal −2⟨xs,cbⱼ⟩+ssⱼ over k codebook
    * rows; `cb` is row-major k×sub.
    *
    * Input contract: `xs` must be NaN-free — every caller encodes finite
    * embeddings. Off-contract (all-NaN scores) the first-index scan can
    * never match (`NaN == NaN` is false); the fallthrough clamps to −1,
    * the value the retired `array_position(sc, array_min(sc)) − 1`
    * expression returned in that case (ADVICE r20: the unclamped scan
    * returned k, an out-of-range code a downstream ADC lookup would
    * index past). The ADC lookup (`Similarity.pqAdcDist`) reads −1 as a
    * null distance; PqSpec pins both. */
  def argminCode(xs: ArrayData, cb: Array[Double], ss: Array[Double],
      k: Int, sub: Int): Int = {
    val n = math.min(xs.numElements(), sub)
    val scores = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0
      var i = 0
      val off = j * sub
      while (i < n) { s += xs.getDouble(i) * cb(off + i); i += 1 }
      scores(j) = (-2.0 * s) + ss(j)
      j += 1
    }
    var mn = scores(0)
    j = 1
    while (j < k) {
      if (java.lang.Double.compare(scores(j), mn) < 0) mn = scores(j)
      j += 1
    }
    j = 0
    while (j < k && !(scores(j) == mn)) j += 1
    if (j == k) -1 else j // -1 only when every score is NaN (off-contract)
  }

  /** ADC distance table tⱼ = ‖qs‖² − 2⟨qs,cbⱼ⟩ + ssⱼ over k codebook
    * rows; `cb` is row-major k×sub. */
  def adcTable(qs: ArrayData, cb: Array[Double], ss: Array[Double],
      k: Int, sub: Int): ArrayData = {
    val n = math.min(qs.numElements(), sub)
    var dqq = 0.0
    var i = 0
    while (i < n) { val v = qs.getDouble(i); dqq += v * v; i += 1 }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0
      i = 0
      val off = j * sub
      while (i < n) { s += qs.getDouble(i) * cb(off + i); i += 1 }
      out(j) = (dqq + (-2.0 * s)) + ss(j)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** PQ subspace encode: 0-based code of the nearest codebook row under the
  * ADC score, over one ARRAY<DOUBLE> slice. Constants ride the case-class
  * fields as ArraySeq (contents equality — the BloomMightContain lesson:
  * raw Array fields break canonicalization and exchange reuse) and the
  * codegen references array. */
case class PqArgminCode(child: Expression,
    codebook: scala.collection.immutable.ArraySeq[Double],
    ss: scala.collection.immutable.ArraySeq[Double],
    k: Int, sub: Int)
  extends UnaryExpression {
  require(codebook.length == k * sub && ss.length == k,
    s"codebook must be k*sub=${k * sub} doubles row-major and ss k=$k")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_argmin_code"
  @transient private lazy val cbArr = codebook.toArray
  @transient private lazy val ssArr = ss.toArray
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.argminCode(v.asInstanceOf[ArrayData], cbArr, ssArr, k, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cbArr, "double[]")
    val ssRef = ctx.addReferenceObj("pqSs", ssArr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ml.PqUtil.argminCode($c, $cbRef, $ssRef, $k, $sub)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqArgminCode =
    copy(child = newChild)
}

/** PQ ADC distance table for one subspace slice of a query vector —
  * ARRAY<DOUBLE> of k entries (see PqUtil.adcTable). */
case class PqAdcTable(child: Expression,
    codebook: scala.collection.immutable.ArraySeq[Double],
    ss: scala.collection.immutable.ArraySeq[Double],
    k: Int, sub: Int)
  extends UnaryExpression {
  require(codebook.length == k * sub && ss.length == k,
    s"codebook must be k*sub=${k * sub} doubles row-major and ss k=$k")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_table"
  @transient private lazy val cbArr = codebook.toArray
  @transient private lazy val ssArr = ss.toArray
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.adcTable(v.asInstanceOf[ArrayData], cbArr, ssArr, k, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cbArr, "double[]")
    val ssRef = ctx.addReferenceObj("pqSs", ssArr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.ml.PqUtil.adcTable($c, $cbRef, $ssRef, $k, $sub)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

object VecFunctions {
  def dot_d(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductD(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** One PQ subspace's encode over a slice column; `cents` is the k×sub
    * codebook, `ss` its precomputed squared norms (caller-owned so the
    * engine and oracle share one source of constants). */
  def pq_argmin_code(xs: Column, cents: IndexedSeq[IndexedSeq[Double]],
      ss: IndexedSeq[Double]): Column = {
    val k = cents.length
    val sub = cents.head.length
    GraftSqlBridge.column(PqArgminCode(GraftSqlBridge.expression(xs),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        cents.flatten.toArray),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(ss.toArray),
      k, sub))
  }

  /** One PQ subspace's ADC distance table over a query-slice column. */
  def pq_adc_table(qs: Column, cents: IndexedSeq[IndexedSeq[Double]],
      ss: IndexedSeq[Double]): Column = {
    val k = cents.length
    val sub = cents.head.length
    GraftSqlBridge.column(PqAdcTable(GraftSqlBridge.expression(qs),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        cents.flatten.toArray),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(ss.toArray),
      k, sub))
  }
}
