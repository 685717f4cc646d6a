package graft.ml

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType}

/** Symmetric int8 scalar quantization for embedding columns — the storage
  * path that makes 100 TB of vectors tractable: float32 embeddings become
  * one byte per dimension plus one scale per vector (4× smaller at rest,
  * 4× more vectors per scan batch and per broadcast), at a bounded
  * accuracy cost (per-element error ≤ scale/2, i.e. ≤ max|x|/254 — FAISS's
  * SQ8 storage layout, public knowledge). Candidate generation (LSH bands,
  * IVF lists) is unchanged; this shrinks the SCORING side — rerank the
  * shortlist with full-precision vectors if the use case needs exact
  * order.
  *
  * Three codegen kernels (same pattern as [[DotProductD]]: primitive loops
  * invoked from generated code, no HOF interpretation, no UDF encoder
  * boundary): per-vector scale, quantize-to-binary, and an int8·int8
  * dot with a long accumulator.
  */
object QuantUtil {
  /** max|x|/127, the symmetric per-vector scale; 1.0 for the zero vector
    * (quantizes to all-zero bytes regardless). */
  def scale(a: ArrayData): Double = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { val v = math.abs(a.getDouble(i)); if (v > m) m = v; i += 1 }
    if (m == 0.0) 1.0 else m / 127.0
  }

  def quantize(a: ArrayData, scale: Double): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = Math.round(a.getDouble(i) / scale)
      out(i) = (if (q > 127) 127 else if (q < -127) -127 else q).toByte
      i += 1
    }
    out
  }

  /** Σ qa_i·qb_i with a long accumulator: |q| ≤ 127 so 2^31 elements fit
    * with headroom — no overflow at any realistic dimensionality. */
  def dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }
}

case class I8Scale(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "i8_scale"
  override protected def nullSafeEval(a: Any): Any =
    QuantUtil.scale(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.ml.QuantUtil.scale($a)")
  override protected def withNewChildInternal(newChild: Expression): I8Scale =
    copy(child = newChild)
}

case class I8Quantize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "i8_quantize"
  override protected def nullSafeEval(a: Any, s: Any): Any =
    QuantUtil.quantize(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) => s"graft.ml.QuantUtil.quantize($a, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): I8Quantize =
    copy(left = newLeft, right = newRight)
}

case class I8Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "i8_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    QuantUtil.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ml.QuantUtil.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): I8Dot =
    copy(left = newLeft, right = newRight)
}

object Quantize extends graft.QueryModule {
  def i8_scale(c: Column): Column =
    GraftSqlBridge.column(I8Scale(GraftSqlBridge.expression(c)))
  def i8_quantize(c: Column, scale: Column): Column =
    GraftSqlBridge.column(I8Quantize(
      GraftSqlBridge.expression(c), GraftSqlBridge.expression(scale)))
  def i8_dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(I8Dot(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Quantized columns for an embedding frame: (…, sc, q). */
  private[ml] def quantized(e: DataFrame): DataFrame =
    e.withColumn("sc", i8_scale(col("emb")))
      .withColumn("q", i8_quantize(col("emb"), col("sc")))
      .withColumn("qnorm", sqrt(i8_dot(col("q"), col("q")).cast(DoubleType)) * col("sc"))

  /** q19's brute-force cosine top-5, scored entirely on int8 vectors:
    * cos(a,b) ≈ (i8dot·sc_a·sc_b)/(‖a‖_q·‖b‖_q) with the quantized norms.
    * Engine-only (byte rounding isn't DuckDB-reproducible); QuantizeSpec
    * pins recall@5 against the exact q19 ranking and bounds the cosine
    * error. The scan reads 1/4 the bytes of the double path — at 100 TB
    * that IS the latency, and the same binary column is what an IVF/LSH
    * shortlist would rerank against. */
  def m_ann_quantized(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(Tables.embeddingsFanned(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")))
      .select(col("vec_id"), col("sc"), col("q"), col("qnorm"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("sc").as("qsc"),
        col("q").as("qq"), col("qnorm").as("qqnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id"))
    e.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(
          (i8_dot(col("qq"), col("q")).cast(DoubleType) * col("qsc") * col("sc"))
            / (col("qqnorm") * col("qnorm")), 6).as("sim_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim_r"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** RECALL ACCURACY-CONTRACT gate for the quantized ANN path (round-6
    * verdict item 5 — the q_approx_distinct pattern applied to ranking):
    * joins m_ann_quantized's int8 top-5 against the exact double-precision
    * top-5 (q19's brute truth, DuckDB-recomputable) and emits per query
    * the truth size plus `recall_ok` = at least 4 of 5 exact neighbors
    * recovered. The quantized ranking is a pure deterministic function of
    * the embeddings, so the flag is stable; the oracle recomputes the
    * truth side and asserts the flag as literal TRUE. A scoring bug in any
    * of the three int8 kernels that costs more than one neighbor per
    * query flips the flag and fails the hash gate. (QuantizeSpec's
    * mean-recall assertion is retired into this oracle-gated form.) */
  def q81_ann_quantized_recall(s: SparkSession, dir: String): DataFrame = {
    val truth = Similarity.q19_similarity_topk(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val eng = m_ann_quantized(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(eng, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_truth"),
        (col("n_hit") >= col("n_truth") - 1).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_ann_quantized" -> (m_ann_quantized _),
    "q81_ann_quantized_recall" -> (q81_ann_quantized_recall _))

  override val oracle: Map[String, String] = Map(
    "q81_ann_quantized_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
        |pairs AS (SELECT query_id, vec_id AS neighbor_id,
        |  round(list_dot_product(qemb, emb) /
        |        (sqrt(list_dot_product(qemb, qemb)) * sqrt(list_dot_product(emb, emb))), 6) AS sim_r
        |  FROM q, e WHERE vec_id <> query_id),
        |ranked AS (SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rank FROM pairs)
        |SELECT query_id, COUNT(*) AS n_truth, TRUE AS recall_ok
        |FROM ranked WHERE rank <= 5
        |GROUP BY query_id ORDER BY query_id""".stripMargin)
}
