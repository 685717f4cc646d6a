package graft.text

import graft.Tables
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Character-entropy quality signal (q139) — the classic gibberish /
  * base64-blob / repeated-filler detector in pretraining curation
  * (low-entropy text is boilerplate or repetition; abnormally high is
  * random blobs): Shannon entropy of the per-document character
  * distribution, in MICRO-NATS so it hash-gates cross-engine.
  *
  * Identity used: H = ln(n) − (Σ_c cnt_c·ln(cnt_c)) / n. Each ln is
  * integerized ONCE per distinct count (`round(1e6·ln x)` — the q125/
  * q129 micro-nat discipline, same documented knife-edge class), so the
  * per-doc sum is an exact BIGINT regardless of summation order, and the
  * final value is one integer division.
  *
  * The engine path never explodes characters: `CharEntropyUnat` is a
  * native codegen expression doing ONE pass over the string with a
  * 128-slot ASCII fast path (HashMap fallback for supplementary code
  * points) — per-row scalar work inside WholeStageCodegen, zero shuffle.
  * The oracle is the explode→group→sum formulation over the same
  * arithmetic; parity of the two shapes is exactly what the gate proves
  * (EntropySpec additionally pins the kernel to a Spark-side explode
  * twin). At 100 TB the expression path is the only sane one: the
  * explode shape multiplies the shuffle by average document length.
  */
object EntropyKernel {
  /** round(1e6·ln(x)) for x ≥ 1 — the engine-neutral shared formula
    * (r18 verdict item 4), so the oracle's generated-SQL twin is
    * bit-identical by construction, not by libm luck. */
  private def iln(x: Long): Long =
    math.round(1e6 * graft.functions.SharedLnUtil.ln(x))

  /** Per-CODE-POINT entropy in micro-nats; 0 for empty/null-length
    * strings. Counts Unicode code points (matches DuckDB's
    * `string_split(text, '')` and Spark's `length()`). */
  def charEntropyUnat(u: UTF8String): Long = {
    val s = u.toString
    if (s.isEmpty) return 0L
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Long] = null
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Long]()
        other.merge(cp, 1L, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(cp)
    }
    var sum = 0L
    var c = 0
    while (c < 128) {
      val cnt = ascii(c)
      if (cnt > 0) sum += cnt * iln(cnt)
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) { val cnt = it.next(); sum += cnt * iln(cnt) }
    }
    iln(n) - sum / n
  }
}

/** `char_entropy_unat(str)` — see [[EntropyKernel]]. Null-safe, codegen'd
  * via a static kernel call (stays inside WholeStageCodegen). */
case class CharEntropyUnat(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "char_entropy_unat"
  override protected def nullSafeEval(input: Any): Any =
    EntropyKernel.charEntropyUnat(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.EntropyKernel.charEntropyUnat($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropyUnat =
    copy(child = newChild)
}

object Entropy extends graft.QueryModule {

  def char_entropy_unat(c: Column): Column =
    GraftSqlBridge.column(CharEntropyUnat(GraftSqlBridge.expression(c)))

  /** Below ~2.8 nats a document in this corpus is in the repetitive tail
    * (p10 ≈ 2.77 nats measured at sf0.01); English-like text runs
    * ≈ 2.8-3.0 nats of character entropy. */
  private val LowEntropyUnat = 2800000L

  def q139_char_entropy(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_text"),
        char_entropy_unat(col("text")).as("h_unat"))
      .withColumn("low_entropy", col("h_unat") < LowEntropyUnat)
      .orderBy(col("doc_id"))

  private lazy val entropyOracle: String = {
    import graft.functions.SharedLn.{microSql, oracleLn}
    s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
       |  FROM documents),
       |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ch GROUP BY 1, 2),
       |ccl AS (${oracleLn("cc", Seq("doc_id", "cnt"), Seq(("__lnc", "cnt")))}),
       |agg AS (SELECT doc_id, SUM(cnt) AS n,
       |    SUM(cnt * ${microSql("__lnc")}) AS sm
       |  FROM ccl GROUP BY 1),
       |aggl AS (${oracleLn("agg", Seq("doc_id", "n", "sm"),
          Seq(("__lnn", "n")))}),
       |h AS (SELECT d.doc_id,
       |    CAST(length(d.text) AS BIGINT) AS n_chars_text,
       |    CAST(CASE WHEN a.n IS NULL OR a.n = 0 THEN 0
       |      ELSE ${microSql("__lnn")} - sm // a.n
       |    END AS BIGINT) AS h_unat
       |  FROM documents d LEFT JOIN aggl a ON d.doc_id = a.doc_id)
       |SELECT doc_id, n_chars_text, h_unat,
       |  h_unat < $LowEntropyUnat AS low_entropy
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- registry
  // --------------------------------------- q271 Simpson diversity
  /** q271: Simpson's diversity of the per-language unigram
    * distribution (Simpson, Nature 1948 — the UNBIASED estimator
    * λ̂ = Σ c(c−1)/(N(N−1)), which is a pure ratio of integers, no
    * logarithm at all) with the inverse-Simpson effective vocabulary
    * size — the diversity number beside the entropy family (q139
    * chars, q27/q69 Zipf shape): "how many equally-common types would
    * give this repeat-probability?" is the lexical-richness report a
    * per-language curation pass reads (a language whose effective
    * vocabulary collapses is template/boilerplate text).
    *
    * Exactness: λ_micro = (10⁶·Σc(c−1)) div (N(N−1)) and
    * eff_types_milli = (1000·N(N−1)) div Σc(c−1), both single DECIMAL
    * (38,0) divisions of exact BIGINTs (Σc(c−1) ≤ N² — the N ≈ 3·10⁹
    * token frontier carries the loud assert); Gini-Simpson rides as
    * 10⁶ − λ_micro. Every quantity is a one-rollup aggregate.
    *
    * Scale shape: one (lang, term) count off the fanned corpus pass
    * (Heaps-bounded), one lang rollup — the q211 shape minus the
    * grid. */
  def q271_simpson_diversity(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.documentsFanned(s, dir)
      .select(col("lang"), explode(Cleanse.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    lt.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"),
        sum(expr("c * (c - 1)")).as("rep2"))
      .filter(coalesce(assert_true(
        expr(s"1000000 * n_tok <= (${Long.MaxValue}L div " +
          "greatest(n_tok, 1L))"),
        lit("Simpson micro products pass BIGINT near 3e6 tokens per " +
          "language: swap the ratios to DECIMAL(38,0) at this scale")),
        lit(true)))
      .select(col("lang"), col("n_tok"), col("n_types"),
        expr("(1000000 * rep2) div greatest(n_tok * (n_tok - 1), 1L)")
          .as("simpson_micro"),
        expr("1000000 - (1000000 * rep2) div " +
          "greatest(n_tok * (n_tok - 1), 1L)").as("gini_simpson_micro"),
        expr("(1000 * n_tok * (n_tok - 1)) div greatest(rep2, 1L)")
          .as("eff_types_milli"))
      .orderBy(col("lang"))
  }

  private lazy val simpsonOracle: String = {
    val dToks = CorpusFilters.DToks
    s"""WITH lt AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT lang, unnest($dToks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |ag AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2 FROM lt GROUP BY 1)
       |SELECT lang, n_tok, n_types,
       |  (1000000 * rep2) // GREATEST(n_tok * (n_tok - 1), 1)
       |    AS simpson_micro,
       |  1000000 - (1000000 * rep2) //
       |    GREATEST(n_tok * (n_tok - 1), 1) AS gini_simpson_micro,
       |  (1000 * n_tok * (n_tok - 1)) // GREATEST(rep2, 1)
       |    AS eff_types_milli
       |FROM ag ORDER BY lang""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q271_simpson_diversity" -> (q271_simpson_diversity _),
    "q139_char_entropy" -> (q139_char_entropy _))

  override val oracle: Map[String, String] = Map(
    "q139_char_entropy" -> entropyOracle,
    "q271_simpson_diversity" -> simpsonOracle)
}
