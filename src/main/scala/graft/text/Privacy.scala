package graft.text

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local differential privacy over corpus membership attributes (q200) —
  * the governance leg that releases a per-source statistic WITHOUT
  * trusting the aggregator with individual rows: Warner's randomized
  * response (Warner 1965, "Randomized response: a survey technique for
  * eliminating evasive answer bias", the forced-response variant that
  * RAPPOR's permanent response builds on — Erlingsson, Pihur &
  * Korolova, CCS 2014).
  *
  * Mechanism, per document: with probability 1/2 report the TRUE
  * sensitive bit (here: minority-language membership, `lang = 'zh'` —
  * the class of attribute a crowd-sourced corpus may not collect in the
  * clear), otherwise report a fair coin. Both coins come from ONE
  * seeded splitmix64 draw (`h = splitmix64(doc_id ⊕ salt)`, truth-coin
  * = bit 0, noise-coin = bit 1), so the mechanism is REPLAYABLE: the
  * DuckDB twin re-derives every flip through the q83 HUGEINT limb
  * arithmetic and the release hash-gates exactly — including the noise.
  *
  * The release is P(report=1) = p/2 + 1/4, so the unbiased estimator of
  * the true count t is (4R − n)/2 — emitted as the EXACT RATIONAL pair
  * (est_num, est_den) = (4R − n, 2n) normalized per source size, never
  * a float (and never a `div`, whose truncate-vs-floor mismatch bites
  * on the negative estimates small sources can produce). The privacy
  * budget rides along: ε = ln(P(1|1)/P(1|0)) = ln 3, as the integer
  * micro-nat literal 1098612 (PrivacySpec asserts the .5-boundary
  * margin of the constant).
  *
  * Scale shape: one map-side pass (hash + two bit tests) and one
  * per-source aggregate — no joins, no windows, no driver state; the
  * exact shape a 100 TB privacy release needs. The true count rides in
  * the output as the auditor's column (this is an engineering artifact
  * at SF-test scale; a production release drops it).
  */
object Privacy extends graft.QueryModule {

  private val Salt = 42405L // 0xA5A5 — decorrelates from q182's plain-id draw
  private val EpsMicroNat = 1098612L // round(1e6 · ln 3)

  def q200_randomized_response(s: SparkSession, dir: String): DataFrame =
    rrRelease(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        when(col("lang") === "zh", 1L).otherwise(0L).as("fl")))

  /** The mechanism kernel over (doc_id, source, fl) — exposed for
    * PrivacySpec's planted-prevalence fixture. */
  private[graft] def rrRelease(docs: DataFrame): DataFrame =
    docs
      .withColumn("h",
        graft.rel.JoinCard.splitmix64(col("doc_id").bitwiseXOR(lit(Salt))))
      .withColumn("rep",
        when(col("h").bitwiseAND(lit(1L)) === 1L, col("fl"))
          .otherwise(expr("shiftrightunsigned(h, 1) & 1")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("rep")).as("reported_pos"),
        sum(col("fl")).as("true_pos"))
      .select(col("source"), col("n"), col("reported_pos"), col("true_pos"),
        (lit(4L) * col("reported_pos") - col("n")).as("est_num"),
        (lit(2L) * col("n")).as("est_den"),
        lit(EpsMicroNat).as("eps_micro_nat"))
      .orderBy(col("source"))

  /** splitmix64 replayed step-for-step in HUGEINT (the q83 recipe). */
  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val rrOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH d AS (SELECT doc_id, source,
       |    CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS fl FROM documents),
       |z0 AS (SELECT doc_id, source, fl,
       |    xor(CAST(doc_id AS HUGEINT), $Salt) AS z FROM d),
       |s1 AS (SELECT source, fl, $z1 AS z1 FROM z0),
       |s2 AS (SELECT source, fl, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT source, fl, $m2 AS z2 FROM s2),
       |s4 AS (SELECT source, fl, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT source, fl, $m3 AS z3 FROM s4),
       |s6 AS (SELECT source, fl, xor(z3, z3 // 2147483648) AS m FROM s5),
       |rep AS (SELECT source, fl,
       |    CASE WHEN m % 2 = 1 THEN fl
       |      ELSE CAST((m // 2) % 2 AS INTEGER) END AS rep FROM s6),
       |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(rep) AS BIGINT) AS reported_pos,
       |    CAST(SUM(fl) AS BIGINT) AS true_pos
       |  FROM rep GROUP BY 1)
       |SELECT source, n, reported_pos, true_pos,
       |  4 * reported_pos - n AS est_num, 2 * n AS est_den,
       |  CAST($EpsMicroNat AS BIGINT) AS eps_micro_nat
       |FROM g ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_randomized_response" -> (q200_randomized_response _))

  override val oracle: Map[String, String] = Map(
    "q200_randomized_response" -> rrOracle)
}
