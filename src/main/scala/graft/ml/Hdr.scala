package graft.ml

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** HDR-histogram quantile sketch (q130) — the log-bucketed quantile
  * family (HdrHistogram; DDSketch, Masson et al. VLDB 2019) done
  * integer-exact so the whole sketch hash-gates cross-engine, unlike
  * float-centroid sketches (t-digest) which can't.
  *
  * Bucketing: for a positive long v with e = bit-length(v) and s = 4
  * sub-bucket bits, shift = max(e-1-s, 0), sub = v div 2^shift. The
  * bucket [sub·2^shift, (sub+1)·2^shift − 1] has relative width ≤ 2^-s
  * = 6.25 % — the published HdrHistogram guarantee, here PROVEN per row
  * by the gate's `rel_err_ok` column ((hi−lo)·16 ≤ lo). Everything is
  * bit-length + shift + integer division: no log(), no float, so Spark
  * and DuckDB agree bit-for-bit (`length(bin(v))` both sides).
  *
  * Scale shape: the sketch is ONE map-side-combined groupBy to ≤ ~2^6·2^s
  * rows regardless of corpus size, order-independent and mergeable by
  * count addition (the property a 1000-executor rollup needs — partial
  * histograms OR-merge with plain +). Quantile lookup is a window over
  * the tiny histogram. The `exact_v` audit column does pay a full sort at
  * bench scale to prove `in_bucket` — at 100 TB you drop the audit and
  * keep the sketch (documented; the bound holds by construction).
  *
  * Values: l_extendedprice in cents — `round(price·100)`: one IEEE
  * multiply + round, identical in both engines (inputs have 2-decimal
  * origin so nothing lands on a .5 knife-edge).
  */
object Hdr extends graft.QueryModule {

  private val SubBits = 4
  private val Phis = Seq(500, 900, 950, 990, 999) // permille

  /** Pure twin of the SQL bucketing, for property tests: (shift, sub,
    * lo, hi) for a positive v. */
  private[graft] def bucket(v: Long): (Int, Long, Long, Long) = {
    require(v >= 1, s"positive values only, got $v")
    val e = 64 - java.lang.Long.numberOfLeadingZeros(v)
    val shift = math.max(e - 1 - SubBits, 0)
    val sub = v >>> shift
    (shift, sub, sub << shift, ((sub + 1) << shift) - 1)
  }

  def q130_hdr_quantiles(s: SparkSession, dir: String): DataFrame = {
    // non-positive guard (round-14, advice item): the pure kernel
    // `bucket` requires v >= 1 (bin() of a negative long is 64 chars, so
    // e = 64 and the bucketing silently collapses); mirror that contract
    // here so a zero/negative price fails LOUDLY instead of mis-bucketing.
    // raise_error inside when() stays whole-stage-codegen'd.
    val li = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("v0"))
      .select(when(col("v0") >= 1, col("v0"))
        .otherwise(raise_error(concat(
          lit("HDR sketch requires positive values, got "),
          col("v0").cast("string")))).as("v"))
    val bucketed = li
      .withColumn("e", length(expr("bin(v)")))
      .withColumn("shift",
        greatest(col("e") - lit(1) - lit(SubBits), lit(0)).cast("int"))
      .withColumn("sub", expr("v div shiftleft(1L, shift)"))
    // the sketch: ≤ 64·2^s rows, map-side combined, mergeable
    val hist = bucketed.groupBy(col("shift"), col("sub"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", expr("sub * shiftleft(1L, shift)"))
      .withColumn("hi", expr("(sub + 1) * shiftleft(1L, shift) - 1L"))
    val cumW = Window.orderBy(col("lo"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(cumW))
    val n = li.agg(count(lit(1)).as("n"))
    import s.implicits._
    val phis = Phis.toDF("phi_permille")
      .crossJoin(broadcast(n))
      .withColumn("rank_r", expr("(phi_permille * n + 999L) div 1000L"))
    // first bucket whose cumulative count reaches the target rank
    val pick = Window.partitionBy(col("phi_permille"))
      .orderBy(col("lo"), col("sub"))
    val est = broadcast(phis).join(cum, col("cum") >= col("rank_r"))
      .withColumn("pk", row_number().over(pick))
      .filter(col("pk") === 1)
      .select(col("phi_permille"), col("n"), col("rank_r"),
        col("lo").as("est_lo"), col("hi").as("est_hi"))
    // exact audit: the true value at rank r (full sort — bench-scale
    // only; the 100 TB deployment keeps the sketch and drops the audit)
    val ranked = li.withColumn("rn",
      row_number().over(Window.orderBy(col("v"))))
    val exact = ranked.join(
      broadcast(phis.select(col("phi_permille"), col("rank_r"))),
      col("rn") === col("rank_r"))
      .select(col("phi_permille"), col("v").as("exact_v"))
    est.join(broadcast(exact), Seq("phi_permille"))
      .select(col("phi_permille"), col("n"), col("rank_r"),
        col("est_lo"), col("est_hi"), col("exact_v"),
        (col("exact_v") >= col("est_lo") &&
          col("exact_v") <= col("est_hi")).as("in_bucket"),
        ((col("est_hi") - col("est_lo")) * 16 <= col("est_lo"))
          .as("rel_err_ok"))
      .orderBy(col("phi_permille"))
  }

  private lazy val hdrOracle: String = {
    val phiList = Phis.mkString(", ")
    s"""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
       |  FROM lineitem),
       |bk AS (SELECT v, length(bin(v)) AS e,
       |    greatest(length(bin(v)) - 1 - $SubBits, 0) AS shift
       |  FROM li),
       |hist AS (SELECT shift, v // (CAST(1 AS BIGINT) << shift) AS sub,
       |    COUNT(*) AS cnt
       |  FROM bk GROUP BY 1, 2),
       |hb AS (SELECT shift, sub, cnt,
       |    sub * (CAST(1 AS BIGINT) << shift) AS lo,
       |    (sub + 1) * (CAST(1 AS BIGINT) << shift) - 1 AS hi
       |  FROM hist),
       |cumh AS (SELECT *, CAST(SUM(cnt) OVER (ORDER BY lo, sub
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hb),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li),
       |phis AS (SELECT phi_permille, n,
       |    (phi_permille * n + 999) // 1000 AS rank_r
       |  FROM unnest([$phiList]) AS t(phi_permille), n),
       |est AS (SELECT phi_permille, n, rank_r, lo AS est_lo, hi AS est_hi,
       |    ROW_NUMBER() OVER (PARTITION BY phi_permille ORDER BY lo, sub)
       |      AS pk
       |  FROM phis JOIN cumh ON cum >= rank_r),
       |ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM li),
       |ex AS (SELECT phi_permille, v AS exact_v
       |  FROM ranked JOIN phis ON rn = rank_r)
       |SELECT CAST(e.phi_permille AS INTEGER) AS phi_permille, n,
       |  CAST(rank_r AS BIGINT) AS rank_r, est_lo, est_hi, exact_v,
       |  (exact_v >= est_lo AND exact_v <= est_hi) AS in_bucket,
       |  ((est_hi - est_lo) * 16 <= est_lo) AS rel_err_ok
       |FROM est e JOIN ex USING (phi_permille)
       |WHERE pk = 1 ORDER BY phi_permille""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_hdr_quantiles" -> (q130_hdr_quantiles _))

  override val oracle: Map[String, String] = Map(
    "q130_hdr_quantiles" -> hdrOracle)
}
