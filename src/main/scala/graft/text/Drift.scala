package graft.text

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distribution-drift monitors over the corpus quality signals — the
  * per-source release gate a curation platform runs before admitting a
  * new crawl/source into the training mixture (the "did this source
  * shift?" check of every data-quality stack; cf. the drift chapters of
  * Rabanser et al. NeurIPS 2019, "Failing Loudly").
  *
  * q202 — EXACT two-sample Kolmogorov-Smirnov distance, leave-one-out
  * per source (source vs rest-of-corpus) over the document-length
  * signal. The KS statistic sup_x |F1(x) − F2(x)| is computed WITHOUT
  * floats: with c1(x), c2(x) the ECDF counts, D = max_x |c1(x)·n2 −
  * c2(x)·n1| as an exact BIGINT cross-multiplication (the q174 AUC /
  * q196 Gini discipline: rank identities in integer space), reported
  * with its exact numerator, the floor-permille D/(n1·n2), and the
  * argmax location (min x attaining the max — deterministic).
  *
  * q203 — Population Stability Index per source vs rest on fixed-width
  * length bins (the credit-scoring drift metric; Siddiqi 2006): PSI =
  * Σ_b (p1−p2)·ln(p1/p2) with Laplace +1 smoothing. Quantization
  * follows the house micro-nat rule (integerize BEFORE summation,
  * q125-class): proportions as floor-permilles, each ln as a
  * DIFFERENCE of integer micro-nat roundings (round(10⁶·ln c) −
  * round(10⁶·ln n) — ln of integer counts, the q191/q192 knife-edge
  * class), each bin term a BIGINT product, the PSI an exact sum —
  * summation-order-proof.
  *
  * Scale shape: q202's dense grid is |sources| × |distinct signal
  * values| — exact ECDFs are value-cardinality-bounded, so the kernel
  * fits signals with bounded support (lengths, scores, permilles; here
  * ≤ ~600 distinct). At 100 TB two things change, both argued in
  * SCALING.md: cross-products c·n reach BIGINT limits near n ≈ 3·10⁹ —
  * the loud assert below names the DECIMAL(38,0) swap — and unbounded-
  * support signals first quantize to the q203 bins (PSI IS the
  * bounded-cardinality scale path: 16 bins per source, one aggregate,
  * no value-level grid). Everything else is one corpus pass plus
  * catalog-sized window algebra.
  */
object Drift extends graft.QueryModule {

  // ------------------------------------------------------ q202 exact KS
  def q202_ks_drift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("v"))
    val n = docs.count()
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // ≤ |distinct v| rows: the single-partition window is catalog-sized
    val valsCum = docs.groupBy(col("v"))
      .agg(count(lit(1)).as("cv"))
      .withColumn("cum_all", sum(col("cv")).over(wAll))
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val sv = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wS = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val g2 = srcTot.crossJoin(broadcast(valsCum))
      .join(sv, Seq("source", "v"), "left_outer")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("c1", sum(col("cnt")).over(wS))
      .withColumn("n_rest", lit(n) - col("n_s"))
      // cross-products are bounded by n_s·n_rest; past ~3·10⁹ docs the
      // exact kernel must move to DECIMAL(38,0) — fail loudly, not wrap
      .filter(coalesce(assert_true(
        expr(s"n_s <= (${Long.MaxValue}L div greatest(n_rest, 1L))"),
        lit("KS cross-product would overflow BIGINT: swap the ECDF " +
          "comparison to DECIMAL(38,0) at this corpus scale")), lit(true)))
      .withColumn("score",
        abs(col("c1") * col("n_rest") -
          (col("cum_all") - col("c1")) * col("n_s")))
    val g3 = g2.withColumn("mx",
      max(col("score")).over(Window.partitionBy(col("source"))))
    g3.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), max(col("n_rest")).as("n_rest"),
        max(col("score")).as("d_num"),
        min(when(col("score") === col("mx"), col("v"))).as("v_at_max"))
      .withColumn("ks_permille",
        expr("(1000 * d_num) div (n_s * n_rest)"))
      .select(col("source"), col("n_s"), col("n_rest"), col("d_num"),
        col("v_at_max"), col("ks_permille"))
      .orderBy(col("source"))
  }

  private lazy val ksOracle: String =
    s"""WITH docs AS (SELECT source, n_chars AS v FROM documents),
       |vals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cv
       |  FROM docs GROUP BY 1),
       |vc AS (SELECT v, cv, CAST(SUM(cv) OVER (ORDER BY v
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all FROM vals),
       |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM docs GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
       |sv AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM docs GROUP BY 1, 2),
       |g2 AS (SELECT st.source, st.n_s, vc.v, vc.cum_all,
       |    CAST(SUM(COALESCE(sv.cnt, 0)) OVER (PARTITION BY st.source
       |      ORDER BY vc.v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
       |    (SELECT n FROM tot) - st.n_s AS n_rest
       |  FROM st CROSS JOIN vc
       |  LEFT JOIN sv ON sv.source = st.source AND sv.v = vc.v),
       |g3 AS (SELECT source, n_s, n_rest, v,
       |    abs(c1 * n_rest - (cum_all - c1) * n_s) AS score FROM g2),
       |g4 AS (SELECT *, MAX(score) OVER (PARTITION BY source) AS mx
       |  FROM g3),
       |fin AS (SELECT source, MAX(n_s) AS n_s, MAX(n_rest) AS n_rest,
       |    CAST(MAX(score) AS BIGINT) AS d_num,
       |    MIN(CASE WHEN score = mx THEN v END) AS v_at_max
       |  FROM g4 GROUP BY 1)
       |SELECT source, n_s, n_rest, d_num, v_at_max,
       |  (1000 * d_num) // (n_s * n_rest) AS ks_permille
       |FROM fin ORDER BY source""".stripMargin

  // ------------------------------------------------------ q203 PSI
  private val BinW = 64L
  private val NBins = 16L

  def q203_psi_drift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("source"),
        least(lit(NBins - 1L), expr(s"n_chars div $BinW")).as("bin"))
    val n = docs.count()
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val binAll = docs.groupBy(col("bin")).agg(count(lit(1)).as("c_all"))
    val sb = docs.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val grid = srcTot
      .crossJoin(broadcast((0L until NBins).toDF("bin")))
      .join(broadcast(binAll), Seq("bin"), "left_outer")
      .join(sb, Seq("source", "bin"), "left_outer")
      .withColumn("c_all", coalesce(col("c_all"), lit(0L)))
      .withColumn("c1", coalesce(col("cnt"), lit(0L)))
      .withColumn("n_rest", lit(n) - col("n_s"))
      .withColumn("c2", col("c_all") - col("c1"))
    val terms = grid
      .withColumn("p1", expr(s"(1000 * (c1 + 1)) div (n_s + $NBins)"))
      .withColumn("p2", expr(s"(1000 * (c2 + 1)) div (n_rest + $NBins)"))
      // shared ln (r18 verdict item 4): every micro-nat here is the
      // engine-neutral formula on both sides of the gate
      .withColumn("l1",
        graft.functions.SharedLn.lnMicro(col("c1") + 1L) -
          graft.functions.SharedLn.lnMicro(col("n_s") + NBins))
      .withColumn("l2",
        graft.functions.SharedLn.lnMicro(col("c2") + 1L) -
          graft.functions.SharedLn.lnMicro(col("n_rest") + NBins))
      .withColumn("term",
        (col("p1") - col("p2")) * (col("l1") - col("l2")))
    val t2 = terms.withColumn("mx",
      max(col("term")).over(Window.partitionBy(col("source"))))
    t2.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), max(col("n_rest")).as("n_rest"),
        sum(col("term")).as("psi_nano"), max(col("term")).as("max_term"),
        min(when(col("term") === col("mx"), col("bin"))).as("bin_at_max"))
      .select(col("source"), col("n_s"), col("n_rest"), col("psi_nano"),
        col("max_term"), col("bin_at_max"))
      .orderBy(col("source"))
  }

  private lazy val psiOracle: String =
    s"""WITH docs AS (SELECT source,
       |    least(${NBins - 1}, n_chars // $BinW) AS bin FROM documents),
       |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM docs GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
       |ba AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_all
       |  FROM docs GROUP BY 1),
       |sb AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM docs GROUP BY 1, 2),
       |bins AS (SELECT CAST(unnest(range(0, $NBins)) AS BIGINT) AS bin),
       |grid AS (SELECT st.source, st.n_s, bins.bin,
       |    COALESCE(ba.c_all, 0) AS c_all, COALESCE(sb.cnt, 0) AS c1,
       |    (SELECT n FROM tot) - st.n_s AS n_rest
       |  FROM st CROSS JOIN bins
       |  LEFT JOIN ba ON ba.bin = bins.bin
       |  LEFT JOIN sb ON sb.source = st.source AND sb.bin = bins.bin),
       |gl AS (${graft.functions.SharedLn.oracleLn("grid",
          Seq("source", "n_s", "n_rest", "bin", "c_all", "c1"),
          Seq(("__lc1", "c1 + 1"), ("__lns", s"n_s + $NBins"),
            ("__lc2", "c_all - c1 + 1"),
            ("__lnr", s"n_rest + $NBins")))}),
       |terms AS (SELECT source, n_s, n_rest, bin,
       |    (1000 * (c1 + 1)) // (n_s + $NBins) AS p1,
       |    (1000 * (c_all - c1 + 1)) // (n_rest + $NBins) AS p2,
       |    ${graft.functions.SharedLn.microSql("__lc1")} -
       |      ${graft.functions.SharedLn.microSql("__lns")} AS l1,
       |    ${graft.functions.SharedLn.microSql("__lc2")} -
       |      ${graft.functions.SharedLn.microSql("__lnr")} AS l2
       |  FROM gl),
       |tm AS (SELECT source, n_s, n_rest, bin,
       |    (p1 - p2) * (l1 - l2) AS term FROM terms),
       |t2 AS (SELECT *, MAX(term) OVER (PARTITION BY source) AS mx
       |  FROM tm)
       |SELECT source, MAX(n_s) AS n_s, MAX(n_rest) AS n_rest,
       |  CAST(SUM(term) AS BIGINT) AS psi_nano,
       |  CAST(MAX(term) AS BIGINT) AS max_term,
       |  MIN(CASE WHEN term = mx THEN bin END) AS bin_at_max
       |FROM t2 GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------ q207 quantile-rank calibration
  /** Per-source quantile calibration (q207) — map every document's raw
    * quality signal onto its WITHIN-SOURCE and GLOBAL quantile ranks
    * (the score-calibration step that precedes any cross-source
    * threshold: a "keep the best 40%" rule applied to raw scores
    * silently over-prunes whole sources whose score distributions sit
    * low — CCNet applies its LM-perplexity cut per-shard for exactly
    * this reason, Wenzek et al. 2020 §4). Ranks are exact ECDF counts
    * from value-group prefix sums (P(X ≤ v), floor-permille) — never a
    * row_number, so ties calibrate identically — and `calib_gap` =
    * within-source minus global rank exposes how far per-source
    * thresholding diverges from global at each doc.
    *
    * Scale shape: two value-group tables (global and per-source — both
    * value-cardinality-bounded like q202's grid) with catalog-sized
    * windows, broadcast-joined back onto one corpus pass. No
    * corpus-scale window, no sort. */
  def q207_quantile_calibrate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").as("v"))
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val valsCum = docs.groupBy(col("v")).agg(count(lit(1)).as("cv"))
      .withColumn("cum_all", sum(col("cv")).over(wAll))
      .select(col("v"), col("cum_all"))
    val wS = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val svCum = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cs"))
      .withColumn("cum_s", sum(col("cs")).over(wS))
      .select(col("source"), col("v"), col("cum_s"))
    val n = docs.count()
    val srcTot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    docs
      .join(broadcast(valsCum), Seq("v"))
      .join(broadcast(svCum), Seq("source", "v"))
      .join(broadcast(srcTot), Seq("source"))
      .withColumn("pct_source", expr("(1000 * cum_s) div n_s"))
      .withColumn("pct_global", expr(s"(1000 * cum_all) div ${n}L"))
      .withColumn("calib_gap", col("pct_source") - col("pct_global"))
      .select(col("doc_id"), col("source"), col("v"), col("pct_source"),
        col("pct_global"), col("calib_gap"))
      .orderBy(col("doc_id"))
  }

  private lazy val calibrateOracle: String =
    s"""WITH docs AS (SELECT doc_id, source, n_chars AS v FROM documents),
       |vc AS (SELECT v, CAST(SUM(COUNT(*)) OVER (ORDER BY v
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
       |  FROM docs GROUP BY v),
       |sv AS (SELECT source, v, CAST(SUM(COUNT(*)) OVER (
       |    PARTITION BY source ORDER BY v
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
       |  FROM docs GROUP BY source, v),
       |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM docs GROUP BY source),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs)
       |SELECT d.doc_id, d.source, d.v,
       |  (1000 * sv.cum_s) // st.n_s AS pct_source,
       |  (1000 * vc.cum_all) // (SELECT n FROM tot) AS pct_global,
       |  (1000 * sv.cum_s) // st.n_s -
       |    (1000 * vc.cum_all) // (SELECT n FROM tot) AS calib_gap
       |FROM docs d
       |JOIN vc ON vc.v = d.v
       |JOIN sv ON sv.source = d.source AND sv.v = d.v
       |JOIN st ON st.source = d.source
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------- q260 Jensen-Shannon drift
  /** q260: per-source Jensen-Shannon divergence (Lin, IEEE Trans. IT
    * 1991), source vs rest-of-corpus, over the unigram token
    * distribution — the symmetric, bounded (≤ ln 2) divergence that
    * completes the drift family: q202's KS reads one scalar signal,
    * q203's PSI reads 16 binned proportions, JSD reads the FULL
    * vocabulary distribution (the mixture-design "how different is
    * this source, distributionally" number a domain-weighting pass
    * consumes; cf. DoReMi-style domain reweighting).
    *
    * Exactness: with a_i the source's count of term i (total A) and
    * r_i the rest count (total R), the mixture ratio is a ratio of
    * INTEGERS — p_i/m_i = 2·a_i·R / (a_i·R + r_i·A) — so per the house
    * micro-nat rule each KL term is a_i·(L(2·a_i·R) − L(den_i)),
    * L = round(10⁶·ln(integer)), quantized per-ln BEFORE summation.
    * Terms absent from the source (a_i = 0 — the exact-limit class of
    * q245) still carry rest mass r_i·(L(2·r_i·A) − L(r_i·A)); they
    * enter through the sources×vocab grid, so S_q covers all of R.
    *   jsd_micro = (R·S_p + A·S_q) div (2·A·R)
    * computed in DECIMAL(38,0)/HUGEINT (R·S_p alone passes 2⁶³ once a
    * source holds ~10⁶ tokens); the ln-argument products get the loud
    * BIGINT assert naming the DECIMAL swap.
    *
    * Scale shape: one (source, term) aggregate off the fanned corpus
    * pass; the grid is |sources|×|vocab| — Heaps-bounded catalog
    * class; marginals broadcast (vocab-sized, the q211 shape). */
  def q260_jsd_drift(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documentsFanned(s, dir)
      .select(col("source"),
        explode(Cleanse.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("a"))
    val gt = st.groupBy(col("term")).agg(sum(col("a")).as("g"))
    val totals = st.groupBy(col("source")).agg(sum(col("a")).as("a_tot"))
    val grand = gt.agg(sum(col("g")).as("g_tot"))
    // L(n) = round(1e6·ln(n)) through the ENGINE-NEUTRAL shared ln
    // (functions.SharedLn): bit-identical to the oracle's generated
    // formula by construction, retiring the libm knife-edge on this
    // |sources|×|vocab| grid — the highest-cardinality micro-nat
    // surface in the registry (r17 verdict item 3)
    def lnMicro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.functions.SharedLn.lnMicro(c)
    val grid = totals.crossJoin(broadcast(gt))
      .join(st, Seq("source", "term"), "left_outer")
      .withColumn("a", coalesce(col("a"), lit(0L)))
      .crossJoin(broadcast(grand))
      .withColumn("r", col("g") - col("a"))
      .withColumn("r_tot", col("g_tot") - col("a_tot"))
      // ln arguments are 2·count·total products; past ~2⁶² they must
      // move to DECIMAL(38,0) — fail loudly, not wrap
      .filter(coalesce(assert_true(
        expr(s"2 * greatest(a, r) <= (${Long.MaxValue}L div " +
          "greatest(a_tot, greatest(r_tot, 1L)))"),
        lit("JSD mixture products would overflow BIGINT: swap the " +
          "ln arguments to DECIMAL(38,0) at this corpus scale")),
        lit(true)))
      .withColumn("den",
        col("a") * col("r_tot") + col("r") * col("a_tot"))
      .withColumn("sp_term", when(col("a") > 0,
        col("a") * (lnMicro(lit(2L) * col("a") * col("r_tot")) -
          lnMicro(col("den")))).otherwise(0L))
      .withColumn("sq_term", when(col("r") > 0,
        col("r") * (lnMicro(lit(2L) * col("r") * col("a_tot")) -
          lnMicro(col("den")))).otherwise(0L))
    grid.groupBy(col("source"))
      .agg(max(col("a_tot")).as("n_tok"), max(col("r_tot")).as("n_rest"),
        sum(when(col("a") > 0, 1L).otherwise(0L)).as("n_terms"),
        sum(when(col("a") > 0 && col("r") > 0, 1L).otherwise(0L))
          .as("shared_terms"),
        sum(col("sp_term")).as("sp"), sum(col("sq_term")).as("sq"))
      .select(col("source"), col("n_tok"), col("n_rest"),
        col("n_terms"), col("shared_terms"),
        expr("CAST((CAST(n_rest AS DECIMAL(38,0)) * sp + " +
          "CAST(n_tok AS DECIMAL(38,0)) * sq) div " +
          "(CAST(2 AS DECIMAL(38,0)) * n_tok * n_rest) AS BIGINT)")
          .as("jsd_micro"))
      .orderBy(col("source"))
  }

  private lazy val jsdOracle: String = {
    val dToks = CorpusFilters.DToks
    // the micro-nat roundings consume graft.functions.SharedLn's
    // generated engine-neutral ln columns (lnt layer below) — the same
    // IEEE op sequence the Spark side runs, bit-exact by construction
    def lnM(x: String): String = graft.functions.SharedLn.microSql(x)
    val lntLayer = graft.functions.SharedLn.oracleLn("terms",
      Seq("source", "a_tot", "r_tot", "a", "r"),
      Seq(("ln_p", "2 * a * r_tot"), ("ln_d", "den"),
        ("ln_q", "2 * r * a_tot")))
    s"""WITH st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS a
       |  FROM (SELECT source, unnest($dToks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |gt AS (SELECT term, CAST(SUM(a) AS BIGINT) AS g FROM st
       |  GROUP BY 1),
       |tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS a_tot FROM st
       |  GROUP BY 1),
       |grand AS (SELECT CAST(SUM(g) AS BIGINT) AS g_tot FROM gt),
       |grid AS (SELECT t.source, t.a_tot, gt.term, gt.g,
       |    COALESCE(st.a, 0) AS a
       |  FROM tot t CROSS JOIN gt
       |  LEFT JOIN st ON st.source = t.source AND st.term = gt.term),
       |terms AS (SELECT source, a_tot, g_tot - a_tot AS r_tot, a,
       |    g - a AS r,
       |    a * (g_tot - a_tot) + (g - a) * a_tot AS den
       |  FROM grid CROSS JOIN grand),
       |lnt AS ($lntLayer),
       |scored AS (SELECT source, a_tot, r_tot, a, r,
       |    CASE WHEN a > 0 THEN
       |      a * (${lnM("ln_p")} - ${lnM("ln_d")})
       |      ELSE 0 END AS sp_term,
       |    CASE WHEN r > 0 THEN
       |      r * (${lnM("ln_q")} - ${lnM("ln_d")})
       |      ELSE 0 END AS sq_term
       |  FROM lnt)
       |SELECT source, CAST(MAX(a_tot) AS BIGINT) AS n_tok,
       |  CAST(MAX(r_tot) AS BIGINT) AS n_rest,
       |  CAST(SUM(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_terms,
       |  CAST(SUM(CASE WHEN a > 0 AND r > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS shared_terms,
       |  CAST((CAST(MAX(r_tot) AS HUGEINT) * SUM(sp_term) +
       |    CAST(MAX(a_tot) AS HUGEINT) * SUM(sq_term)) //
       |    (CAST(2 AS HUGEINT) * MAX(a_tot) * MAX(r_tot)) AS BIGINT)
       |    AS jsd_micro
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_ks_drift" -> (q202_ks_drift _),
    "q203_psi_drift" -> (q203_psi_drift _),
    "q260_jsd_drift" -> (q260_jsd_drift _),
    "q207_quantile_calibrate" -> (q207_quantile_calibrate _))

  override val oracle: Map[String, String] = Map(
    "q202_ks_drift" -> ksOracle,
    "q203_psi_drift" -> psiOracle,
    "q260_jsd_drift" -> jsdOracle,
    "q207_quantile_calibrate" -> calibrateOracle)
}
