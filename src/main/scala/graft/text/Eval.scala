package graft.text

import graft.Tables
import graft.functions.SharedLn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Model-evaluation surface for the curation classifiers (q173-q177) —
  * the metrics a training-data pipeline runs after every filter retrain:
  * confusion matrix + agreement (Cohen 1960 kappa, Matthews 1975 MCC),
  * threshold-free ranking quality (tie-aware exact AUC via the
  * Mann-Whitney rank identity), chi-square feature selection over the
  * vocabulary (Yang & Pedersen 1997), a per-language quality slice, and
  * reliability-diagram calibration bins (Niculescu-Mizil & Caruana 2005).
  *
  * Classifier under evaluation: q87's seeded linear quality scorer
  * (`CorpusFilters.q87_quality_classifier` — keep = logit ≥ 0), judged
  * against the deterministic filler-ratio label that q87b trains on
  * (`CorpusFilters.qualityLabels`). Both sides are exactly replayable in
  * static SQL, so every metric here is fully oracle-gated — unlike the
  * q87b trained-model row, nothing needs an accuracy-floor contract.
  *
  * Cross-engine arithmetic discipline: every COUNT is an exact BIGINT;
  * every permille is a floor division of non-negative BIGINTs (Spark
  * `div` truncation == DuckDB `//` floor on non-negatives); every real-
  * valued metric (kappa, MCC, chi2) is a fixed-size expression over
  * count-valued doubles using ONLY IEEE-754 exactly-rounded ops
  * (+ − × ÷ sqrt — no transcendentals, the q87 lesson), with the
  * expression TEXT shared verbatim between `selectExpr` and the DuckDB
  * twin so both engines evaluate the identical tree (the q71/BM25
  * mirrored-tree pattern). Counts are double-exact to 2^53 docs, so the
  * kernels hold far past 100 TB; per-class sums never multiply as
  * BIGINTs (the n² kappa/MCC products are formed AFTER the cast to
  * double), so there is no Long-overflow cliff to guard.
  */
object Eval extends graft.QueryModule {

  // ------------------------------------------------ shared pred ⋈ label
  /** (doc_id, logit_r, keep, label): q87's prediction joined to the
    * filler-ratio ground truth. One shuffle on doc_id; both inputs are
    * single-pass token rollups of the same scan. */
  private def predLab(s: SparkSession, dir: String): DataFrame =
    CorpusFilters.q87_quality_classifier(s, dir)
      .select(col("doc_id"), col("logit_r"), col("keep"))
      .join(CorpusFilters.qualityLabels(s, dir)
        .select(col("doc_id"), col("label")), "doc_id")

  /** SQL twin of [[predLab]] as a WITH-clause body (`pl`): q87's oracle
    * chain nested as a subquery + the q87b label CTE, joined on doc_id. */
  private lazy val PredLabCtes: String = {
    val fillers = CorpusFilters.FillerTokens.map(f => s"'$f'").mkString(", ")
    s"""pred AS (SELECT doc_id, logit_r, keep
       |  FROM (${CorpusFilters.qualityClassifierOracle})),
       |ctoks AS (SELECT doc_id, ${CorpusFilters.DToks} AS t FROM documents),
       |lab AS (SELECT doc_id,
       |    (100 * CAST(len(list_filter(t, w -> w IN ($fillers))) AS BIGINT)
       |      >= 13 * CAST(len(t) AS BIGINT)) AS label
       |  FROM ctoks WHERE len(t) >= 1),
       |pl AS (SELECT p.doc_id, p.logit_r, p.keep, l.label
       |  FROM pred p JOIN lab l USING (doc_id))""".stripMargin
  }

  // ------------------------------------------- q173 confusion + agreement
  /** Expression texts shared verbatim by Spark `selectExpr` and the
    * DuckDB twin — the mirrored-tree contract. po/pe are Cohen's observed
    * and chance agreement; each parenthesized factor is a ≤n count cast
    * to double BEFORE any product. */
  private val PoExpr =
    "CAST(tp+tn AS DOUBLE) / CAST(tp+fp+fn+tn AS DOUBLE)"
  private val PeExpr =
    "(CAST(tp+fp AS DOUBLE)*CAST(tp+fn AS DOUBLE) + " +
      "CAST(fn+tn AS DOUBLE)*CAST(fp+tn AS DOUBLE)) / " +
      "(CAST(tp+fp+fn+tn AS DOUBLE)*CAST(tp+fp+fn+tn AS DOUBLE))"
  private val MccExpr =
    "CASE WHEN tp+fp = 0 OR tp+fn = 0 OR tn+fp = 0 OR tn+fn = 0 THEN NULL " +
      "ELSE (CAST(tp AS DOUBLE)*CAST(tn AS DOUBLE) - " +
      "CAST(fp AS DOUBLE)*CAST(fn AS DOUBLE)) / " +
      "sqrt((CAST(tp+fp AS DOUBLE)*CAST(tp+fn AS DOUBLE))*" +
      "(CAST(tn+fp AS DOUBLE)*CAST(tn+fn AS DOUBLE))) END"
  private val MetricExprs = Seq(
    "(1000 * (tp+tn)) div (tp+fp+fn+tn) AS acc_permille",
    "CASE WHEN tp+fp = 0 THEN NULL ELSE (1000 * tp) div (tp+fp) END" +
      " AS prec_permille",
    "CASE WHEN tp+fn = 0 THEN NULL ELSE (1000 * tp) div (tp+fn) END" +
      " AS rec_permille",
    "CASE WHEN 2*tp+fp+fn = 0 THEN NULL ELSE (1000 * 2 * tp) div (2*tp+fp+fn) END" +
      " AS f1_permille",
    s"round(CASE WHEN $PeExpr >= 1.0 THEN NULL " +
      s"ELSE (($PoExpr) - ($PeExpr)) / (1.0 - ($PeExpr)) END, 6) AS kappa_r",
    s"round($MccExpr, 6) AS mcc_r")

  /** Confusion matrix of the rule classifier vs the filler label, plus
    * accuracy/precision/recall/F1 (permille BIGINTs, floor division) and
    * Cohen's kappa + Matthews correlation (round-6 doubles, IEEE-exact
    * mirrored trees). ONE corpus pass → one 4-cell rollup → scalar math
    * on a 1-row frame; at 100 TB this is the cost of a word count. */
  def q173_classifier_eval(s: SparkSession, dir: String): DataFrame =
    predLab(s, dir).agg(
        sum(when(col("keep") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .selectExpr(Seq("tp", "fp", "fn", "tn") ++ MetricExprs: _*)

  private lazy val q173Oracle: String =
    s"""WITH $PredLabCtes,
       |cm AS (SELECT
       |    CAST(SUM(CASE WHEN keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN NOT keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN NOT keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM pl)
       |SELECT tp, fp, fn, tn,
       |  ${MetricExprs.map(_.replace(" div ", " // ")).mkString(",\n  ")}
       |FROM cm""".stripMargin

  // ------------------------------------------------- q174 exact AUC
  /** Tie-aware exact AUC of the q87 logit against the label, via the
    * Mann-Whitney identity in 2× integer units (so tied-group half-credit
    * stays integral): over score groups g ascending,
    * auc_num2 = Σ pos_g·(2·neg_below_g + neg_g), auc_den2 = 2·P·N,
    * AUC = num2/den2. Scores are the round-6 logits, so tie groups are
    * cross-engine identical.
    *
    * Scale shape: corpus → (score, cnt, pos) group rollup (map-side
    * combine), then the running negative count comes from the
    * [[Budget.bucketedPrefixSum]] two-phase machinery — no global
    * single-partition window; the grouped frame is bounded by distinct
    * round-6 logits, and the bucket table by its /0.01 coarsening. The
    * BIGINT num2/den2 are exact to ~2·10⁹ docs per class; past that the
    * sum column upgrades to DECIMAL(38,0) (documented in SCALING.md) —
    * auc_permille itself never loses meaning since it is a ratio. */
  def q174_auc_exact(s: SparkSession, dir: String): DataFrame = {
    val g = predLab(s, dir).groupBy(col("logit_r"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))
    val pre = Budget.bucketedPrefixSum(g,
      floor(col("logit_r") * lit(100.0)).cast(LongType),
      Seq(col("logit_r")), col("neg"))
    pre.select(col("pos"), col("neg"), (col("cum") - col("neg")).as("nb"))
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("nb") + col("neg"))).as("auc_num2"))
      .selectExpr("n_pos", "n_neg", "auc_num2",
        "2 * n_pos * n_neg AS auc_den2",
        "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL " +
          "ELSE (1000 * auc_num2) div (2 * n_pos * n_neg) END AS auc_permille")
  }

  private lazy val q174Oracle: String =
    s"""WITH $PredLabCtes,
       |g AS (SELECT logit_r, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM pl GROUP BY logit_r),
       |n AS (SELECT logit_r, pos, cnt - pos AS neg FROM g),
       |p AS (SELECT pos, neg,
       |    CAST(coalesce(SUM(neg) OVER (ORDER BY logit_r
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb
       |  FROM n),
       |a AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(neg) AS BIGINT) AS n_neg,
       |    CAST(SUM(pos * (2 * nb + neg)) AS BIGINT) AS auc_num2
       |  FROM p)
       |SELECT n_pos, n_neg, auc_num2, 2 * n_pos * n_neg AS auc_den2,
       |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |    ELSE (1000 * auc_num2) // (2 * n_pos * n_neg) END AS auc_permille
       |FROM a""".stripMargin

  // ------------------------------------------- q175 chi-square terms
  /** Top-20 label-discriminative vocabulary terms by the chi-square
    * statistic over document frequency (Yang & Pedersen 1997's χ² feature
    * selection — the standard "which tokens predict quality" audit after
    * a filter retrain). Per term with a = df⁺, b = df⁻ and class totals
    * P, N: χ² = n·(aN − bP)² / ((a+b)·(n−a−b)·P·N) — the ad−bc determinant
    * reduced to aN − bP, which keeps every BIGINT factor ≤ n·df before the
    * cast to double; the quotient is a mirrored IEEE tree. min-df 5 and
    * the not-in-every-doc filter drop the degenerate denominators.
    *
    * Scale: distinct (doc, term) → vocabulary-sized term rollup (Heaps-
    * bounded), class totals a broadcast 1-row frame, top-20 a bounded-heap
    * TakeOrderedAndProject — no global sort, no n² anywhere. */
  def q175_chi2_terms(s: SparkSession, dir: String): DataFrame = {
    val lab = CorpusFilters.qualityLabels(s, dir)
      .select(col("doc_id"), col("label"))
    val tot = lab.agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("p_tot"),
      sum(when(!col("label"), 1L).otherwise(0L)).as("n_tot"))
    val ab = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("term"))
      .distinct()
      .join(lab, "doc_id")
      .groupBy(col("term"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("b"))
    ab.crossJoin(broadcast(tot))
      .selectExpr("term", "a", "b", "p_tot", "n_tot",
        "a*n_tot - b*p_tot AS delta")
      .where("a + b >= 5 AND a + b < p_tot + n_tot")
      .selectExpr("term", "a", "b",
        "CAST(p_tot+n_tot AS DOUBLE)*CAST(delta AS DOUBLE)*CAST(delta AS DOUBLE)" +
          " / (CAST(a+b AS DOUBLE)*CAST(p_tot+n_tot-a-b AS DOUBLE)*" +
          "CAST(p_tot AS DOUBLE)*CAST(n_tot AS DOUBLE)) AS chi2")
      .orderBy(col("chi2").desc, col("term"))
      .limit(20)
      .selectExpr("term", "a", "b", "round(chi2, 6) AS chi2_r")
  }

  private lazy val q175Oracle: String = {
    val fillers = CorpusFilters.FillerTokens.map(f => s"'$f'").mkString(", ")
    s"""WITH ctoks AS (SELECT doc_id, ${CorpusFilters.DToks} AS t FROM documents),
       |lab AS (SELECT doc_id,
       |    (100 * CAST(len(list_filter(t, w -> w IN ($fillers))) AS BIGINT)
       |      >= 13 * CAST(len(t) AS BIGINT)) AS label
       |  FROM ctoks WHERE len(t) >= 1),
       |tot AS (SELECT
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p_tot,
       |    CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS n_tot
       |  FROM lab),
       |dt AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM ctoks),
       |ab AS (SELECT term,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS b
       |  FROM dt JOIN lab USING (doc_id) GROUP BY term),
       |d AS (SELECT term, a, b, p_tot, n_tot, a*n_tot - b*p_tot AS delta
       |  FROM ab CROSS JOIN tot
       |  WHERE a + b >= 5 AND a + b < p_tot + n_tot),
       |c AS (SELECT term, a, b,
       |    CAST(p_tot+n_tot AS DOUBLE)*CAST(delta AS DOUBLE)*CAST(delta AS DOUBLE)
       |      / (CAST(a+b AS DOUBLE)*CAST(p_tot+n_tot-a-b AS DOUBLE)*
       |      CAST(p_tot AS DOUBLE)*CAST(n_tot AS DOUBLE)) AS chi2
       |  FROM d)
       |SELECT term, a, b, round(chi2, 6) AS chi2_r
       |FROM c ORDER BY chi2 DESC, term LIMIT 20""".stripMargin
  }

  // ------------------------------------------- q176 per-language slice
  /** The per-language quality report every multilingual curation run
    * ships: docs, classifier keep-rate, label positive-rate, and
    * classifier↔label agreement, per `lang`. Catalog-sized output (one
    * row per language); permilles are floor divisions of exact counts. */
  def q176_lang_quality(s: SparkSession, dir: String): DataFrame =
    predLab(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("keep") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .selectExpr("lang", "n_docs", "n_keep", "n_pos",
        "(1000 * n_agree) div n_docs AS acc_permille")
      .orderBy(col("lang"))

  private lazy val q176Oracle: String =
    s"""WITH $PredLabCtes,
       |j AS (SELECT d.lang, pl.keep, pl.label
       |  FROM pl JOIN documents d USING (doc_id))
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  (1000 * CAST(SUM(CASE WHEN keep = label THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(COUNT(*) AS BIGINT) AS acc_permille
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------- q177 calibration bins
  /** Reliability-diagram surface: fixed-width logit bins (0.02) with doc
    * count, positive count, and the bin's logit mass in exact micro units
    * (Σ round(10⁶·logit_r) — an integer sum, summation-order-proof, from
    * which any consumer derives the bin-mean score without a float
    * reduction). floor(logit_r/0.02) is one IEEE division + floor, so bin
    * edges are bit-identical cross-engine. One group rollup; output is
    * bounded by the logit range / 0.02 — catalog-sized at any corpus. */
  def q177_calibration_bins(s: SparkSession, dir: String): DataFrame =
    predLab(s, dir)
      .selectExpr("CAST(floor(logit_r / 0.02) AS BIGINT) AS bin",
        "label", "CAST(round(logit_r * 1000000.0) AS BIGINT) AS logit_u")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("logit_u")).as("sum_logit_u"))
      .orderBy(col("bin"))

  private lazy val q177Oracle: String =
    s"""WITH $PredLabCtes
       |SELECT CAST(floor(logit_r / 0.02) AS BIGINT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CAST(round(logit_r * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS sum_logit_u
       |FROM pl GROUP BY bin ORDER BY bin""".stripMargin

  // ------------------------------------------- q183 quality-signal fusion
  /** (sig, doc_id, rk): global rank per signal by (score desc, doc_id
    * asc), distributed — strictly-better counts ride the
    * [[Budget.bucketedPrefixSum]] two-phase machinery over DISTINCT
    * scores; within-tie order is a window PARTITIONED by the score
    * value. Never a single-partition global window; `bk` must be a
    * monotone nonincreasing coarsening of the score within each sig
    * (span is the parallelism knob). Bit-identical to the plain
    * ROW_NUMBER the DuckDB twin runs.
    *
    * All three signals ranked in ONE chain (r21, VERDICT r20 item 6):
    * the former per-signal descRank ran the count + prefix-sum + tie
    * window machinery three times and joined the results twice — ~42
    * sub-second stages at sf0.1 whose cost was job latency, not data.
    * The fused form stacks the signals into one long frame tagged `sig`
    * and runs the machinery ONCE, partitioned by `sig`
    * ([[Budget.bucketedPrefixSum]]'s r21 `part` keys); the final pivot
    * (max-of-tagged per doc_id + non-null filter) replicates the former
    * three-way inner join exactly.
    *
    * Bit-identity per signal: scores ride a (sl BIGINT, sd DOUBLE) pair —
    * integer signals carry sd = 0.0, the double signal carries sl = 0 —
    * so ordering and tie GROUPS inside each sig are the same (s desc,
    * then doc_id) the per-signal chains produced; no cross-type cast
    * anywhere. `better` counts and row_number tie-breaks are therefore
    * unchanged, and the DuckDB twin (three plain ROW_NUMBERs) still
    * matches. */
  private def rankSignals(g: DataFrame): DataFrame = {
    val cnt = g.groupBy(col("sig"), col("sl"), col("sd"), col("bk"))
      .agg(count(lit(1)).as("c"))
    val pre = Budget.bucketedPrefixSum(cnt, col("bk"),
      Seq(col("sl").desc, col("sd").desc), col("c"), Seq("sig"))
      .select(col("sig"), col("sl"), col("sd"),
        (col("cum") - col("c")).as("better"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig"), col("sl"), col("sd")).orderBy(col("doc_id"))
    g.join(pre, Seq("sig", "sl", "sd"))
      .withColumn("rk",
        col("better") + row_number().over(wTie).cast("long"))
      .select(col("sig"), col("doc_id"), col("rk"))
  }

  /** Reciprocal-rank fusion of three independent quality signals
    * (Cormack, Clarke & Buettcher 2009's RRF, applied to curation the
    * way retrieval stacks fuse rankers): classifier logit, character
    * entropy (q139's micro-nat kernel), and distinct-token ratio. Each
    * reciprocal 1/(60+rank) is integerized by FLOOR division to permicro
    * units BEFORE summation, so the fused score is an exact BIGINT —
    * rank fusion without a float accumulator. Top-25 fused docs emit
    * with all three ranks (the audit surface: which signal drove the
    * pick). */
  /** (doc_id, logit_u): q87's logit in exact micro units. */
  private def logitU(s: SparkSession, dir: String): DataFrame =
    CorpusFilters.q87_quality_classifier(s, dir)
      .selectExpr("doc_id",
        "CAST(round(logit_r * 1000000.0) AS BIGINT) AS logit_u")

  /** The three quality-signal rank columns per doc (pre-fusion) —
    * q183's fusion input, shared with q283's consistency audit. */
  private def fusionRanks(s: SparkSession, dir: String): DataFrame = {
    val pred = logitU(s, dir)
    // ONE corpus pass computes both text signals (r21): entropy and
    // distinct-token ratio each re-scanned documentsFanned before. The
    // shared frame is pinned eagerly (r21 measured a lazy pin ~0.3 s
    // faster; q183/q283 at sf0.1 now time the same either way). A lazy pin
    // is filled by the first of the branches' concurrent shuffle jobs,
    // which clears its lineage and lets the plan's SQL metrics be
    // collected while the other branches' tasks still report to them
    // (~130 "non-existent accumulator" errors per call in graft.Verify).
    // dtr is null for tokenless docs — exactly the rows the old
    // `size(t) >= 1` filter dropped.
    // The pin stays referenced by the returned plan; the bench/Verify
    // between-query sweep releases it (house convention).
    val feats = Tables.documentsFanned(s, dir)
      .select(col("doc_id"),
        Entropy.char_entropy_unat(col("text")).as("ent_u"),
        Cleanse.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("ent_u"),
        when(size(col("t")) >= 1,
          expr("CAST(size(array_distinct(t)) AS DOUBLE) " +
            "/ CAST(size(t) AS DOUBLE)")).as("dtr"))
      .localCheckpoint()
    // long frame: same score values, same per-signal buckets as the
    // retired per-signal descRank calls
    val g = pred.select(lit(1).as("sig"), col("doc_id"),
        col("logit_u").as("sl"), lit(0.0).as("sd"),
        expr("floor(-logit_u / 100000)").as("bk"))
      .unionByName(feats.join(pred.select("doc_id"), "doc_id")
        .select(lit(2).as("sig"), col("doc_id"), col("ent_u").as("sl"),
          lit(0.0).as("sd"), expr("floor(-ent_u / 500000)").as("bk")))
      .unionByName(feats.filter(col("dtr").isNotNull)
        .select(lit(3).as("sig"), col("doc_id"), lit(0L).as("sl"),
          col("dtr").as("sd"),
          floor(-col("dtr") * lit(8.0)).cast(LongType).as("bk")))
    // pivot back: max-of-tagged per doc + all-signals-present filter ==
    // the former r1 ⋈ r2 ⋈ r3 inner join
    rankSignals(g).groupBy(col("doc_id"))
      .agg(max(when(col("sig") === 1, col("rk"))).as("r_logit"),
        max(when(col("sig") === 2, col("rk"))).as("r_ent"),
        max(when(col("sig") === 3, col("rk"))).as("r_dtr"))
      .filter(col("r_logit").isNotNull && col("r_ent").isNotNull &&
        col("r_dtr").isNotNull)
  }

  def q183_quality_fusion(s: SparkSession, dir: String): DataFrame =
    fusionRanks(s, dir)
      .selectExpr("doc_id", "r_logit", "r_ent", "r_dtr",
        "1000000 div (60 + r_logit) + 1000000 div (60 + r_ent) + " +
          "1000000 div (60 + r_dtr) AS rrf_u")
      .orderBy(col("rrf_u").desc, col("doc_id"))
      .limit(25)
      .orderBy(col("doc_id"))

  /** q183's rank chain up to the joined pre-fusion frame `fr` — shared
    * by the fusion dump and q283's Cronbach audit. */
  private lazy val fusionRanksCtes: String =
    s"""pred AS (SELECT doc_id,
       |    CAST(round(logit_r * 1000000.0) AS BIGINT) AS logit_u
       |  FROM (${CorpusFilters.qualityClassifierOracle})),
       |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
       |  FROM documents),
       |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ch GROUP BY 1, 2),
       |ccl AS (${SharedLn.oracleLn("cc", Seq("doc_id", "cnt"),
          Seq(("__lnc", "cnt")))}),
       |eagg AS (SELECT doc_id, SUM(cnt) AS n,
       |    SUM(cnt * ${SharedLn.microSql("__lnc")}) AS sm
       |  FROM ccl GROUP BY 1),
       |eaggl AS (${SharedLn.oracleLn("eagg", Seq("doc_id", "n", "sm"),
          Seq(("__lnn", "n")))}),
       |ent AS (SELECT p.doc_id,
       |    CAST(CASE WHEN a.n IS NULL OR a.n = 0 THEN 0
       |      ELSE ${SharedLn.microSql("__lnn")} - sm // a.n
       |    END AS BIGINT) AS ent_u
       |  FROM pred p LEFT JOIN eaggl a ON p.doc_id = a.doc_id),
       |dt AS (SELECT doc_id, ${CorpusFilters.DToks} AS t FROM documents),
       |dtr AS (SELECT doc_id,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |      AS dtr
       |  FROM dt WHERE len(t) >= 1),
       |r1 AS (SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY logit_u DESC, doc_id) AS r_logit FROM pred),
       |r2 AS (SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY ent_u DESC, doc_id) AS r_ent FROM ent),
       |r3 AS (SELECT doc_id, ROW_NUMBER() OVER (
       |    ORDER BY dtr DESC, doc_id) AS r_dtr FROM dtr),
       |fr AS (SELECT doc_id, CAST(r_logit AS BIGINT) AS r_logit,
       |    CAST(r_ent AS BIGINT) AS r_ent, CAST(r_dtr AS BIGINT) AS r_dtr
       |  FROM r1 JOIN r2 USING (doc_id) JOIN r3 USING (doc_id))"""
      .stripMargin

  private lazy val q183Oracle: String =
    s"""WITH $fusionRanksCtes,
       |f AS (SELECT doc_id, r_logit, r_ent, r_dtr,
       |    1000000 // (60 + r_logit) + 1000000 // (60 + r_ent) +
       |      1000000 // (60 + r_dtr) AS rrf_u FROM fr),
       |top AS (SELECT * FROM f ORDER BY rrf_u DESC, doc_id LIMIT 25)
       |SELECT doc_id, r_logit, r_ent, r_dtr,
       |  CAST(rrf_u AS BIGINT) AS rrf_u
       |FROM top ORDER BY doc_id""".stripMargin

  // --------------------------------------- q284 decision stump
  /** q284: a one-split decision stump trained on the hash-split train
    * fold and scored on the holdout (Iba & Langley, ML 1992 — the
    * 1R/stump baseline every classifier comparison starts from;
    * learn→apply loop #19, the q217 split discipline): features are
    * three exact per-doc permille rates — rate('the'), rate('data'),
    * distinct-token ratio — and the stump picks (feature, threshold,
    * direction) maximizing exact TRAIN accuracy. The q87b label was
    * MEASURED learnable from the single-token rates (best stump 682‰
    * vs 524‰ majority at sf0.01; the structural features n_chars and
    * n_tok measured at chance and were dropped) — the house
    * label-learnability rule.
    *
    * Exactness: thresholds are the distinct feature values; correct
    * counts come from value-group prefix sums partitioned per feature
    * (signals are bounded-support permilles — value-group algebra,
    * never a corpus window); the winner is a total order (accuracy
    * desc, feature asc, direction asc, threshold asc — LIMIT 1 in
    * both engines); holdout accuracy is one broadcast-model map pass.
    *
    * Scale shape: one corpus pass to (doc, features, label, fold);
    * model selection on the features×values frame (bounded); apply is
    * map-side. */
  def q284_decision_stump(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      // size() is INT: lift to BIGINT before the ×1000/×100 products
      // (ADVICE r16) or docs past ~2.1M tokens abort under ANSI while
      // the DuckDB oracle's BIGINT len() sails on — a width mismatch
      .selectExpr("doc_id",
        "(1000 * CAST(size(filter(t, w -> w = 'the')) AS BIGINT)) " +
          "div size(t) AS the_pm",
        "(1000 * CAST(size(filter(t, w -> w = 'data')) AS BIGINT)) " +
          "div size(t) AS data_pm",
        "(1000 * CAST(size(array_distinct(t)) AS BIGINT)) " +
          "div size(t) AS dtr_pm",
        "100 * CAST(size(filter(t, w -> w IN ('the', 'a', 'value', " +
          "'data'))) AS BIGINT) >= 13 * CAST(size(t) AS BIGINT) " +
          "AS label")
      .withColumn("is_train",
        pmod(graft.rel.JoinCard.splitmix64(col("doc_id")), lit(5L))
          =!= 0L)
    val unpiv = base.selectExpr("doc_id", "label", "is_train",
      "stack(3, 'the_pm', the_pm, 'data_pm', data_pm, " +
        "'dtr_pm', dtr_pm) AS (fname, v)")
    val trainTot = base.filter(col("is_train"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pos_train"))
    val grp = unpiv.filter(col("is_train"))
      .groupBy(col("fname"), col("v"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("p"),
        count(lit(1)).as("c"))
      .withColumn("cum_p", sum(col("p")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fname")).orderBy(col("v")).rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            0)))
      .withColumn("cum_c", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fname")).orderBy(col("v")).rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            0)))
    val cand = grp.crossJoin(broadcast(trainTot))
      .selectExpr("fname", "v AS thr",
        "cum_p + (n_train - cum_c) - (pos_train - cum_p) AS corr_le",
        "n_train")
      .selectExpr("fname", "thr", "n_train",
        "stack(2, 'le', corr_le, 'gt', n_train - corr_le)" +
          " AS (dir, correct)")
    val model = cand
      .orderBy(col("correct").desc, col("fname"), col("dir"), col("thr"))
      .limit(1)
      .select(col("fname"), col("thr"), col("dir"), col("correct"),
        col("n_train"))
    val applied = unpiv.filter(!col("is_train"))
      .join(broadcast(model), Seq("fname"))
      .withColumn("pred",
        when(col("dir") === "le", col("v") <= col("thr"))
          .otherwise(col("v") > col("thr")))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("test_correct"),
        sum(when(col("label"), 1L).otherwise(0L)).as("pos_test"))
    model.crossJoin(broadcast(applied))
      .select(col("fname").as("feature"), col("thr").as("threshold"),
        col("dir").as("direction"),
        col("n_train"), col("n_test"),
        expr("(1000 * correct) div n_train").as("train_acc_permille"),
        expr("(1000 * test_correct) div n_test").as("test_acc_permille"),
        expr("(1000 * greatest(pos_test, n_test - pos_test)) div n_test")
          .as("majority_test_permille"))
  }

  private lazy val stumpOracle: String = {
    val dToks = CorpusFilters.DToks
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    def mulmod(x: String, c: BigInt): String = {
      val base = BigInt(4294967296L)
      val lo = c % base
      val hi = c / base
      s"((($x % 4294967296) * $lo + " +
        s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
        s" * 4294967296) % 18446744073709551616)"
    }
    val m2 = mulmod("x1", BigInt("13787848793156543929"))
    val m3 = mulmod("x2", BigInt("10723151780598845931"))
    s"""WITH dt AS (SELECT doc_id, $dToks AS t FROM documents),
       |b0 AS (SELECT doc_id,
       |    (1000 * len(list_filter(t, w -> w = 'the'))) // len(t)
       |      AS the_pm,
       |    (1000 * len(list_filter(t, w -> w = 'data'))) // len(t)
       |      AS data_pm,
       |    (1000 * len(list_distinct(t))) // len(t) AS dtr_pm,
       |    100 * len(list_filter(t,
       |      w -> w IN ('the', 'a', 'value', 'data'))) >= 13 * len(t)
       |      AS label,
       |    CAST(CAST(doc_id AS HUGEINT) % 18446744073709551616
       |      AS HUGEINT) AS z
       |  FROM dt WHERE len(t) >= 1),
       |h1 AS (SELECT *, $z1 AS z1 FROM b0),
       |h2 AS (SELECT *, xor(z1, z1 // 1073741824) AS x1 FROM h1),
       |h3 AS (SELECT *, $m2 AS z2 FROM h2),
       |h4 AS (SELECT *, xor(z2, z2 // 134217728) AS x2 FROM h3),
       |h5 AS (SELECT *, $m3 AS z3 FROM h4),
       |h6 AS (SELECT doc_id, the_pm, data_pm, dtr_pm, label,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS h
       |  FROM (SELECT *, xor(z3, z3 // 2147483648) AS m FROM h5) t),
       |base AS (SELECT doc_id, the_pm, data_pm, dtr_pm, label,
       |    ((h % 5) + 5) % 5 <> 0 AS is_train FROM h6),
       |up AS (SELECT doc_id, label, is_train, 'the_pm' AS fname,
       |    the_pm AS v FROM base
       |  UNION ALL SELECT doc_id, label, is_train, 'data_pm', data_pm
       |  FROM base
       |  UNION ALL SELECT doc_id, label, is_train, 'dtr_pm', dtr_pm
       |  FROM base),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos_train FROM base WHERE is_train),
       |grp AS (SELECT fname, v,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM up WHERE is_train GROUP BY 1, 2),
       |cm AS (SELECT fname, v,
       |    CAST(SUM(p) OVER (PARTITION BY fname ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_p,
       |    CAST(SUM(c) OVER (PARTITION BY fname ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c FROM grp),
       |cand AS (SELECT fname, v AS thr, tt.n_train, dir,
       |    CASE WHEN dir = 'le' THEN
       |      cum_p + (tt.n_train - cum_c) - (tt.pos_train - cum_p)
       |    ELSE tt.n_train -
       |      (cum_p + (tt.n_train - cum_c) - (tt.pos_train - cum_p))
       |    END AS correct
       |  FROM cm CROSS JOIN tt
       |  CROSS JOIN (SELECT unnest(['le', 'gt']) AS dir) d),
       |model AS (SELECT * FROM cand
       |  ORDER BY correct DESC, fname, dir, thr LIMIT 1),
       |ap AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       |    CAST(SUM(CASE WHEN (CASE WHEN m.dir = 'le' THEN u.v <= m.thr
       |      ELSE u.v > m.thr END) = u.label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS test_correct,
       |    CAST(SUM(CASE WHEN u.label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos_test
       |  FROM up u JOIN model m USING (fname) WHERE NOT u.is_train)
       |SELECT m.fname AS feature, m.thr AS threshold,
       |  m.dir AS direction, m.n_train, ap.n_test,
       |  (1000 * m.correct) // m.n_train AS train_acc_permille,
       |  (1000 * ap.test_correct) // ap.n_test AS test_acc_permille,
       |  (1000 * GREATEST(ap.pos_test, ap.n_test - ap.pos_test)) //
       |    ap.n_test AS majority_test_permille
       |FROM model m CROSS JOIN ap""".stripMargin
  }

  // --------------------------------------- q283 Cronbach's alpha
  /** q283: Cronbach's α over the three quality-signal RANKS (Cronbach,
    * Psychometrika 1951) — the internal-consistency audit of the q183
    * fusion battery: RRF fusion presumes the signals measure one
    * "quality" construct; α says how much they actually agree (α near
    * 1 = redundant battery, near 0 = the fusion is averaging unrelated
    * orderings — either answer changes the fusion design). Items are
    * the rank columns themselves, so this is α on the Spearman scale,
    * unit-free by construction. Eval loop #18.
    *
    * Exactness: items are integer ranks; every variance lifts to
    * n·Σx² − S² (DECIMAL(38,0) — rank⁴-shaped, the loud assert names
    * the swap past ~10⁹ docs), and
    *   α_milli = (1000·k·(V_t − ΣV_i)) div ((k−1)·V_t)
    * is one division of exact integers; per-item variances report as
    * V div (n(n−1)) — the sample variance, exactly quantized.
    *
    * Scale shape: q183's bucketed rank machinery (never a corpus
    * window) + one 4-sum aggregate. */
  def q283_cronbach_alpha(s: SparkSession, dir: String): DataFrame = {
    val fr = fusionRanks(s, dir)
      .withColumn("tot", col("r_logit") + col("r_ent") + col("r_dtr"))
    val agg = fr.agg(count(lit(1)).as("n"),
      sum(col("r_logit")).as("s1"),
      sum(expr("CAST(r_logit AS DECIMAL(38,0)) * r_logit")).as("q1"),
      sum(col("r_ent")).as("s2"),
      sum(expr("CAST(r_ent AS DECIMAL(38,0)) * r_ent")).as("q2"),
      sum(col("r_dtr")).as("s3"),
      sum(expr("CAST(r_dtr AS DECIMAL(38,0)) * r_dtr")).as("q3"),
      sum(col("tot")).as("st"),
      sum(expr("CAST(tot AS DECIMAL(38,0)) * tot")).as("qt"))
    agg
      .filter(coalesce(assert_true(col("n") <= lit(1000000000L),
        lit("Cronbach rank-variance lifts pass DECIMAL(38,0) near " +
          "1e9 docs: swap to wider units at this corpus scale")),
        lit(true)))
      .withColumn("v1", expr(
        "CAST(n AS DECIMAL(38,0)) * q1 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("v2", expr(
        "CAST(n AS DECIMAL(38,0)) * q2 - CAST(s2 AS DECIMAL(38,0)) * s2"))
      .withColumn("v3", expr(
        "CAST(n AS DECIMAL(38,0)) * q3 - CAST(s3 AS DECIMAL(38,0)) * s3"))
      .withColumn("vt", expr(
        "CAST(n AS DECIMAL(38,0)) * qt - CAST(st AS DECIMAL(38,0)) * st"))
      .select(col("n").as("n_docs"), lit(3L).as("k_items"),
        expr("CAST(v1 div (CAST(n AS DECIMAL(38,0)) * (n - 1)) " +
          "AS BIGINT)").as("var_logit"),
        expr("CAST(v2 div (CAST(n AS DECIMAL(38,0)) * (n - 1)) " +
          "AS BIGINT)").as("var_ent"),
        expr("CAST(v3 div (CAST(n AS DECIMAL(38,0)) * (n - 1)) " +
          "AS BIGINT)").as("var_dtr"),
        expr("CAST(vt div (CAST(n AS DECIMAL(38,0)) * (n - 1)) " +
          "AS BIGINT)").as("var_total"),
        expr("CAST((CAST(3000 AS DECIMAL(38,0)) * " +
          "(vt - v1 - v2 - v3)) div (CAST(2 AS DECIMAL(38,0)) * " +
          "greatest(vt, CAST(1 AS DECIMAL(38,0)))) AS BIGINT)")
          .as("alpha_milli"))
  }

  private lazy val cronbachOracle: String =
    s"""WITH $fusionRanksCtes,
       |tt AS (SELECT r_logit, r_ent, r_dtr,
       |    r_logit + r_ent + r_dtr AS tot FROM fr),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(r_logit) AS BIGINT) AS s1,
       |    SUM(CAST(r_logit AS HUGEINT) * r_logit) AS q1,
       |    CAST(SUM(r_ent) AS BIGINT) AS s2,
       |    SUM(CAST(r_ent AS HUGEINT) * r_ent) AS q2,
       |    CAST(SUM(r_dtr) AS BIGINT) AS s3,
       |    SUM(CAST(r_dtr AS HUGEINT) * r_dtr) AS q3,
       |    CAST(SUM(tot) AS BIGINT) AS st,
       |    SUM(CAST(tot AS HUGEINT) * tot) AS qt FROM tt),
       |v AS (SELECT n,
       |    CAST(n AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS v1,
       |    CAST(n AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS v2,
       |    CAST(n AS HUGEINT) * q3 - CAST(s3 AS HUGEINT) * s3 AS v3,
       |    CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS vt
       |  FROM ag)
       |SELECT n AS n_docs, CAST(3 AS BIGINT) AS k_items,
       |  CAST(v1 // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       |    AS var_logit,
       |  CAST(v2 // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       |    AS var_ent,
       |  CAST(v3 // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       |    AS var_dtr,
       |  CAST(vt // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       |    AS var_total,
       |  CAST((3000 * (vt - v1 - v2 - v3)) //
       |    (CAST(2 AS HUGEINT) * GREATEST(vt, 1)) AS BIGINT)
       |    AS alpha_milli
       |FROM v""".stripMargin

  // --------------------------------- q185 keep-rate threshold advisor
  private val KeepTargetPermille = 600L

  /** Threshold advisor: the smallest logit cut that keeps at least
    * [[KeepTargetPermille]] of the corpus — i.e. the k-th largest logit
    * as an order statistic, found on the DISTINCT-logit histogram (the
    * q177 surface) with a descending bucketed prefix count, never a
    * corpus sort. Emits the chosen micro-unit threshold plus the
    * achieved rate and two contract booleans: `ok` (target met) and
    * `tight` (one distinct step higher would miss — minimality). This is
    * the advisor half of the q153→q46 pattern; q185b consumes it. */
  def q185_threshold_advisor(s: SparkSession, dir: String): DataFrame = {
    val pred = logitU(s, dir)
    val nk = pred.agg(count(lit(1)).as("n_docs"))
      .selectExpr("n_docs",
        s"(n_docs * $KeepTargetPermille + 999) div 1000 AS k_target")
    val g = pred.groupBy(col("logit_u")).agg(count(lit(1)).as("c"))
    val cum = Budget.bucketedPrefixSum(g,
      expr("floor(-logit_u / 100000)"), Seq(col("logit_u").desc), col("c"))
    val pick = cum.crossJoin(broadcast(nk))
      .filter(col("cum") >= col("k_target"))
      .agg(max(col("logit_u")).as("threshold_u"))
    cum.crossJoin(broadcast(pick))
      .filter(col("logit_u") === col("threshold_u"))
      .crossJoin(broadcast(nk))
      .selectExpr("n_docs", "k_target", "threshold_u",
        "cum AS n_kept",
        "(1000 * cum) div n_docs AS keep_permille",
        "cum >= k_target AS ok",
        "cum - c < k_target AS tight")
  }

  /** The executor half: every doc scores map-side against the advised
    * threshold (a broadcast 1-row frame — the advisor's output consumed
    * as a plan input, the q153→q46 loop), reported per source. */
  def q185b_threshold_apply(s: SparkSession, dir: String): DataFrame = {
    val thr = q185_threshold_advisor(s, dir).select(col("threshold_u"))
    logitU(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .crossJoin(broadcast(thr))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit_u") >= col("threshold_u"), 1L).otherwise(0L))
          .as("n_kept"))
      .selectExpr("source", "n_docs", "n_kept",
        "(1000 * n_kept) div n_docs AS kept_permille")
      .orderBy(col("source"))
  }

  /** Shared CTE chain deriving the advised threshold in plain SQL. */
  private lazy val ThresholdCtes: String =
    s"""pred AS (SELECT doc_id,
       |    CAST(round(logit_r * 1000000.0) AS BIGINT) AS logit_u
       |  FROM (${CorpusFilters.qualityClassifierOracle})),
       |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    (CAST(COUNT(*) AS BIGINT) * $KeepTargetPermille + 999) // 1000
       |      AS k_target FROM pred),
       |g AS (SELECT logit_u, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pred GROUP BY logit_u),
       |cm AS (SELECT logit_u, c,
       |    CAST(SUM(c) OVER (ORDER BY logit_u DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM g),
       |pick AS (SELECT MAX(logit_u) AS threshold_u
       |  FROM cm CROSS JOIN nk WHERE cum >= k_target)""".stripMargin

  private lazy val q185Oracle: String =
    s"""WITH $ThresholdCtes
       |SELECT n_docs, k_target, threshold_u, cum AS n_kept,
       |  (1000 * cum) // n_docs AS keep_permille,
       |  cum >= k_target AS ok,
       |  cum - c < k_target AS tight
       |FROM cm CROSS JOIN pick CROSS JOIN nk
       |WHERE logit_u = threshold_u""".stripMargin

  private lazy val q185bOracle: String =
    s"""WITH $ThresholdCtes
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN p.logit_u >= pk.threshold_u THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  (1000 * CAST(SUM(CASE WHEN p.logit_u >= pk.threshold_u
       |    THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |    AS kept_permille
       |FROM pred p JOIN documents d USING (doc_id) CROSS JOIN pick pk
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------------------------- q190 MAD robust outliers
  /** Robust per-source length outliers via the median absolute deviation
    * (Hampel 1974's MAD, the 3σ-rule's heavy-tail-proof replacement for
    * corpus profiling): flag docs with |x − med| > 1.5·MAD. Exactness
    * hinges on unit scaling, not tolerance: an even-count median of
    * integers is a HALF-integer — binary-exact in a double and exactly
    * recovered as med4 = 4·med; deviations then live in integer quarter
    * units, their median in exact eighths (madq2 = 2·med(dev_q)), and
    * the outlier test 2·dev_q > 3·madq2 is pure BIGINT. Spark
    * `percentile` and DuckDB `quantile_cont` share the interpolation
    * definition (the q95 parity), so both engines derive identical
    * doubles before the exact recovery. Per-source aggs over the
    * source-cardinality dim; the deviation pass is one broadcast join —
    * at 100 TB swap `approx_percentile` per the q41→q41b note. */
  def q190_mad_outliers(s: SparkSession, dir: String): DataFrame = {
    val med = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(expr("CAST(round(percentile(n_chars, 0.5) * 4) AS BIGINT)")
        .as("med4"))
    val dev = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"))
      .join(broadcast(med), "source")
      .selectExpr("source", "med4", "abs(4 * n_chars - med4) AS dev_q")
    val mad = dev.groupBy(col("source"), col("med4"))
      .agg(expr("CAST(round(percentile(dev_q, 0.5) * 2) AS BIGINT)")
        .as("madq2"))
    dev.join(broadcast(mad.select(col("source"), col("madq2"))), "source")
      .groupBy(col("source"), col("med4"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("2 * dev_q > 3 * madq2"), 1L).otherwise(0L))
          .as("n_outliers"),
        max(col("madq2")).as("madq2"))
      .select(col("source"), col("n_docs"), col("med4"), col("madq2"),
        col("n_outliers"))
      .orderBy(col("source"))
  }

  private lazy val q190Oracle: String =
    s"""WITH med AS (SELECT source,
       |    CAST(round(quantile_cont(n_chars, 0.5) * 4) AS BIGINT) AS med4
       |  FROM documents GROUP BY source),
       |dev AS (SELECT d.source, m.med4,
       |    abs(4 * d.n_chars - m.med4) AS dev_q
       |  FROM documents d JOIN med m USING (source)),
       |mad AS (SELECT source, med4,
       |    CAST(round(quantile_cont(dev_q, 0.5) * 2) AS BIGINT) AS madq2
       |  FROM dev GROUP BY source, med4)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  d.med4, MAX(m.madq2) AS madq2,
       |  CAST(SUM(CASE WHEN 2 * dev_q > 3 * m.madq2 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers
       |FROM dev d JOIN mad m USING (source, med4)
       |GROUP BY d.source, d.med4 ORDER BY d.source""".stripMargin

  // ----------------------------------------------- q198 dataset card
  /** The dataset-card summary block (the quantitative half of a Datasheet
    * for Datasets, Gebru et al. 2018): corpus size, token mass, language/
    * source coverage, empty and exact-duplicate document counts, total
    * and median character mass — one row per metric, every value an
    * exact BIGINT from one corpus pass plus one md5-group dup probe.
    * This is the report a release pipeline regenerates per snapshot and
    * diffs across versions; it composes the primitives (tokenize, md5
    * dedup group, exact percentile) into the single artifact reviewers
    * read. */
  def q198_dataset_card(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"),
        md5(col("text").cast("binary")).as("h"))
    val base = d.agg(
      count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(when(col("tk") === 0L, 1L).otherwise(0L)).as("n_empty"),
      sum(col("n_chars")).as("total_chars"))
    val dup = d.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_exact_dup_docs"))
    val med = Tables.documents(s, dir)
      .agg(expr("CAST(round(percentile(n_chars, 0.5) * 4) AS BIGINT)")
        .as("med4_chars"))
    base.crossJoin(broadcast(dup)).crossJoin(broadcast(med))
      .selectExpr("stack(8, " +
        "'n_docs', n_docs, 'n_tokens', n_tokens, 'n_langs', n_langs, " +
        "'n_sources', n_sources, 'n_empty', n_empty, " +
        "'n_exact_dup_docs', n_exact_dup_docs, " +
        "'total_chars', total_chars, 'med4_chars', med4_chars) " +
        "AS (metric, value)")
      .orderBy(col("metric"))
  }

  private lazy val q198Oracle: String =
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
       |    CAST(len(${CorpusFilters.DToks}) AS BIGINT) AS tk,
       |    md5(text) AS h
       |  FROM documents),
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(tk) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(SUM(CASE WHEN tk = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_empty,
       |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM d),
       |dup AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT)
       |    AS n_exact_dup_docs
       |  FROM (SELECT COUNT(*) AS c FROM d GROUP BY h HAVING COUNT(*) >= 2)),
       |med AS (SELECT CAST(round(quantile_cont(n_chars, 0.5) * 4) AS BIGINT)
       |    AS med4_chars FROM documents)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
       |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
       |  UNION ALL SELECT 'n_langs', n_langs FROM base
       |  UNION ALL SELECT 'n_sources', n_sources FROM base
       |  UNION ALL SELECT 'n_empty', n_empty FROM base
       |  UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM dup
       |  UNION ALL SELECT 'total_chars', total_chars FROM base
       |  UNION ALL SELECT 'med4_chars', med4_chars FROM med)
       |ORDER BY metric""".stripMargin

  // ------------------------------------------- q184 Heaps-law forecast
  /** Vocabulary-growth forecast (Heaps 1978, V(n) = K·n^β) — the
    * tokenizer-design question at 100 TB ("how big does the vocab get at
    * 100× the tokens?") answered from nested corpus prefixes: vocabulary
    * at each prefix comes from FIRST-OCCURRENCE docs (one vocab-sized
    * min rollup — no per-prefix rescan), β̂ is the log-log slope between
    * the smallest and largest prefix in micro-nats, and the 100×
    * extrapolation stays entirely in integer log space
    * (lnv̂ = lnv₈ + Δlnv·ln100/Δlnn, floor-divided) — no pow(), no
    * cross-libm exposure beyond the documented round(10⁶·ln n) class. */
  def q184_heaps_forecast(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
    val mx = toks.agg(max(col("doc_id")).as("mx"))
    val js = Seq(1, 2, 4, 8)
    val thr = js.map(j => s"struct(${j}L AS j, " +
      s"((mx + 1) * $j + 7) div 8 AS t)").mkString("array(", ", ", ")")
    val cuts = mx.selectExpr(s"explode($thr) AS c")
      .selectExpr("c.j AS j", "c.t AS t")
    val perDoc = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("tk"))
    val nTok = perDoc.crossJoin(broadcast(cuts))
      .filter(col("doc_id") < col("t"))
      .groupBy(col("j"), col("t"))
      .agg(sum(col("tk")).as("n_tokens"))
    val firstDoc = toks
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
    val vocab = firstDoc.crossJoin(broadcast(cuts))
      .filter(col("fd") < col("t"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("vocab"))
    val rows = nTok.join(vocab, "j")
      .selectExpr("j", "t AS cut_doc", "n_tokens", "vocab",
        "CAST(round(1000000.0 * ln_shared(n_tokens)) AS BIGINT) AS lnn_u",
        "CAST(round(1000000.0 * ln_shared(vocab)) AS BIGINT) AS lnv_u")
    val fit = rows.agg(
        max(when(col("j") === 1, col("lnn_u"))).as("lnn1"),
        max(when(col("j") === 1, col("lnv_u"))).as("lnv1"),
        max(when(col("j") === 8, col("lnn_u"))).as("lnn8"),
        max(when(col("j") === 8, col("lnv_u"))).as("lnv8"))
      .selectExpr(
        "(1000 * (lnv8 - lnv1)) div (lnn8 - lnn1) AS beta_permille",
        "lnv8 + ((lnv8 - lnv1) * 4605170) div (lnn8 - lnn1)" +
          " AS lnv_pred_100x_u")
    rows.crossJoin(broadcast(fit)).orderBy(col("j"))
  }

  private lazy val q184Oracle: String =
    s"""WITH dt AS (SELECT doc_id, ${CorpusFilters.DToks} AS t FROM documents),
       |toks AS (SELECT doc_id, t FROM dt WHERE len(t) >= 1),
       |mx AS (SELECT MAX(doc_id) AS mx FROM toks),
       |cuts AS (SELECT CAST(j AS BIGINT) AS j,
       |    ((mx + 1) * j + 7) // 8 AS t
       |  FROM mx CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS j)),
       |nt AS (SELECT c.j, c.t, CAST(SUM(len(d.t)) AS BIGINT) AS n_tokens
       |  FROM toks d CROSS JOIN cuts c WHERE d.doc_id < c.t
       |  GROUP BY c.j, c.t),
       |fd AS (SELECT term, MIN(doc_id) AS fd FROM (
       |    SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY term),
       |vb AS (SELECT c.j, CAST(COUNT(*) AS BIGINT) AS vocab
       |  FROM fd CROSS JOIN cuts c WHERE fd.fd < c.t GROUP BY c.j),
       |rows_ AS (SELECT j, cut_doc, n_tokens, vocab,
       |    ${SharedLn.microSql("__lnn")} AS lnn_u,
       |    ${SharedLn.microSql("__lnv")} AS lnv_u
       |  FROM (${SharedLn.oracleLn(
          "(SELECT j, t AS cut_doc, n_tokens, vocab FROM nt JOIN vb USING (j))",
          Seq("j", "cut_doc", "n_tokens", "vocab"),
          Seq(("__lnn", "n_tokens"), ("__lnv", "vocab")))})),
       |fit AS (SELECT
       |    (1000 * (MAX(CASE WHEN j = 8 THEN lnv_u END) -
       |      MAX(CASE WHEN j = 1 THEN lnv_u END))) //
       |      (MAX(CASE WHEN j = 8 THEN lnn_u END) -
       |      MAX(CASE WHEN j = 1 THEN lnn_u END)) AS beta_permille,
       |    MAX(CASE WHEN j = 8 THEN lnv_u END) +
       |      ((MAX(CASE WHEN j = 8 THEN lnv_u END) -
       |      MAX(CASE WHEN j = 1 THEN lnv_u END)) * 4605170) //
       |      (MAX(CASE WHEN j = 8 THEN lnn_u END) -
       |      MAX(CASE WHEN j = 1 THEN lnn_u END)) AS lnv_pred_100x_u
       |  FROM rows_)
       |SELECT j, cut_doc, n_tokens, vocab, lnn_u, lnv_u,
       |  CAST(beta_permille AS BIGINT) AS beta_permille,
       |  CAST(lnv_pred_100x_u AS BIGINT) AS lnv_pred_100x_u
       |FROM rows_ CROSS JOIN fit ORDER BY j""".stripMargin

  // ------------------------------------- q187 signal correlation matrix
  /** Pearson correlations between the three per-doc curation signals
    * (n_chars, token count, char entropy in milli-nats) — the profiling
    * report that says which quality signals are redundant before fusing
    * them (the q183 design question, answered with data). All ten
    * moments are exact BIGINT sums in ONE corpus pass (entropy floor-
    * coarsened to milli-nats so every cross-moment stays inside Long at
    * 100 TB-class counts); each r is then a fixed-size mirrored IEEE
    * tree (casts → one quotient with two exact sqrts) on the 1-row
    * moment frame. Output: 3 rows, one per signal pair. */
  def q187_signal_correlation(s: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), col("n_chars").as("x1"),
        size(Cleanse.tokens(col("text"))).cast("long").as("x2"),
        Entropy.char_entropy_unat(col("text")).as("hu"))
      .selectExpr("x1", "x2", "hu div 1000 AS x3")
    val m = sig.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x3")).as("s3"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x3") * col("x3")).as("s33"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("x3")).as("s13"),
      sum(col("x2") * col("x3")).as("s23"))
    // per-FACTOR double casts (the q173 kappa shape): n·Σxy formed in
    // Long wraps under ANSI at lake-scale moments (the q196 lesson) —
    // products of count-valued doubles are IEEE-deterministic instead
    def rExpr(sab: String, sa: String, sb: String, saa: String,
        sbb: String): String =
      s"round(CASE WHEN CAST(n AS DOUBLE)*CAST($saa AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sa AS DOUBLE) = 0.0 OR " +
        s"CAST(n AS DOUBLE)*CAST($sbb AS DOUBLE) - " +
        s"CAST($sb AS DOUBLE)*CAST($sb AS DOUBLE) = 0.0 THEN NULL ELSE " +
        s"(CAST(n AS DOUBLE)*CAST($sab AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sb AS DOUBLE)) / " +
        s"(sqrt(CAST(n AS DOUBLE)*CAST($saa AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sa AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE)*CAST($sbb AS DOUBLE) - " +
        s"CAST($sb AS DOUBLE)*CAST($sb AS DOUBLE))) END, 6) AS r_r"
    val pairs = Seq(
      ("chars_tokens", rExpr("s12", "s1", "s2", "s11", "s22")),
      ("chars_entropy", rExpr("s13", "s1", "s3", "s11", "s33")),
      ("tokens_entropy", rExpr("s23", "s2", "s3", "s22", "s33")))
    pairs.map { case (name, e) =>
      m.selectExpr(s"'$name' AS pair", "n AS n_docs", e)
    }.reduce(_ unionByName _).orderBy(col("pair"))
  }

  private lazy val q187Oracle: String = {
    def rExpr(sab: String, sa: String, sb: String, saa: String,
        sbb: String): String =
      s"round(CASE WHEN CAST(n AS DOUBLE)*CAST($saa AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sa AS DOUBLE) = 0.0 OR " +
        s"CAST(n AS DOUBLE)*CAST($sbb AS DOUBLE) - " +
        s"CAST($sb AS DOUBLE)*CAST($sb AS DOUBLE) = 0.0 THEN NULL ELSE " +
        s"(CAST(n AS DOUBLE)*CAST($sab AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sb AS DOUBLE)) / " +
        s"(sqrt(CAST(n AS DOUBLE)*CAST($saa AS DOUBLE) - " +
        s"CAST($sa AS DOUBLE)*CAST($sa AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE)*CAST($sbb AS DOUBLE) - " +
        s"CAST($sb AS DOUBLE)*CAST($sb AS DOUBLE))) END, 6) AS r_r"
    s"""WITH dt AS (SELECT doc_id, n_chars,
       |    CAST(len(${CorpusFilters.DToks}) AS BIGINT) AS n_toks, text
       |  FROM documents),
       |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
       |  FROM documents),
       |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ch GROUP BY 1, 2),
       |ccl AS (${SharedLn.oracleLn("cc", Seq("doc_id", "cnt"),
          Seq(("__lnc", "cnt")))}),
       |eagg AS (SELECT doc_id, SUM(cnt) AS cn,
       |    SUM(cnt * ${SharedLn.microSql("__lnc")}) AS sm
       |  FROM ccl GROUP BY 1),
       |eaggl AS (${SharedLn.oracleLn("eagg", Seq("doc_id", "cn", "sm"),
          Seq(("__lncn", "cn")))}),
       |sig AS (SELECT d.n_chars AS x1, d.n_toks AS x2,
       |    CAST(CASE WHEN a.cn IS NULL OR a.cn = 0 THEN 0
       |      ELSE ${SharedLn.microSql("__lncn")} - sm // a.cn
       |    END AS BIGINT) // 1000 AS x3
       |  FROM dt d LEFT JOIN eaggl a ON d.doc_id = a.doc_id),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
       |    CAST(SUM(x3) AS BIGINT) AS s3,
       |    CAST(SUM(x1*x1) AS BIGINT) AS s11,
       |    CAST(SUM(x2*x2) AS BIGINT) AS s22,
       |    CAST(SUM(x3*x3) AS BIGINT) AS s33,
       |    CAST(SUM(x1*x2) AS BIGINT) AS s12,
       |    CAST(SUM(x1*x3) AS BIGINT) AS s13,
       |    CAST(SUM(x2*x3) AS BIGINT) AS s23
       |  FROM sig)
       |SELECT * FROM (
       |  SELECT 'chars_tokens' AS pair, n AS n_docs,
       |    ${rExpr("s12", "s1", "s2", "s11", "s22")} FROM m
       |  UNION ALL SELECT 'chars_entropy', n,
       |    ${rExpr("s13", "s1", "s3", "s11", "s33")} FROM m
       |  UNION ALL SELECT 'tokens_entropy', n,
       |    ${rExpr("s23", "s2", "s3", "s22", "s33")} FROM m)
       |ORDER BY pair""".stripMargin
  }

  // ------------------------------------------- q210 trimmed/winsorized
  /** Per-source trimmed and winsorized means (q210) — the robust
    * location estimates that complement q190's MAD scale estimate
    * (Tukey's classical robust-statistics pair; winsorization per
    * Dixon & Tukey 1968): drop (trimmed) or clamp (winsorized) the top
    * and bottom 5% of each source's length distribution before
    * averaging, so a handful of giant or empty documents can't move a
    * source's profile between releases.
    *
    * Exact order statistics WITHOUT a corpus sort: per-source VALUE
    * GROUPS carry (count, cumulative count, value·count); the rank
    * window [k+1, n−k] intersects each group arithmetically
    * (included = max(0, min(cum, n−k) − max(cum−c, k))), the clamp
    * values are min-v-at-rank aggregates, and both means emit in milli
    * units by floor division — no floats, no row_number, tie-proof by
    * construction.
    *
    * Scale shape: the value-group table is support-bounded (the q202
    * grid argument), its per-source windows are catalog-sized, and the
    * corpus contributes one grouping pass. */
  def q210_trimmed_stats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("v"))
    val wS = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val groups = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wS))
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("k", expr("n_s div 20"))
    val g = groups.join(broadcast(tot), Seq("source"))
      .withColumn("included", greatest(lit(0L),
        least(col("cum"), col("n_s") - col("k")) -
          greatest(col("cum") - col("c"), col("k"))))
    g.groupBy(col("source"))
      .agg(max(col("n_s")).as("n_s"), max(col("k")).as("k_trim"),
        min(when(col("cum") >= col("k") + 1, col("v"))).as("lo_clamp"),
        min(when(col("cum") >= col("n_s") - col("k"), col("v")))
          .as("hi_clamp"),
        sum(col("v") * col("included")).as("trimmed_sum"))
      .withColumn("trimmed_n", col("n_s") - lit(2L) * col("k_trim"))
      .withColumn("trimmed_mean_milli",
        expr("(1000 * trimmed_sum) div trimmed_n"))
      .withColumn("winsor_mean_milli", expr(
        "(1000 * (trimmed_sum + k_trim * lo_clamp + k_trim * hi_clamp))" +
          " div n_s"))
      .select(col("source"), col("n_s"), col("k_trim"), col("lo_clamp"),
        col("hi_clamp"), col("trimmed_mean_milli"),
        col("winsor_mean_milli"))
      .orderBy(col("source"))
  }

  private lazy val trimmedOracle: String =
    s"""WITH docs AS (SELECT source, n_chars AS v FROM documents),
       |groups AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c,
       |    CAST(SUM(COUNT(*)) OVER (PARTITION BY source ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM docs GROUP BY source, v),
       |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
       |    CAST(COUNT(*) AS BIGINT) // 20 AS k
       |  FROM docs GROUP BY source),
       |g AS (SELECT gr.*, t.n_s, t.k,
       |    greatest(0, least(cum, t.n_s - t.k) -
       |      greatest(cum - c, t.k)) AS included
       |  FROM groups gr JOIN tot t USING (source)),
       |agg AS (SELECT source, MAX(n_s) AS n_s, MAX(k) AS k_trim,
       |    MIN(CASE WHEN cum >= k + 1 THEN v END) AS lo_clamp,
       |    MIN(CASE WHEN cum >= n_s - k THEN v END) AS hi_clamp,
       |    CAST(SUM(v * included) AS BIGINT) AS trimmed_sum
       |  FROM g GROUP BY source)
       |SELECT source, n_s, k_trim, lo_clamp, hi_clamp,
       |  (1000 * trimmed_sum) // (n_s - 2 * k_trim)
       |    AS trimmed_mean_milli,
       |  (1000 * (trimmed_sum + k_trim * lo_clamp + k_trim * hi_clamp))
       |    // n_s AS winsor_mean_milli
       |FROM agg ORDER BY source""".stripMargin

  // ---------------------------------------------- q245 mutual information
  /** q245: mutual-information feature selection (the information-gain
    * criterion — Yang & Pedersen ICML 1997 ranked it beside chi² as
    * the strongest text feature selectors; Cover & Thomas for the
    * quantity itself) between unigram PRESENCE and the q87b quality
    * label — the third member of the association trio: chi² (q175)
    * reads deviation-from-independence, log-odds (q211) reads
    * direction, MI reads the INFORMATION the term carries about the
    * label. Per term, over the presence/label 2×2 table,
    *
    *   stat_unat = N·MI in micro-nats
    *             = Σ_{cells c>0} c·(L(c·N) − L(r·s)),  L = round(10⁶·ln)
    *
    * — the plogp identity p·ln(p·N²/(r·s)) multiplied through by N so
    * every ln argument is an exact INTEGER (the house q56/q212
    * quantization); empty cells contribute the exact limit 0 in both
    * engines. The N ≤ 3.04·10⁹ frontier (where c·N passes 2⁶³) carries
    * a loud assert naming the DECIMAL swap.
    *
    * Scale shape: one distinct (doc, term) projection with map-side
    * combine (q175's), label broadcast, per-term 2×2 algebra, top-20
    * bounded heap. */
  def q245_token_mi(s: SparkSession, dir: String): DataFrame = {
    val lab = CorpusFilters.qualityLabels(s, dir)
      .select(col("doc_id"), col("label"))
    val tot = lab.agg(
      sum(when(col("label"), 1L).otherwise(0L)).as("p_tot"),
      sum(when(!col("label"), 1L).otherwise(0L)).as("n_tot"))
    val ab = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("term"))
      .distinct()
      .join(lab, "doc_id")
      .groupBy(col("term"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("b"))
    // shared ln (r18 verdict item 4): Spark parses ln_shared from the
    // registered function registry; the oracle twin below computes the
    // same generated formula, so the exact-limit terms carry no libm
    def lmx(x: String) = s"CAST(round(1000000.0 * ln_shared($x)) AS BIGINT)"
    def cell(c: String, r: String, cs: String) =
      s"CASE WHEN $c > 0 THEN $c * (${lmx(s"$c * nn")} - " +
        s"${lmx(s"($r) * ($cs)")}) ELSE 0 END"
    ab.crossJoin(broadcast(tot))
      .selectExpr("term", "a", "b", "p_tot", "n_tot",
        "p_tot + n_tot AS nn")
      .where("a + b >= 5 AND a + b < nn")
      .filter(coalesce(assert_true(
        expr("nn <= 3037000499L"),
        lit("MI cell product c*N would overflow BIGINT: move the " +
          "micro-nat arguments to DECIMAL(38,0) at this corpus scale")),
        lit(true)))
      .selectExpr("term", "a + b AS df", "a AS n_pos_with",
        s"""${cell("a", "a + b", "p_tot")} +
           |${cell("b", "a + b", "n_tot")} +
           |${cell("(p_tot - a)", "nn - a - b", "p_tot")} +
           |${cell("(n_tot - b)", "nn - a - b", "n_tot")}
           |AS stat_unat""".stripMargin.replace('\n', ' '),
        "nn")
      .selectExpr("term", "df", "n_pos_with", "stat_unat",
        "stat_unat div nn AS mi_micro")
      .orderBy(col("stat_unat").desc, col("term"))
      .limit(20)
  }

  private lazy val q245Oracle: String = {
    val fillers = CorpusFilters.FillerTokens.map(f => s"'$f'").mkString(", ")
    // the 8 ln arguments (4 cells x num/den), each a named shared-ln
    // column; a cell is then pure arithmetic over them
    def cell(c: String, num: String, den: String) =
      s"CASE WHEN $c > 0 THEN $c * (${SharedLn.microSql(num)} - " +
        s"${SharedLn.microSql(den)}) ELSE 0 END"
    val lnLayer = SharedLn.oracleLn("d",
      Seq("term", "a", "b", "p_tot", "n_tot", "nn"),
      Seq(
        ("__l_a_nn", "a * nn"), ("__l_ab_p", "(a + b) * p_tot"),
        ("__l_b_nn", "b * nn"), ("__l_ab_n", "(a + b) * n_tot"),
        ("__l_pa_nn", "(p_tot - a) * nn"),
        ("__l_rest_p", "(nn - a - b) * p_tot"),
        ("__l_nb_nn", "(n_tot - b) * nn"),
        ("__l_rest_n", "(nn - a - b) * n_tot")))
    s"""WITH ctoks AS (SELECT doc_id, ${CorpusFilters.DToks} AS t
       |  FROM documents),
       |lab AS (SELECT doc_id,
       |    (100 * CAST(len(list_filter(t, w -> w IN ($fillers))) AS BIGINT)
       |      >= 13 * CAST(len(t) AS BIGINT)) AS label
       |  FROM ctoks WHERE len(t) >= 1),
       |tot AS (SELECT
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p_tot,
       |    CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_tot
       |  FROM lab),
       |dt AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM ctoks),
       |ab AS (SELECT term,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS b
       |  FROM dt JOIN lab USING (doc_id) GROUP BY term),
       |d AS (SELECT term, a, b, p_tot, n_tot, p_tot + n_tot AS nn
       |  FROM ab CROSS JOIN tot
       |  WHERE a + b >= 5 AND a + b < p_tot + n_tot),
       |dl AS ($lnLayer),
       |st AS (SELECT term, a + b AS df, a AS n_pos_with,
       |    ${cell("a", "__l_a_nn", "__l_ab_p")} +
       |    ${cell("b", "__l_b_nn", "__l_ab_n")} +
       |    ${cell("(p_tot - a)", "__l_pa_nn", "__l_rest_p")} +
       |    ${cell("(n_tot - b)", "__l_nb_nn", "__l_rest_n")} AS stat_unat,
       |    nn
       |  FROM dl)
       |SELECT term, df, n_pos_with, stat_unat, stat_unat // nn AS mi_micro
       |FROM st ORDER BY stat_unat DESC, term LIMIT 20""".stripMargin
  }

  // ------------------------------------------------- q257 McNemar
  /** q257: McNemar's test (McNemar, Psychometrika 1947 — the PAIRED
    * classifier comparison; Dietterich 1998 established it as the
    * right test for "is classifier A actually better than B on the
    * same data") between the two EXACT keep rules the corpus ships:
    * the q87 rule classifier and the q68 bigram-LM filter
    * (avg_logprob ≥ −3.5, q70's f_lm rule), judged against the q87b
    * label on their common domain. Marginal accuracies mislead when
    * errors overlap; McNemar reads only the DISCORDANT pairs — b =
    * rules-only-correct, c = LM-only-correct — and the continuity-
    * corrected χ² = (\|b−c\|−1)²/(b+c) squares into the exact integer
    * comparison 10⁴·(\|b−c\|−1)² > 38416·(b+c) (95 %, the q234/q251
    * move). Both inputs are oracle-exact (q68's rounded score is
    * hash-gated), so every cell is engine-identical.
    *
    * Scale shape: two per-doc scoring chains (each already
    * corpus-linear with map-side combine) joined on doc_id, one 2×2
    * rollup — the output is ONE row. */
  def q257_mcnemar(s: SparkSession, dir: String): DataFrame = {
    val rules = CorpusFilters.q87_quality_classifier(s, dir)
      .select(col("doc_id"), col("keep").as("p_rules"))
    val lm = CorpusFilters.q68_bigram_lm(s, dir)
      .select(col("doc_id"),
        (col("avg_logprob") >= -3.5).as("p_lm"))
    val lab = CorpusFilters.qualityLabels(s, dir)
      .select(col("doc_id"), col("label"))
    rules.join(lm, "doc_id").join(lab, "doc_id")
      .select((col("p_rules") === col("label")).as("ok_r"),
        (col("p_lm") === col("label")).as("ok_l"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok_r") && col("ok_l"), 1L).otherwise(0L))
          .as("both_correct"),
        sum(when(!col("ok_r") && !col("ok_l"), 1L).otherwise(0L))
          .as("both_wrong"),
        sum(when(col("ok_r") && !col("ok_l"), 1L).otherwise(0L))
          .as("rules_only"),
        sum(when(!col("ok_r") && col("ok_l"), 1L).otherwise(0L))
          .as("lm_only"))
      .select(col("n_docs"), col("both_correct"), col("both_wrong"),
        col("rules_only"), col("lm_only"),
        expr("(1000 * (both_correct + rules_only)) div n_docs")
          .as("acc_rules_permille"),
        expr("(1000 * (both_correct + lm_only)) div n_docs")
          .as("acc_lm_permille"),
        expr("rules_only + lm_only > 0 AND " +
          "10000 * (abs(rules_only - lm_only) - 1) * " +
          "(abs(rules_only - lm_only) - 1) > " +
          "38416 * (rules_only + lm_only)").as("significant"))
  }

  private lazy val mcnemarOracle: String =
    s"""WITH $PredLabCtes,
       |lm AS (SELECT doc_id, avg_logprob >= -3.5 AS p_lm
       |  FROM (${CorpusFilters.oracle("q68_bigram_lm")})),
       |cells AS (SELECT p.keep = l.label AS ok_r,
       |    lm.p_lm = l.label AS ok_l
       |  FROM pred p JOIN lm USING (doc_id) JOIN lab l USING (doc_id)),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN ok_r AND ok_l THEN 1 ELSE 0 END)
       |      AS BIGINT) AS both_correct,
       |    CAST(SUM(CASE WHEN NOT ok_r AND NOT ok_l THEN 1 ELSE 0 END)
       |      AS BIGINT) AS both_wrong,
       |    CAST(SUM(CASE WHEN ok_r AND NOT ok_l THEN 1 ELSE 0 END)
       |      AS BIGINT) AS rules_only,
       |    CAST(SUM(CASE WHEN NOT ok_r AND ok_l THEN 1 ELSE 0 END)
       |      AS BIGINT) AS lm_only
       |  FROM cells)
       |SELECT n_docs, both_correct, both_wrong, rules_only, lm_only,
       |  (1000 * (both_correct + rules_only)) // n_docs
       |    AS acc_rules_permille,
       |  (1000 * (both_correct + lm_only)) // n_docs AS acc_lm_permille,
       |  rules_only + lm_only > 0 AND
       |    10000 * (abs(rules_only - lm_only) - 1) *
       |    (abs(rules_only - lm_only) - 1) >
       |    38416 * (rules_only + lm_only) AS significant
       |FROM ag""".stripMargin

  // ----------------------------------------- q280 OOV coverage audit
  private val OovVocabK = 1000

  /** q280: out-of-vocabulary rate per source against the global
    * top-[[OovVocabK]] vocabulary — the fixed-vocab coverage audit
    * (the question a tokenizer/embedding-table design asks per source:
    * "how much of this source falls outside the budgeted vocab?"),
    * complementing q275 (Chao1 bounds what NO vocab has seen) and
    * q204 (fertility prices what BPE spends per word). A source whose
    * OOV rate is an outlier either needs vocab budget or is noise.
    *
    * Exactness: the vocabulary is a deterministic bounded heap (count
    * desc, term asc, LIMIT K — ties at the boundary break on the term
    * string in both engines); coverage is one broadcast semi-join and
    * two integer ratios (token-level and type-level OOV permille).
    *
    * Scale shape: vocab rollup (Heaps-bounded) → K-row broadcast →
    * one (source, term) rollup; no corpus-global windows. */
  def q280_oov_audit(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documentsFanned(s, dir)
      .select(col("source"),
        explode(graft.text.Cleanse.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val vocab = st.groupBy(col("term")).agg(sum(col("c")).as("g"))
      .orderBy(col("g").desc, col("term")).limit(OovVocabK)
      .select(col("term"), lit(1L).as("in_vocab"))
    st.join(broadcast(vocab), Seq("term"), "left_outer")
      .withColumn("in_vocab", coalesce(col("in_vocab"), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"),
        sum(col("c") * col("in_vocab")).as("cov_tok"),
        sum(col("in_vocab")).as("cov_types"))
      .select(col("source"), col("n_tok"), col("n_types"),
        (lit(1000L) - expr("(1000 * cov_tok) div n_tok"))
          .as("oov_token_permille"),
        (lit(1000L) - expr("(1000 * cov_types) div n_types"))
          .as("oov_type_permille"))
      .orderBy(col("source"))
  }

  private lazy val oovOracle: String = {
    val dToks = CorpusFilters.DToks
    s"""WITH st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($dToks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |vocab AS (SELECT term FROM (SELECT term,
       |      CAST(SUM(c) AS BIGINT) AS g FROM st GROUP BY 1)
       |  ORDER BY g DESC, term LIMIT $OovVocabK),
       |j AS (SELECT st.source, st.c,
       |    CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END AS iv
       |  FROM st LEFT JOIN vocab v USING (term)),
       |ag AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(c * iv) AS BIGINT) AS cov_tok,
       |    CAST(SUM(iv) AS BIGINT) AS cov_types FROM j GROUP BY 1)
       |SELECT source, n_tok, n_types,
       |  1000 - (1000 * cov_tok) // n_tok AS oov_token_permille,
       |  1000 - (1000 * cov_types) // n_types AS oov_type_permille
       |FROM ag ORDER BY source""".stripMargin
  }

  // ------------------------------------- q275 Chao1 richness estimate
  /** q275: the Chao1 lower-bound species-richness estimator with
    * Good's sample-coverage companion (Chao, Scand. J. Statistics
    * 1984; Good, Biometrika 1953) per language — the "how much
    * vocabulary exists that this corpus has NOT seen" number beside
    * q184's Heaps growth forecast (Heaps extrapolates the observed
    * curve; Chao1 bounds the asymptote from the singleton/doubleton
    * profile alone, and Good's 1 − f₁/N says what fraction of the
    * next token is already covered — the OOV-rate forecast a
    * tokenizer design reads).
    *
    * Exactness: Chao1 = D + f₁²/(2·f₂) in milli as 1000·D +
    * (1000·f₁·f₁) div (2·f₂) (the bias-corrected f₂ = 0 branch
    * D + f₁(f₁−1)/2 mirrored in both engines); coverage_permille =
    * 1000 − (1000·f₁) div N; unseen_milli = chao1 − 1000·D. Single
    * integer divisions of exact counts — no logs at all.
    *
    * Scale shape: one (lang, term) rollup (Heaps-bounded), then a
    * frequency-of-frequencies rollup per language (the q249 GT
    * shape) — catalog algebra. */
  def q275_chao1(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.documentsFanned(s, dir)
      .select(col("lang"),
        explode(graft.text.Cleanse.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    lt.groupBy(col("lang"))
      .agg(count(lit(1)).as("d_types"), sum(col("c")).as("n_tok"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tok"), col("d_types"), col("f1"),
        col("f2"),
        (lit(1000L) * col("d_types") +
          when(col("f2") > 0,
            expr("(1000 * f1 * f1) div (2 * f2)"))
          .otherwise(expr("(1000 * f1 * (f1 - 1)) div 2")))
          .as("chao1_milli"),
        (lit(1000L) - expr("(1000 * f1) div n_tok"))
          .as("coverage_permille"))
      .orderBy(col("lang"))
  }

  private lazy val chao1Oracle: String = {
    val dToks = CorpusFilters.DToks
    s"""WITH lt AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT lang, unnest($dToks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |ag AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_types,
       |    CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM lt GROUP BY 1)
       |SELECT lang, n_tok, d_types, f1, f2,
       |  1000 * d_types + CASE WHEN f2 > 0
       |    THEN (1000 * f1 * f1) // (2 * f2)
       |    ELSE (1000 * f1 * (f1 - 1)) // 2 END AS chao1_milli,
       |  1000 - (1000 * f1) // n_tok AS coverage_permille
       |FROM ag ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------ q270 Brier score
  /** q270: the Brier score with Murphy's three-way decomposition
    * (Brier, Monthly Weather Review 1950; Murphy, J. Appl. Meteorology
    * 1973) for the q87 quality classifier against the q87b label —
    * eval loop #14: q174 ranks (AUC), q177 bins (calibration table),
    * the Brier score PRICES the probabilities themselves and Murphy
    * splits it into reliability (calibration error, lower better),
    * resolution (sharpness, higher better) and the irreducible
    * uncertainty ȳ(1−ȳ).
    *
    * Exactness: the score quantizes ONCE to micro (p_u =
    * round(10⁶·logit_r), q177's integerization); the raw score is
    * Σ(p_u − 10⁶y)² div N in DECIMAL(38,0); the decomposition runs at
    * the 0.02-probability bins (bin = p_u div 20000, forecast = bin
    * mean): REL = Σ_b ((A_b − 10⁶·pos_b)² div n_b) div N,
    * RES = Σ_b ((10⁶(pos_b·N − pos·n_b))² div (n_b·N²)) div N,
    * UNC = (10¹²·pos·(N−pos)) div N² — every division a quantization
    * of an integer ratio, the Murphy identity holding in float to bin
    * granularity (spec-checked). The (10⁶·pos·N)² products cross the
    * DECIMAL(38,0) frontier near N ≈ 3·10⁶ docs — the loud assert
    * names the wider-unit swap.
    *
    * Scale shape: one corpus pass to (bin, n, pos, Σp_u) — 50 bins —
    * plus one scalar aggregate; catalog algebra after. */
  def q270_brier(s: SparkSession, dir: String): DataFrame = {
    val pl = predLab(s, dir)
      .selectExpr("CAST(round(logit_r * 1000000.0) AS BIGINT) AS p_u",
        "CASE WHEN label THEN 1L ELSE 0L END AS y")
    val tot = pl.agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
      sum(expr("CAST((p_u - 1000000 * y) AS DECIMAL(38,0)) * " +
        "(p_u - 1000000 * y)")).as("sq"))
    val bins = pl.groupBy(expr("p_u div 20000").as("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"),
        sum(col("p_u")).as("a_b"))
    val dec = bins.crossJoin(broadcast(tot))
      .filter(coalesce(assert_true(
        expr("pos * n <= 10000000000000L"),
        lit("Brier decomposition squares pass the DECIMAL(38,0) " +
          "frontier: report in wider units past ~3e6 docs")),
        lit(true)))
      .agg(
        sum(expr("(CAST(a_b - 1000000 * pos_b AS DECIMAL(38,0)) * " +
          "(a_b - 1000000 * pos_b)) div CAST(n_b AS DECIMAL(38,0))"))
          .as("rel_num"),
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(pos_b * n - pos * n_b) * (CAST(1000000 AS DECIMAL(38,0)) * " +
          "(pos_b * n - pos * n_b))) div (CAST(n_b AS DECIMAL(38,0)) " +
          "* n * n)")).as("res_num"),
        count(lit(1)).as("n_bins"))
    tot.crossJoin(broadcast(dec))
      .select(col("n").as("n_docs"), col("pos").as("n_pos"),
        col("n_bins"),
        expr("CAST(sq div CAST(n AS DECIMAL(38,0)) AS BIGINT)")
          .as("brier_micro2"),
        expr("CAST(rel_num div CAST(n AS DECIMAL(38,0)) AS BIGINT)")
          .as("rel_micro2"),
        expr("CAST(res_num div CAST(n AS DECIMAL(38,0)) AS BIGINT)")
          .as("res_micro2"),
        expr("CAST((CAST(1000000000000 AS DECIMAL(38,0)) * pos * " +
          "(n - pos)) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("unc_micro2"))
  }

  private lazy val brierOracle: String =
    s"""WITH $PredLabCtes,
       |pu AS (SELECT CAST(round(logit_r * 1000000.0) AS BIGINT) AS p_u,
       |    CASE WHEN label THEN 1 ELSE 0 END AS y FROM pl),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS pos,
       |    SUM(CAST(p_u - 1000000 * y AS HUGEINT) *
       |      (p_u - 1000000 * y)) AS sq FROM pu),
       |bins AS (SELECT p_u // 20000 AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_b,
       |    CAST(SUM(y) AS BIGINT) AS pos_b,
       |    CAST(SUM(p_u) AS BIGINT) AS a_b FROM pu GROUP BY 1),
       |dec AS (SELECT
       |    SUM((CAST(a_b - 1000000 * pos_b AS HUGEINT) *
       |      (a_b - 1000000 * pos_b)) // CAST(n_b AS HUGEINT))
       |      AS rel_num,
       |    SUM((CAST(1000000 AS HUGEINT) * (pos_b * tot.n - tot.pos *
       |      n_b) * (CAST(1000000 AS HUGEINT) * (pos_b * tot.n -
       |      tot.pos * n_b))) // (CAST(n_b AS HUGEINT) * tot.n * tot.n))
       |      AS res_num,
       |    CAST(COUNT(*) AS BIGINT) AS n_bins
       |  FROM bins CROSS JOIN tot)
       |SELECT tot.n AS n_docs, tot.pos AS n_pos, dec.n_bins,
       |  CAST(tot.sq // CAST(tot.n AS HUGEINT) AS BIGINT)
       |    AS brier_micro2,
       |  CAST(dec.rel_num // CAST(tot.n AS HUGEINT) AS BIGINT)
       |    AS rel_micro2,
       |  CAST(dec.res_num // CAST(tot.n AS HUGEINT) AS BIGINT)
       |    AS res_micro2,
       |  CAST((CAST(1000000000000 AS HUGEINT) * tot.pos *
       |    (tot.n - tot.pos)) // (CAST(tot.n AS HUGEINT) * tot.n)
       |    AS BIGINT) AS unc_micro2
       |FROM tot CROSS JOIN dec""".stripMargin

  // ------------------------------------------------ q266 Cramér's V
  /** χ²(76) upper-5% critical value in micro units (R qchisq(0.95,76),
    * cross-checked against the incomplete-gamma inversion) — df is
    * structural: (20 sources − 1)·(5 langs − 1). */
  private val Chi2Crit76Micro = 97350970L

  /** q266: the chi-square test of independence with Cramér's V effect
    * size (Cramér, "Mathematical Methods of Statistics" 1946 §21.9)
    * over the source × lang contingency — the association-strength
    * number the 2×2 family (q175 per-term χ², q245 MI, q253 G²)
    * cannot give for a FULL r×c table: "how coupled are source and
    * language in this corpus?" is the stratification question a
    * mixture designer asks before assuming the two dimensions can be
    * weighted independently.
    *
    * Exactness: the full grid (zero cells included — they carry
    * (r·c)²/(N·r·c) mass) quantizes per cell:
    * term_micro = (10⁶·(o·N − r·c)²) div (N·r·c) in DECIMAL(38,0)
    * (the squared determinant passes 2⁶³ immediately; the decimal
    * frontier is N ≈ 10⁸ docs — the loud assert names the wider-unit
    * swap); chi2_micro sums the quantized terms, and V² — exact where
    * V itself needs a sqrt — is v2_micro = chi2_micro div
    * (N·(min(r,c) − 1)). The verdict compares the integer against the
    * compile-time χ²(76) literal, identical in both engines.
    *
    * Scale shape: one (source, lang) rollup (dimension-bounded),
    * margins broadcast, grid = |sources|·|langs| rows. */
  def q266_cramers_v(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
    val rMar = o.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cMar = o.groupBy(col("lang")).agg(sum(col("o")).as("cc"))
    val tot = o.agg(sum(col("o")).as("n"))
    val dims = rMar.agg(count(lit(1)).as("n_sources"))
      .crossJoin(broadcast(cMar.agg(count(lit(1)).as("n_langs"))))
    val grid = rMar.crossJoin(broadcast(cMar))
      .join(o, Seq("source", "lang"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .filter(coalesce(assert_true(col("n") <= lit(100000000L),
        lit("Cramér grid determinants would overflow DECIMAL(38,0): " +
          "swap the squared terms to wider units past 1e8 docs")),
        lit(true)))
      .withColumn("term_micro", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (o * n - r * cc) * " +
          "(o * n - r * cc)) div (CAST(n AS DECIMAL(38,0)) * r * cc) " +
          "AS BIGINT)"))
    grid.agg(max(col("n")).as("n_docs"),
      sum(col("term_micro")).as("chi2_micro"))
      .crossJoin(broadcast(dims))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        ((col("n_sources") - 1L) * (col("n_langs") - 1L)).as("dof"),
        col("chi2_micro"),
        expr("chi2_micro div (n_docs * (least(n_sources, n_langs) - 1))")
          .as("v2_micro"),
        (col("chi2_micro") > Chi2Crit76Micro).as("significant"))
  }

  private lazy val cramersOracle: String =
    s"""WITH o AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
       |  FROM documents GROUP BY 1, 2),
       |rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM o
       |  GROUP BY 1),
       |cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS cc FROM o
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM o),
       |dims AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rm)
       |    AS n_sources,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cm) AS n_langs),
       |grid AS (SELECT rm.source, cm.lang, rm.r, cm.cc,
       |    COALESCE(o.o, 0) AS o, tot.n
       |  FROM rm CROSS JOIN cm
       |  LEFT JOIN o ON o.source = rm.source AND o.lang = cm.lang
       |  CROSS JOIN tot),
       |t AS (SELECT n,
       |    CAST((1000000 * CAST(o * n - r * cc AS HUGEINT) *
       |      (o * n - r * cc)) // (CAST(n AS HUGEINT) * r * cc)
       |      AS BIGINT) AS term_micro
       |  FROM grid),
       |ag AS (SELECT MAX(n) AS n_docs,
       |    CAST(SUM(term_micro) AS BIGINT) AS chi2_micro FROM t)
       |SELECT ag.n_docs, dims.n_sources, dims.n_langs,
       |  (dims.n_sources - 1) * (dims.n_langs - 1) AS dof,
       |  ag.chi2_micro,
       |  ag.chi2_micro // (ag.n_docs * (LEAST(dims.n_sources,
       |    dims.n_langs) - 1)) AS v2_micro,
       |  ag.chi2_micro > $Chi2Crit76Micro AS significant
       |FROM ag CROSS JOIN dims""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q266_cramers_v" -> (q266_cramers_v _),
    "q270_brier" -> (q270_brier _),
    "q275_chao1" -> (q275_chao1 _),
    "q280_oov_audit" -> (q280_oov_audit _),
    "q283_cronbach_alpha" -> (q283_cronbach_alpha _),
    "q284_decision_stump" -> (q284_decision_stump _),
    "q257_mcnemar" -> (q257_mcnemar _),
    "q245_token_mi" -> (q245_token_mi _),
    "q210_trimmed_stats" -> (q210_trimmed_stats _),
    "q187_signal_correlation" -> (q187_signal_correlation _),
    "q183_quality_fusion" -> (q183_quality_fusion _),
    "q184_heaps_forecast" -> (q184_heaps_forecast _),
    "q185_threshold_advisor" -> (q185_threshold_advisor _),
    "q185b_threshold_apply" -> (q185b_threshold_apply _),
    "q190_mad_outliers" -> (q190_mad_outliers _),
    "q198_dataset_card" -> (q198_dataset_card _),
    "q173_classifier_eval" -> (q173_classifier_eval _),
    "q174_auc_exact" -> (q174_auc_exact _),
    "q175_chi2_terms" -> (q175_chi2_terms _),
    "q176_lang_quality" -> (q176_lang_quality _),
    "q177_calibration_bins" -> (q177_calibration_bins _))

  override val oracle: Map[String, String] = Map(
    "q266_cramers_v" -> cramersOracle,
    "q270_brier" -> brierOracle,
    "q275_chao1" -> chao1Oracle,
    "q280_oov_audit" -> oovOracle,
    "q283_cronbach_alpha" -> cronbachOracle,
    "q284_decision_stump" -> stumpOracle,
    "q257_mcnemar" -> mcnemarOracle,
    "q245_token_mi" -> q245Oracle,
    "q210_trimmed_stats" -> trimmedOracle,
    "q183_quality_fusion" -> q183Oracle,
    "q184_heaps_forecast" -> q184Oracle,
    "q185_threshold_advisor" -> q185Oracle,
    "q185b_threshold_apply" -> q185bOracle,
    "q187_signal_correlation" -> q187Oracle,
    "q190_mad_outliers" -> q190Oracle,
    "q198_dataset_card" -> q198Oracle,
    "q173_classifier_eval" -> q173Oracle,
    "q174_auc_exact" -> q174Oracle,
    "q175_chi2_terms" -> q175Oracle,
    "q176_lang_quality" -> q176Oracle,
    "q177_calibration_bins" -> q177Oracle)
}
