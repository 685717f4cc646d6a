package graft.rel

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frequent-itemset / association-rule mining over order baskets — the
  * Apriori shape (Agrawal & Srikant 1994) every retail-ish event store
  * eventually runs: distinct (order, part) baskets → frequent items →
  * frequent pairs (support-pruned) → rule strength. All association
  * arithmetic is exact integers: confidences are floor-permilles of
  * support ratios, lift is the single cross-multiplied floor-permille
  * (1000·sup_ab·N) div (sup_a·sup_b) — no float, so the gate is exact.
  *
  * Scale shape: the candidate-pair stream explodes per-basket
  * combinations (bounded by basket size², here ≤ 13² — at retail scale
  * the L1 support prune runs FIRST so the fan-out is frequent-items²
  * per basket, the published Apriori trick, and the pair aggregate gets
  * map-side combine); item supports are catalog-sized and broadcast.
  * The top-20 is a bounded heap. Support thresholds prune candidates
  * corpus-linearly — the reason Apriori survives at scale while
  * all-pairs doesn't.
  */
object Itemsets extends graft.QueryModule {

  private val MinSup = 3L

  def q224_frequent_itemsets(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val n = baskets.select(col("ok")).distinct().count()
    val items = baskets.groupBy(col("pk")).agg(count(lit(1)).as("sup"))
    val l1 = items.filter(col("sup") >= MinSup)
      .select(col("pk"), col("sup"))
    // frequent-item prune BEFORE the pair explode (the Apriori step)
    val fb = baskets.join(broadcast(l1.select(col("pk"))), Seq("pk"))
    val pairs = fb.as("a")
      .join(fb.as("b"), expr("a.ok = b.ok AND a.pk < b.pk"))
      .select(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= MinSup)
    pairs
      .join(broadcast(l1.select(col("pk").as("pa"), col("sup").as("sup_a"))),
        Seq("pa"))
      .join(broadcast(l1.select(col("pk").as("pb"), col("sup").as("sup_b"))),
        Seq("pb"))
      .select(col("pa"), col("pb"), col("sup_ab"), col("sup_a"),
        col("sup_b"),
        expr("(1000 * sup_ab) div sup_a").as("conf_ab_permille"),
        expr("(1000 * sup_ab) div sup_b").as("conf_ba_permille"),
        expr(s"(1000 * sup_ab * ${n}L) div (sup_a * sup_b)")
          .as("lift_permille"))
      .orderBy(col("lift_permille").desc, col("pa"), col("pb"))
      .limit(20)
  }

  private lazy val itemsetsOracle: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM b),
       |l1 AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS sup
       |  FROM b GROUP BY 1 HAVING COUNT(*) >= $MinSup),
       |fb AS (SELECT b.ok, b.pk FROM b JOIN l1 ON l1.pk = b.pk),
       |p AS (SELECT a.pk AS pa, c.pk AS pb,
       |    CAST(COUNT(*) AS BIGINT) AS sup_ab
       |  FROM fb a JOIN fb c ON a.ok = c.ok AND a.pk < c.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSup)
       |SELECT p.pa, p.pb, p.sup_ab, la.sup AS sup_a, lb.sup AS sup_b,
       |  (1000 * p.sup_ab) // la.sup AS conf_ab_permille,
       |  (1000 * p.sup_ab) // lb.sup AS conf_ba_permille,
       |  (1000 * p.sup_ab * (SELECT n FROM tot)) // (la.sup * lb.sup)
       |    AS lift_permille
       |FROM p JOIN l1 la ON la.pk = p.pa JOIN l1 lb ON lb.pk = p.pb
       |ORDER BY lift_permille DESC, p.pa, p.pb LIMIT 20""".stripMargin

  // ------------------------------------------------ q227 rank stability
  /** Catalog rank stability across time — exact Spearman rank
    * correlation (Spearman 1904) of per-part revenue between the early
    * and late half of the shipping horizon: the "did the catalog's
    * revenue ORDER shift?" drift check that complements magnitude drift
    * (q202/q203 watch distributions, this watches the ranking itself —
    * the thing a recommender or buyer actually consumes). Everything is
    * exact: per-row cents integerize once (the identical IEEE product
    * mirrored op-for-op, then one round), per-half ranks are
    * row_number over (revenue desc, part) — total order, tie-proof —
    * and ρ lifts to ρ_micro = 10⁶ − (6·10⁶·Σd²) div (n(n²−1)).
    *
    * Scale shape: two map-side-combined per-part aggregates, then
    * catalog-sized windows (parts, not rows). The ρ numerator 6·10⁶·Σd²
    * is bounded by 2·10⁶·n³ and passes 2⁶³ near 1.6·10⁴ ranked parts —
    * HIT at sf0.1 (the r15 bench caught the loud assert), so ρ computes
    * in DECIMAL(38,0)/HUGEINT outright; the quotient is ≤ 2·10⁶ and
    * lands back in a BIGINT. */
  def q227_rank_stability(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("us"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(100)).cast("long").as("cents"))
    val mid = li.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val halves = li.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("mid"), "early")
        .otherwise("late"))
      .groupBy(col("half"), col("pk")).agg(sum(col("cents")).as("rev"))
    val w = Window.partitionBy(col("half"))
      .orderBy(col("rev").desc, col("pk"))
    val ranked = halves.withColumn("rnk", row_number().over(w).cast("long"))
    val early = ranked.filter(col("half") === "early")
      .select(col("pk"), col("rnk").as("r_e"))
    val late = ranked.filter(col("half") === "late")
      .select(col("pk"), col("rnk").as("r_l"))
    val joined = early.join(late, Seq("pk"), "full_outer")
    val paired = joined.filter(col("r_e").isNotNull && col("r_l").isNotNull)
      // re-rank WITHIN the common set so Spearman sees a permutation
      .withColumn("re2", row_number()
        .over(Window.orderBy(col("r_e"))).cast("long"))
      .withColumn("rl2", row_number()
        .over(Window.orderBy(col("r_l"))).cast("long"))
      .withColumn("d", col("re2") - col("rl2"))
      .withColumn("mad", max(abs(col("d"))).over(Window.partitionBy()))
    paired
      .select(col("pk"), col("d"), col("mad"))
      .crossJoin(broadcast(
        joined.agg(
          sum(when(col("r_e").isNotNull && col("r_l").isNull, 1L)
            .otherwise(0L)).as("n_early_only"),
          sum(when(col("r_e").isNull && col("r_l").isNotNull, 1L)
            .otherwise(0L)).as("n_late_only"))))
      .groupBy(col("n_early_only"), col("n_late_only"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("d") * col("d")).as("sum_d2"),
        max(abs(col("d"))).as("max_abs_d"),
        min(when(abs(col("d")) === col("mad"), col("pk")))
          .as("pk_at_max"))
      .select(col("n_common"), col("n_early_only"), col("n_late_only"),
        col("sum_d2"), col("max_abs_d"), col("pk_at_max"),
        // the numerator 6e6·Σd² passes 2⁶³ near ~1.6e4 ranked parts
        // (hit at sf0.1), so ρ lives in DECIMAL(38,0) — the quotient is
        // bounded by 2·10⁶ and lands back in a BIGINT
        expr("1000000 - CAST((CAST(6000000 AS DECIMAL(38,0)) * sum_d2) " +
          "div CAST(n_common * (n_common * n_common - 1) " +
          "AS DECIMAL(38,0)) AS BIGINT)").as("rho_micro"))
  }

  private lazy val stabilityOracle: String =
    s"""WITH li AS (SELECT l_partkey AS pk, epoch_us(l_shipdate) AS us,
       |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
       |      AS BIGINT) AS cents FROM lineitem),
       |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM li),
       |halves AS (SELECT CASE WHEN us <= (SELECT mid FROM mid)
       |      THEN 'early' ELSE 'late' END AS half, pk,
       |    CAST(SUM(cents) AS BIGINT) AS rev
       |  FROM li GROUP BY 1, 2),
       |ranked AS (SELECT half, pk, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY half ORDER BY rev DESC, pk) AS BIGINT) AS rnk
       |  FROM halves),
       |e AS (SELECT pk, rnk AS r_e FROM ranked WHERE half = 'early'),
       |l AS (SELECT pk, rnk AS r_l FROM ranked WHERE half = 'late'),
       |j AS (SELECT COALESCE(e.pk, l.pk) AS pk, e.r_e, l.r_l
       |  FROM e FULL OUTER JOIN l ON e.pk = l.pk),
       |only_c AS (SELECT
       |    CAST(SUM(CASE WHEN r_e IS NOT NULL AND r_l IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_early_only,
       |    CAST(SUM(CASE WHEN r_e IS NULL AND r_l IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_late_only FROM j),
       |p AS (SELECT pk,
       |    CAST(ROW_NUMBER() OVER (ORDER BY r_e) AS BIGINT) AS re2,
       |    CAST(ROW_NUMBER() OVER (ORDER BY r_l) AS BIGINT) AS rl2
       |  FROM j WHERE r_e IS NOT NULL AND r_l IS NOT NULL),
       |d AS (SELECT pk, re2 - rl2 AS d FROM p),
       |mx AS (SELECT MAX(abs(d)) AS mad FROM d),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
       |    CAST(SUM(d * d) AS BIGINT) AS sum_d2,
       |    CAST(MAX(abs(d)) AS BIGINT) AS max_abs_d,
       |    MIN(CASE WHEN abs(d) = (SELECT mad FROM mx) THEN pk END)
       |      AS pk_at_max
       |  FROM d)
       |SELECT ag.n_common, oc.n_early_only, oc.n_late_only, ag.sum_d2,
       |  ag.max_abs_d, ag.pk_at_max,
       |  1000000 - CAST((CAST(6000000 AS HUGEINT) * ag.sum_d2)
       |    // (ag.n_common * (ag.n_common * ag.n_common - 1)) AS BIGINT)
       |    AS rho_micro
       |FROM ag CROSS JOIN only_c oc""".stripMargin

  // ------------------------------------------------------------- registry
  // --------------------------------------------- q244 Kendall tau
  /** Pair budget: Kendall is pair-quadratic, so the comparison runs
    * over the TOP-B common parts by early-half revenue — B is a
    * compile-time budget (the q191 budget-not-threshold posture), so
    * the pair join is ≤ B²/2 rows at ANY corpus scale and the 4·10⁶·D
    * product can never leave BIGINT. */
  private val TauBudget = 500

  /** q244: Kendall rank correlation between the shipping-horizon halves
    * (Kendall 1938) — the PAIRWISE companion of q227's Spearman: ρ
    * reads squared rank displacement, τ reads the fraction of
    * DISCORDANT pairs, the quantity that answers "how often would two
    * catalog entries swap order" — the ranking-stability phrasing a
    * recommender eval wants. Over the top-[[TauBudget]] common parts
    * (by early revenue), both half-ranks re-rank to permutations
    * (q227's move — NO ties survive, so τ-a = τ-b and the tie terms
    * vanish exactly), concordant/discordant counts come from one
    * bounded pair self-join, and
    * τ_micro = 10⁶ − (4·10⁶·D) div (B·(B−1)) is exact BIGINT
    * arithmetic throughout.
    *
    * Scale shape: ranks via the q227 window machinery (half-keyed),
    * the subset re-rank is B rows, the pair join ≤ B²/2 — all
    * broadcast-class regardless of corpus size. */
  def q244_kendall_tau(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("us"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(100)).cast("long").as("cents"))
    val mid = li.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val halves = li.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("mid"), "early")
        .otherwise("late"))
      .groupBy(col("half"), col("pk")).agg(sum(col("cents")).as("rev"))
    val early = halves.filter(col("half") === "early")
      .select(col("pk"), col("rev").as("rev_e"))
    val late = halves.filter(col("half") === "late")
      .select(col("pk"), col("rev").as("rev_l"))
    val top = early.join(late, Seq("pk"))
      .orderBy(col("rev_e").desc, col("pk")).limit(TauBudget)
    val perm = top
      .withColumn("re", row_number()
        .over(Window.orderBy(col("rev_e").desc, col("pk"))).cast("long"))
      .withColumn("rl", row_number()
        .over(Window.orderBy(col("rev_l").desc, col("pk"))).cast("long"))
      .select(col("pk"), col("re"), col("rl"))
    val pairs = perm.alias("a").join(broadcast(perm.alias("b")),
        col("a.re") < col("b.re"))
      .select((col("a.rl") > col("b.rl")).as("disc"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("disc"), 1L).otherwise(0L)).as("discordant"))
      .select(lit(TauBudget.toLong).as("b_budget"), col("n_pairs"),
        (col("n_pairs") - col("discordant")).as("concordant"),
        col("discordant"),
        // τ = (C − D)/(C + D) over the ACTUAL pair count, so a corpus
        // with fewer than B common parts stays correct; both engines
        // truncate the (possibly negative) quotient identically
        expr("((n_pairs - 2 * discordant) * 1000000) div " +
          "greatest(n_pairs, 1L)").as("tau_micro"))
  }

  private lazy val kendallOracle: String =
    s"""WITH li AS (SELECT l_partkey AS pk, epoch_us(l_shipdate) AS us,
       |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
       |      AS BIGINT) AS cents FROM lineitem),
       |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM li),
       |halves AS (SELECT CASE WHEN us <= (SELECT mid FROM mid)
       |      THEN 'early' ELSE 'late' END AS half, pk,
       |    CAST(SUM(cents) AS BIGINT) AS rev
       |  FROM li GROUP BY 1, 2),
       |e AS (SELECT pk, rev AS rev_e FROM halves WHERE half = 'early'),
       |l AS (SELECT pk, rev AS rev_l FROM halves WHERE half = 'late'),
       |top AS (SELECT e.pk, rev_e, rev_l FROM e JOIN l USING (pk)
       |  ORDER BY rev_e DESC, pk LIMIT $TauBudget),
       |perm AS (SELECT pk,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rev_e DESC, pk) AS BIGINT)
       |      AS re,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rev_l DESC, pk) AS BIGINT)
       |      AS rl
       |  FROM top),
       |pairs AS (SELECT a.rl > b.rl AS disc
       |  FROM perm a JOIN perm b ON a.re < b.re),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(CASE WHEN disc THEN 1 ELSE 0 END) AS BIGINT)
       |      AS discordant FROM pairs)
       |SELECT CAST($TauBudget AS BIGINT) AS b_budget, n_pairs,
       |  n_pairs - discordant AS concordant, discordant,
       |  ((n_pairs - 2 * discordant) * 1000000) // GREATEST(n_pairs, 1)
       |    AS tau_micro
       |FROM ag""".stripMargin

  // ------------------------------------------ q247 sequential patterns
  /** Max gap between consecutive pattern steps (1 day in micros):
    * UNWINDOWED user-scope support measured DEGENERATE (every 2/3-step
    * pattern present for 150/150 users — months-long streams contain
    * everything), while 1-hour gaps saturate the other way (max 5/150).
    * The day gap reads 39-67/150 at sf0.01 — differentiated. */
  private val GspGapUs = 86400000000L
  /** Level-prune floor: support·100 ≥ 20·n_users (GSP's anti-monotone
    * prune — a pattern's support cannot exceed its prefix's). */
  private val GspFloorPct = 20L

  /** q247: gap-constrained sequential pattern mining (GSP — Srikant &
    * Agrawal, EDBT 1996, the level-wise Apriori of SEQUENCES with the
    * paper's max-gap constraint; q224's ordered sibling): a user
    * supports pattern a→b→c iff the first a is followed by a b within
    * [[GspGapUs]], and that b by a c within the gap — the first-
    * occurrence chain (earliest-completion semantics, q133's funnel
    * arithmetic generalized over the whole |types|^k candidate grid).
    * Candidates prune level-wise at [[GspFloorPct]] % support before
    * the next extension — the anti-monotonicity that bounds fan-out.
    *
    * Scale shape: each level is one events-side join keyed on user
    * against the previous level's ≤ \|types\|^(k-1) survivors, with
    * map-side min-aggregates; amplification is bounded by \|types\|²
    * per event and the output by \|types\|³ rows. Support permilles
    * are floor divisions of exact counts. */
  def q247_sequential_patterns(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id").as("u"), col("event_type").as("ty"),
        col("ts_us").as("t"))
    val tot = ev.agg(countDistinct(col("u")).as("nu"))
    val u1 = ev.groupBy(col("u"), col("ty").as("a"))
      .agg(min(col("t")).as("t1"))
    val f1 = u1.groupBy(col("a")).agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= lit(GspFloorPct) * col("nu"))
      .select(col("a"))
    val u2 = ev
      .join(u1.join(broadcast(f1), Seq("a")), Seq("u"))
      .filter(col("t") > col("t1") && col("t") <= col("t1") + GspGapUs)
      .groupBy(col("u"), col("a"), col("ty").as("b"))
      .agg(min(col("t")).as("t2"))
    val s2 = u2.groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    val f2 = s2.crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= lit(GspFloorPct) * col("nu"))
    val u3 = ev
      .join(u2.join(broadcast(f2.select(col("a"), col("b"))),
        Seq("a", "b")), Seq("u"))
      .filter(col("t") > col("t2") && col("t") <= col("t2") + GspGapUs)
      .groupBy(col("u"), col("a"), col("b"), col("ty").as("c"))
      .agg(min(col("t")).as("t3"))
    val s3 = u3.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("sup"))
    val f3 = s3.crossJoin(broadcast(tot))
      .filter(col("sup") * 100 >= lit(GspFloorPct) * col("nu"))
    val out2 = f2.select(lit(2L).as("level"),
      concat_ws(">", col("a"), col("b")).as("pattern"),
      col("sup").as("n_users"), col("nu"))
    val out3 = f3.select(lit(3L).as("level"),
      concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
      col("sup").as("n_users"), col("nu"))
    out2.unionByName(out3)
      .select(col("level"), col("pattern"), col("n_users"),
        expr("(1000 * n_users) div nu").as("support_permille"))
      .orderBy(col("level"), col("n_users").desc, col("pattern"))
  }

  private lazy val gspOracle: String =
    s"""WITH ev AS (SELECT user_id AS u, event_type AS ty,
       |    epoch_us(ts) AS t FROM events),
       |tot AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS nu FROM ev),
       |u1 AS (SELECT u, ty AS a, MIN(t) AS t1 FROM ev GROUP BY 1, 2),
       |f1 AS (SELECT a FROM (SELECT a, CAST(COUNT(*) AS BIGINT) AS sup
       |    FROM u1 GROUP BY a) s1 CROSS JOIN tot
       |  WHERE sup * 100 >= $GspFloorPct * nu),
       |u2 AS (SELECT e.u, u1.a, e.ty AS b, MIN(e.t) AS t2
       |  FROM ev e JOIN u1 ON e.u = u1.u
       |  WHERE u1.a IN (SELECT a FROM f1)
       |    AND e.t > u1.t1 AND e.t <= u1.t1 + $GspGapUs
       |  GROUP BY 1, 2, 3),
       |s2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS sup FROM u2
       |  GROUP BY 1, 2),
       |f2 AS (SELECT a, b, sup FROM s2 CROSS JOIN tot
       |  WHERE sup * 100 >= $GspFloorPct * nu),
       |u3 AS (SELECT e.u, u2.a, u2.b, e.ty AS c, MIN(e.t) AS t3
       |  FROM ev e JOIN u2 ON e.u = u2.u
       |  JOIN f2 ON f2.a = u2.a AND f2.b = u2.b
       |  WHERE e.t > u2.t2 AND e.t <= u2.t2 + $GspGapUs
       |  GROUP BY 1, 2, 3, 4),
       |s3 AS (SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS sup FROM u3
       |  GROUP BY 1, 2, 3),
       |f3 AS (SELECT a, b, c, sup FROM s3 CROSS JOIN tot
       |  WHERE sup * 100 >= $GspFloorPct * nu),
       |o AS (
       |  SELECT 2 AS level, a || '>' || b AS pattern, sup AS n_users
       |  FROM f2
       |  UNION ALL
       |  SELECT 3, a || '>' || b || '>' || c, sup FROM f3)
       |SELECT CAST(level AS BIGINT) AS level, pattern, n_users,
       |  (1000 * n_users) // (SELECT nu FROM tot) AS support_permille
       |FROM o ORDER BY level, n_users DESC, pattern""".stripMargin

  // --------------------------------------- q272 HHI concentration
  /** q272: the Herfindahl-Hirschman concentration index (Herfindahl
    * 1950 / Hirschman 1945; the antitrust-standard market-structure
    * number) of supplier revenue within each nation — the
    * market-structure companion of the inequality pair (q196 Gini,
    * q263 Theil): Gini/Theil read the SHAPE of the distribution, HHI
    * reads how few players hold it, and its reciprocal is the
    * "effective number of competitors" a sourcing-risk audit wants.
    *
    * Exactness: per-supplier revenue integerizes once to cents (the
    * q227 protocol); HHI = Σ(r_i/R)² lifts to ONE division of exact
    * sums — hhi_micro = (10⁶·Σr²) div R² in DECIMAL(38,0) (Σr² is
    * corpus²-shaped; the decimal carries it to ~10¹⁶-cent nations) —
    * no per-supplier quantization loss; top-share permille and
    * effective competitors (10³·R² div Σr²) ride the same sums.
    *
    * Scale shape: one lineitem rollup keyed on suppkey, a broadcast
    * dimension join, one nation rollup — nation table is 25 rows. */
  def q272_hhi_concentration(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(100)).cast("long").as("cents"))
      .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("r"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))),
        Seq("l_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        Seq("s_nationkey"))
    sup.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("r")).as("rev"),
        sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("r2"),
        max(col("r")).as("r_top"))
      .select(col("n_name"), col("n_suppliers"),
        col("rev").as("revenue_cents"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * r2) div " +
          "(CAST(rev AS DECIMAL(38,0)) * rev) AS BIGINT)")
          .as("hhi_micro"),
        expr("(1000 * r_top) div rev").as("top_share_permille"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * rev * rev) div " +
          "greatest(r2, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
          .as("eff_competitors_milli"))
      .orderBy(col("n_name"))
  }

  private lazy val hhiOracle: String =
    s"""WITH sup AS (SELECT l_suppkey,
       |    CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount)
       |      * 100) AS BIGINT)) AS BIGINT) AS r
       |  FROM lineitem GROUP BY 1),
       |j AS (SELECT n.n_name, sup.r
       |  FROM sup JOIN supplier s ON s.s_suppkey = sup.l_suppkey
       |  JOIN nation n ON n.n_nationkey = s.s_nationkey),
       |ag AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       |    CAST(SUM(r) AS BIGINT) AS rev,
       |    SUM(CAST(r AS HUGEINT) * r) AS r2,
       |    CAST(MAX(r) AS BIGINT) AS r_top FROM j GROUP BY 1)
       |SELECT n_name, n_suppliers, rev AS revenue_cents,
       |  CAST((1000000 * r2) // (CAST(rev AS HUGEINT) * rev) AS BIGINT)
       |    AS hhi_micro,
       |  (1000 * r_top) // rev AS top_share_permille,
       |  CAST((CAST(1000 AS HUGEINT) * rev * rev) // GREATEST(r2, 1)
       |    AS BIGINT) AS eff_competitors_milli
       |FROM ag ORDER BY n_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q272_hhi_concentration" -> (q272_hhi_concentration _),
    "q224_frequent_itemsets" -> (q224_frequent_itemsets _),
    "q227_rank_stability" -> (q227_rank_stability _),
    "q244_kendall_tau" -> (q244_kendall_tau _),
    "q247_sequential_patterns" -> (q247_sequential_patterns _))

  override val oracle: Map[String, String] = Map(
    "q272_hhi_concentration" -> hhiOracle,
    "q224_frequent_itemsets" -> itemsetsOracle,
    "q227_rank_stability" -> stabilityOracle,
    "q244_kendall_tau" -> kendallOracle,
    "q247_sequential_patterns" -> gspOracle)
}
