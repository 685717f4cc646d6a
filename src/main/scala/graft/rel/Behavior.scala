package graft.rel

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Behavioral analytics over the event stream — the funnel/cohort pair
  * every product-analytics engine ships (the reference's pandas surface
  * stops at flat value_counts; these are the event-sequence operators a
  * warehouse adds on top). Both are integer-exact end to end: timestamps
  * stay epoch-microsecond longs (`Tables.events` ts_us), weeks/days are
  * integer divisions of the epoch, so the gates hash-match with no
  * timezone or date-arithmetic knife-edges.
  *
  * Scale shape: every stage keys on `user_id` — the per-step aggregates
  * and their join-backs co-partition on the same key, so after the first
  * shuffle the funnel chain is exchange-reusable; the cohort matrix is
  * two user-keyed aggregates and one bounded rollup. Nothing is
  * corpus-global except the final tiny result frames.
  */
object Behavior extends graft.QueryModule {

  private val WeekUs = 7L * 86400L * 1000000L
  private val DayUs = 86400L * 1000000L
  /** Conversion must complete within 7 days of the first view. */
  private val WindowUs = 7L * 86400L * 1000000L

  // -------------------------------------------------- q133: ordered funnel
  /** Ordered 3-step funnel view → click → purchase: per user, the first
    * view, the first click AT OR AFTER that view, and the first purchase
    * at or after that click — all within a 7-day window of the view.
    * This is the sequence-constrained funnel (a click before the first
    * view does not count), the semantics `windowFunnel`-style operators
    * implement; here it is the min-conditional chain: three user-keyed
    * aggregates, each join-back co-partitioned on user_id. Reported per
    * first-view week so the gate has structure: users entering, users
    * clicking, users converting, and the exact summed view→purchase
    * latency of converters. */
  def q133_funnel(s: SparkSession, dir: String): DataFrame =
    funnelFrame(Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type")))

  /** The funnel chain over any (user_id, ts_us, event_type) frame —
    * exposed for BehaviorSpec's adversarial orderings. */
  private[graft] def funnelFrame(e: DataFrame): DataFrame = {
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts_us") >= col("t1") &&
        col("ts_us") <= col("t1") + lit(WindowUs))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .join(s1, Seq("user_id"))
      .filter(col("ts_us") >= col("t2") &&
        col("ts_us") <= col("t1") + lit(WindowUs))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .groupBy(expr(s"t1 div ${WeekUs}L").as("week_idx"))
      .agg(count(lit(1)).as("n_entered"),
        count(col("t2")).as("n_clicked"),
        count(col("t3")).as("n_converted"),
        coalesce(sum(col("t3") - col("t1")), lit(0L)).cast("long")
          .as("sum_conv_us"))
      .orderBy(col("week_idx"))
  }

  private lazy val funnelOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events),
       |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
       |  WHERE event_type = 'view' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e
       |  JOIN s1 USING (user_id)
       |  WHERE event_type = 'click' AND ts_us >= t1
       |    AND ts_us <= t1 + ${WindowUs}
       |  GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e
       |  JOIN s2 USING (user_id) JOIN s1 USING (user_id)
       |  WHERE event_type = 'purchase' AND ts_us >= t2
       |    AND ts_us <= t1 + ${WindowUs}
       |  GROUP BY e.user_id)
       |SELECT t1 // ${WeekUs} AS week_idx,
       |  CAST(COUNT(*) AS BIGINT) AS n_entered,
       |  CAST(COUNT(t2) AS BIGINT) AS n_clicked,
       |  CAST(COUNT(t3) AS BIGINT) AS n_converted,
       |  CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) AS sum_conv_us
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |GROUP BY week_idx ORDER BY week_idx""".stripMargin

  // --------------------------------------------- q134: cohort retention
  /** Cohort retention matrix: users cohorted by their first-activity day,
    * cells count distinct users active `day_offset` days later (offsets
    * 0-13). The standard warehouse recipe: one user-keyed min, one
    * distinct (user, day) frame, a co-partitioned join, and a bounded
    * rollup — the matrix is O(days × offsets) regardless of event
    * volume. */
  def q134_cohort_retention(s: SparkSession, dir: String): DataFrame =
    retentionFrame(Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us div ${DayUs}L").as("day")))

  /** The retention rollup over any (user_id, day) frame — exposed for
    * BehaviorSpec. */
  private[graft] def retentionFrame(e: DataFrame): DataFrame = {
    val cohort = e.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
    val active = e.distinct()
    active.join(cohort, Seq("user_id"))
      .withColumn("day_offset", col("day") - col("c_day"))
      .filter(col("day_offset") <= 13)
      .groupBy(col("c_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users")) // (user, day) is distinct already
      .orderBy(col("c_day"), col("day_offset"))
  }

  private lazy val cohortOracle: String =
    s"""WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // ${DayUs} AS day
       |  FROM events),
       |cohort AS (SELECT user_id, MIN(day) AS c_day FROM e
       |  GROUP BY user_id)
       |SELECT c_day, day - c_day AS day_offset,
       |  CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM e JOIN cohort USING (user_id)
       |WHERE day - c_day <= 13
       |GROUP BY c_day, day_offset ORDER BY c_day, day_offset""".stripMargin

  // ------------------------------------------------------------- registry
  // ------------------------------------- q193: Markov transition matrix
  /** First-order Markov transition matrix over per-user event sequences —
    * the behavior-modeling rollup (and the n-gram-LM analog for event
    * streams): per user, consecutive event pairs under the total
    * (ts_us, event_id) order; per (src, dst), the transition count and
    * row-conditional probability in permille (floor division of exact
    * counts). Output is |event_type|² rows — catalog-sized. One lag
    * window partitioned BY USER (distributed; no global window), one
    * rollup, one broadcast of the |types|-row totals. */
  def q193_markov_transitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val tr = Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("src")).agg(sum(col("n")).as("n_src"))
    tr.join(broadcast(tot), "src")
      .selectExpr("src", "dst", "n", "(1000 * n) div n_src AS p_permille")
      .orderBy(col("src"), col("dst"))
  }

  private lazy val markovOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    event_type FROM events),
       |lagged AS (SELECT event_type AS dst,
       |    LAG(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS src
       |  FROM e),
       |tr AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM lagged WHERE src IS NOT NULL GROUP BY src, dst),
       |tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src
       |  FROM tr GROUP BY src)
       |SELECT src, dst, n, (1000 * n) // n_src AS p_permille
       |FROM tr JOIN tot USING (src) ORDER BY src, dst""".stripMargin

  // --------------------------------------------- q194: RFM segmentation
  /** RFM customer segmentation (Hughes 1994's recency/frequency/monetary
    * quintiles — the standard behavioral clustering a wrangler feeds to
    * campaign/labeling tools): per customer, days since last order
    * (against the corpus max day), order count, and exact monetary total
    * (summed as DECIMAL(18,2) — the money discipline — then cast), each
    * scored 1-5 against its own exact quintile cuts; output is the
    * segment-count cube (≤125 rows). Higher r_score = staler. Both
    * engines derive identical interpolated cuts (the q95
    * percentile/quantile_cont parity) and compare the identically-derived
    * values, so bucketing is knife-edge-free. Per-customer aggs are
    * customer-cardinality; the cuts are one 1-row broadcast; at 100 TB
    * the percentile swaps to approx_percentile (q41→q41b note). */
  def q194_rfm_segments(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .selectExpr("o_custkey",
        // NTZ micros == UTC micros (every graft entry point runs UTC)
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS day",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price")
      .groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
        sum(col("price")).cast("double").as("m"))
    val maxDay = perCust.agg(max(col("last_day")).as("max_day"))
    val rfm = perCust.crossJoin(broadcast(maxDay))
      .selectExpr("o_custkey", "max_day - last_day AS r", "f", "m")
    val cuts = rfm.agg(
      expr("percentile(r, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(f, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(m, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    rfm.crossJoin(broadcast(cuts))
      .selectExpr(
        "1 + size(filter(rc, c -> r > c)) AS r_score",
        "1 + size(filter(fc, c -> f > c)) AS f_score",
        "1 + size(filter(mc, c -> m > c)) AS m_score")
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  private lazy val rfmOracle: String =
    s"""WITH pc AS (SELECT o_custkey,
       |    MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
       |    CAST(COUNT(*) AS BIGINT) AS f,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
       |  FROM orders GROUP BY o_custkey),
       |md AS (SELECT MAX(last_day) AS max_day FROM pc),
       |rfm AS (SELECT o_custkey, max_day - last_day AS r, f, m
       |  FROM pc CROSS JOIN md),
       |cuts AS (SELECT
       |    quantile_cont(r, [0.2, 0.4, 0.6, 0.8]) AS rc,
       |    quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS fc,
       |    quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS mc
       |  FROM rfm),
       |scored AS (SELECT
       |    1 + len(list_filter(rc, c -> r > c)) AS r_score,
       |    1 + len(list_filter(fc, c -> f > c)) AS f_score,
       |    1 + len(list_filter(mc, c -> m > c)) AS m_score
       |  FROM rfm CROSS JOIN cuts)
       |SELECT CAST(r_score AS INTEGER) AS r_score,
       |  CAST(f_score AS INTEGER) AS f_score,
       |  CAST(m_score AS INTEGER) AS m_score,
       |  CAST(COUNT(*) AS BIGINT) AS n_customers
       |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // -------------------------------------------- q195: session top paths
  /** Top event paths per gap-session (q16's 30-minute lag semantics with
    * the (ts_us, event_id) total order): each session reduces to its
    * first-5-event type string, and the corpus reports the 10 most
    * common paths — the "how do users actually move" rollup feeding
    * sequence-model features (q193's matrix is the order-1 summary;
    * these are the raw order-k prefixes). Per-user windows distribute;
    * the path vocabulary is ≤ |types|⁵ — catalog-sized; top-10 is a
    * bounded heap. */
  def q195_session_paths(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("new_s",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
        col("event_type")))).as("evs"))
      .selectExpr(
        "array_join(transform(slice(evs, 1, 5), x -> x.event_type), '>')" +
          " AS path")
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
      .orderBy(col("path"))
  }

  private lazy val pathsOracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    event_type FROM events),
       |lg AS (SELECT *, CASE WHEN LAG(ts_us, 1) OVER w IS NULL THEN 1
       |      WHEN ts_us - LAG(ts_us, 1) OVER w > ${30L * 60 * 1000 * 1000}
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |ss AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
       |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS session_id
       |  FROM lg),
       |paths AS (SELECT array_to_string(
       |    (list(event_type ORDER BY ts_us, event_id))[1:5], '>') AS path
       |  FROM ss GROUP BY user_id, session_id),
       |top AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
       |  FROM paths GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10)
       |SELECT path, n_sessions FROM top ORDER BY path""".stripMargin

  // ------------------------------------- q196: revenue concentration
  /** Lorenz/Gini concentration of customer revenue — "how top-heavy is
    * the order book" (and, reused over per-source token mass, "how
    * top-heavy is the corpus"): exact integer Gini over CENTS (money ×
    * 100 — DECIMAL(18,2) is closed under it), using the value-group
    * identity Σ_group (2i−n−1)x = x·cnt·(2·cum − cnt − n) so no per-row
    * rank is ever materialized — the cumulative count comes from the
    * bucketed two-phase prefix sum over DISTINCT revenue values. Plus
    * the top-decile share via the q185 order-statistic machinery
    * (ties included, reported as n_top). gini_permille =
    * 1000·Σ/(n·total), floor-divided — headroom to ~10⁹ customers ×
    * 10¹⁶ total cents before the DECIMAL upgrade documented in
    * SCALING.md. */
  def q196_revenue_concentration(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .selectExpr("o_custkey",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price")
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(SUM(price) * 100 AS BIGINT)").as("cents"))
    val g = cust.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
    val asc = graft.text.Budget.bucketedPrefixSum(g,
      expr("cents div 10000000"), Seq(col("cents")), col("cnt"))
    // floor(1000*num/den) by three-digit long division: num <= den can
    // reach ~3.4e16 at sf0.1 (and beyond at scale), so 1000*num overflows
    // Long under ANSI — but 10*x never does for x < den, and the digit
    // recurrence is exact. (The DuckDB twin runs the plain form in
    // HUGEINT — identical floor, no mirroring needed for integers.)
    val digitDiv =
      "(((10 * num) div den) * 100 + " +
        "((10 * ((10 * num) % den)) div den) * 10 + " +
        "(10 * ((10 * ((10 * num) % den)) % den)) div den)"
    val gini = asc.crossJoin(broadcast(tot))
      .selectExpr("cents * cnt * (2 * cum - cnt - n) AS contrib",
        "n", "total")
      .groupBy(col("n"), col("total"))
      .agg(sum(col("contrib")).as("num"))
      .selectExpr("n AS n_customers", "total AS total_cents",
        "num", "n * total AS den")
      .selectExpr("n_customers", "total_cents",
        s"$digitDiv AS gini_permille")
    val desc = graft.text.Budget.bucketedPrefixSum(
      g.join(broadcast(tot.select(col("n"))), expr("true")),
      expr("-(cents div 10000000)"), Seq(col("cents").desc), col("cnt"))
    val thr = desc.filter(col("cum") >= expr("greatest(n div 10, 1L)"))
      .agg(max(col("cents")).as("thr_cents"))
    val top = cust.crossJoin(broadcast(thr))
      .filter(col("cents") >= col("thr_cents"))
      .agg(count(lit(1)).as("n_top"), sum(col("cents")).as("top_cents"))
    gini.crossJoin(broadcast(thr)).crossJoin(broadcast(top))
      .selectExpr("n_customers", "total_cents", "gini_permille",
        "thr_cents", "n_top",
        "(1000 * top_cents) div total_cents AS top_share_permille")
  }

  private lazy val giniOracle: String =
    s"""WITH cust AS (SELECT o_custkey,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY o_custkey),
       |g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM cust GROUP BY cents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(cents) AS BIGINT) AS total FROM cust),
       |asc_ AS (SELECT cents, cnt, CAST(SUM(cnt) OVER (ORDER BY cents
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM g),
       |gini AS (SELECT n, total,
       |    SUM(cents * cnt * (2 * cum - cnt - n)) AS num
       |  FROM asc_ CROSS JOIN tot GROUP BY n, total),
       |dsc AS (SELECT cents, CAST(SUM(cnt) OVER (ORDER BY cents DESC
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM g),
       |thr AS (SELECT MAX(cents) AS thr_cents FROM dsc CROSS JOIN tot
       |  WHERE cum >= GREATEST(n // 10, 1)),
       |top AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_top,
       |    CAST(SUM(cents) AS BIGINT) AS top_cents
       |  FROM cust CROSS JOIN thr WHERE cents >= thr_cents)
       |SELECT n AS n_customers, total AS total_cents,
       |  CAST((1000 * num) // (CAST(n AS HUGEINT) * total) AS BIGINT)
       |    AS gini_permille,
       |  thr_cents, n_top,
       |  (1000 * top_cents) // total AS top_share_permille
       |FROM gini CROSS JOIN thr CROSS JOIN top""".stripMargin

  // ------------------------------------------------ q209 traffic profile
  /** Day-of-week × hour traffic heat profile (q209) — the seasonality
    * surface capacity planning and anomaly baselining read first (the
    * input to any "is this Tuesday 3am spike real?" question; the
    * calendar-decomposition step of classical STL profiling). Calendar
    * math runs in PURE epoch arithmetic — dow = (days since epoch + 4)
    * mod 7 with 1970-01-01 anchored Thursday, hour = in-day micros div
    * 3600·10⁶ — never a calendar API, so both engines agree by
    * construction (no timezone/week-convention seam; Spark and DuckDB
    * disagree on dayofweek numbering). Exact integer counts, permille
    * shares, a deterministic peak flag, and the weekend mass replicated
    * per row.
    *
    * Scale shape: one map-side extraction + one ≤168-group aggregate;
    * the profile algebra is catalog math on those 168 rows. */
  def q209_traffic_profile(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(expr("(ts_us div 86400000000L + 4) % 7").as("dow"),
        expr("(ts_us % 86400000000L) div 3600000000L").as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = broadcast(cells.agg(sum(col("n_events")).as("total_events"),
      max(col("n_events")).as("max_cell"),
      sum(when(col("dow") === 0L || col("dow") === 6L, col("n_events"))
        .otherwise(0L)).as("weekend_events")))
    cells.crossJoin(tot)
      .select(col("dow"), col("hour"), col("n_events"),
        expr("(1000 * n_events) div total_events").as("share_permille"),
        (col("n_events") === col("max_cell")).as("is_peak"),
        expr("(1000 * weekend_events) div total_events")
          .as("weekend_permille"),
        col("total_events"))
      .orderBy(col("dow"), col("hour"))
  }

  private lazy val trafficOracle: String =
    s"""WITH cells AS (SELECT
       |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
       |    (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
       |    CAST(MAX(n_events) AS BIGINT) AS max_cell,
       |    CAST(SUM(CASE WHEN dow IN (0, 6) THEN n_events ELSE 0 END)
       |      AS BIGINT) AS weekend_events
       |  FROM cells)
       |SELECT dow, hour, n_events,
       |  (1000 * n_events) // total_events AS share_permille,
       |  n_events = max_cell AS is_peak,
       |  (1000 * weekend_events) // total_events AS weekend_permille,
       |  total_events
       |FROM cells CROSS JOIN tot ORDER BY dow, hour""".stripMargin

  // ------------------------------------------------ q214 CUSUM changepoint
  /** Mean-shift changepoint detection over the daily event series — the
    * Page/Taylor CUSUM statistic a pipeline monitor runs to answer "did
    * ingest volume shift, and WHEN?" (Page 1954; Taylor's cumulative-sum
    * changepoint analysis — the bootstrap significance pass is out of
    * scope, the argmax location and normalized magnitude are the data
    * surface). For day prefix sums S_i over a contiguous day grid
    * (missing days count 0) the statistic at i is |n·S_i − i·S_n| — the
    * exact BIGINT cross-multiplication of |S_i/S_n − i/n| (the q202 KS
    * discipline applied to the time axis); the argmax day is the
    * changepoint estimate and left/right milli-rates describe the shift.
    *
    * Scale shape: one map-side day extraction + day-cardinality
    * aggregate; the prefix sums and argmax are catalog math over the
    * day grid (≤ tens of thousands of rows at any horizon). Cross-
    * products n·S reach BIGINT limits only past ~10⁵ days × 10¹³
    * events — the loud assert names the DECIMAL(38,0) swap. */
  def q214_cusum_changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = filled
      .withColumn("i", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .withColumn("s_i", sum(col("c")).over(wCum))
    val tot = pre.agg(max(col("i")).as("n_days"), max(col("s_i")).as("s_n"))
    val scored = pre.crossJoin(broadcast(tot))
      .filter(col("i") < col("n_days")) // the last point is identically 0
      .filter(coalesce(assert_true(
        expr(s"s_i <= (${Long.MaxValue}L div greatest(n_days, 1L)) " +
          s"and i <= (${Long.MaxValue}L div greatest(s_n, 1L))"),
        lit("CUSUM cross-product would overflow BIGINT: swap to " +
          "DECIMAL(38,0) at this horizon")), lit(true)))
      .withColumn("stat",
        abs(col("n_days") * col("s_i") - col("i") * col("s_n")))
    val mx = scored.withColumn("m",
      max(col("stat")).over(Window.partitionBy(lit(1))))
    mx.filter(col("stat") === col("m"))
      .groupBy(col("n_days"), col("s_n"))
      .agg(min(col("day")).as("day_at_max"), max(col("stat")).as("d_num"),
        min_by(col("i"), col("day")).as("i_at"),
        min_by(col("s_i"), col("day")).as("s_at"))
      .select(col("n_days"), col("s_n").as("n_events"), col("day_at_max"),
        col("d_num"),
        // the stat cross-products are asserted ≤ 2^63 above, but
        // 1000·d_num / 1000·s_at can still wrap BIGINT inside that
        // envelope — the ratios live in DECIMAL(38,0) (Spark's `div`
        // on decimals yields BIGINT, bit-identical to the oracle)
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * d_num) div " +
          "(CAST(n_days AS DECIMAL(38,0)) * s_n) AS BIGINT)")
          .as("cusum_permille"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * s_at) div i_at " +
          "AS BIGINT)").as("left_rate_milli"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * (s_n - s_at)) div " +
          "(n_days - i_at) AS BIGINT)").as("right_rate_milli"))
  }

  private lazy val cusumOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bounds),
       |filled AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d ON d.day = g.day),
       |pre AS (SELECT day, c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
       |    CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS s_i FROM filled),
       |tot AS (SELECT MAX(i) AS n_days, MAX(s_i) AS s_n FROM pre),
       |scored AS (SELECT day, i, s_i, n_days, s_n,
       |    abs(n_days * s_i - i * s_n) AS stat
       |  FROM pre CROSS JOIN tot WHERE i < n_days),
       |mx AS (SELECT *, MAX(stat) OVER () AS m FROM scored)
       |SELECT MAX(n_days) AS n_days, MAX(s_n) AS n_events,
       |  MIN(day) AS day_at_max, MAX(stat) AS d_num,
       |  (1000 * MAX(stat)) // (MAX(n_days) * MAX(s_n)) AS cusum_permille,
       |  (1000 * MIN_BY(s_i, day)) // MIN_BY(i, day) AS left_rate_milli,
       |  (1000 * (MAX(s_n) - MIN_BY(s_i, day)))
       |    // (MAX(n_days) - MIN_BY(i, day)) AS right_rate_milli
       |FROM mx WHERE stat = m""".stripMargin

  // --------------------------------------------- q215 revenue attribution
  /** Multi-touch revenue attribution — the marketing-analytics shape of
    * the credit-assignment join: every purchase event's cents are split
    * LINEARLY across the user's distinct preceding touch events (7-day
    * lookback, non-purchase types), with the integer remainder assigned
    * to the LAST touch (closest to conversion) so attributed mass
    * conserves EXACTLY — Σ attributed = Σ converted, gated as integers
    * (Shapley/position-based variants change only the per-touch weight
    * arithmetic, not the join).
    *
    * Scale shape: a per-user range join (purchases × touches co-
    * partitioned on user_id, per-user fan-out bounded by activity);
    * the rollup is |event_types|-sized. Money integerizes once as
    * round(100·value) cents — both engines compute the identical BIGINT.
    */
  def q215_revenue_attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"),
        round(col("value") * lit(100)).cast("long").as("cents"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("touch_type"), col("ts_us").as("t_ts"))
    val lookback = 7L * 86400000000L
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - lit(lookback))
    val wP = Window.partitionBy(col("p_id"))
      .orderBy(col("t_ts").desc, col("t_id").desc)
    val credited = joined
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("p_id"))))
      .withColumn("rnk", row_number().over(wP).cast("long"))
      .withColumn("credit",
        expr("cents div k") +
          when(col("rnk") === 1L, col("cents") - expr("k * (cents div k)"))
            .otherwise(lit(0L)))
    credited.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_conversions"),
        sum(col("credit")).as("cents"))
      .orderBy(col("touch_type"))
  }

  private lazy val attributionOracle: String =
    s"""WITH ev AS (SELECT event_id, user_id, event_type,
       |    epoch_us(ts) AS ts_us, value FROM events),
       |p AS (SELECT event_id AS p_id, user_id, ts_us AS p_ts,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM ev WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, event_id AS t_id, event_type AS touch_type,
       |    ts_us AS t_ts FROM ev WHERE event_type <> 'purchase'),
       |j AS (SELECT p.p_id, p.cents, t.t_id, t.touch_type, t.t_ts
       |  FROM p JOIN t ON t.user_id = p.user_id
       |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - 604800000000),
       |c AS (SELECT p_id, cents, touch_type,
       |    CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS k,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY p_id
       |      ORDER BY t_ts DESC, t_id DESC) AS BIGINT) AS rnk
       |  FROM j),
       |cr AS (SELECT p_id, touch_type,
       |    cents // k + CASE WHEN rnk = 1
       |      THEN cents - k * (cents // k) ELSE 0 END AS credit
       |  FROM c)
       |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_conversions,
       |  CAST(SUM(credit) AS BIGINT) AS cents
       |FROM cr GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // ------------------------------------- q220 seasonal decomposition
  /** STL-lite additive decomposition of the daily event series — the
    * classical-decomposition skeleton (trend = centered 7-day moving
    * window, seasonal = day-of-week mean of the detrended series,
    * remainder; Cleveland et al. 1990 §2 describe the loess upgrade,
    * the moving-average form is the textbook classical method) that a
    * traffic monitor runs before any anomaly rule, so weekday rhythm
    * stops masquerading as drift. Everything stays EXACT by working in
    * sevenths: trend7 = Σ of the 7-day window (7× the mean), detrended7
    * = 7c − trend7, seasonal7 = the floor-mean of detrended7 per dow
    * (offset-shifted so Spark's truncate-toward-zero `div` and DuckDB's
    * floor `//` agree on negatives — the q141 BalOffset discipline),
    * remainder7 the exact difference. The additive identity
    * 7c = trend7 + seasonal7 + remainder7 holds bit-for-bit.
    *
    * Scale shape: day-grid algebra throughout — one corpus pass to daily
    * counts, then windows over the (bounded) day grid; the dow means are
    * a 7-group aggregate. Edge days without a full window are excluded
    * (reported by the interior day count). */
  def q220_seasonal_decompose(s: SparkSession, dir: String): DataFrame = {
    val Off = 1000000000000L // shifts floor-division operands positive
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val wCnt = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val interior = filled
      .withColumn("trend7", sum(col("c")).over(wTrend))
      .withColumn("n_win", count(lit(1)).over(wTrend))
      .withColumn("n_days", count(lit(1)).over(wCnt))
      .filter(col("n_win") === 7) // full windows only: the interior
      .withColumn("detr7", lit(7L) * col("c") - col("trend7"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val seasonal = interior.groupBy(col("dow"))
      .agg(sum(col("detr7")).as("sd"), count(lit(1)).as("nd"))
      .withColumn("seasonal7",
        expr(s"((sd + ${Off}L * nd) div nd) - ${Off}L"))
      .select(col("dow"), col("seasonal7"))
    interior.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("dow"), col("c"), col("trend7"),
        col("seasonal7"),
        (lit(7L) * col("c") - col("trend7") - col("seasonal7"))
          .as("remainder7"),
        col("n_days"))
      .orderBy(col("day"))
  }

  private lazy val seasonalOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bounds),
       |filled AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d ON d.day = g.day),
       |win AS (SELECT day, c,
       |    CAST(SUM(c) OVER (ORDER BY day
       |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
       |      AS trend7,
       |    COUNT(*) OVER (ORDER BY day
       |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n_win,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n_days
       |  FROM filled),
       |interior AS (SELECT day, c, trend7, n_days,
       |    7 * c - trend7 AS detr7, (day + 4) % 7 AS dow
       |  FROM win WHERE n_win = 7),
       |seas AS (SELECT dow,
       |    ((SUM(detr7) + 1000000000000 * COUNT(*)) // COUNT(*))
       |      - 1000000000000 AS seasonal7
       |  FROM interior GROUP BY 1)
       |SELECT i.day, i.dow, i.c, i.trend7,
       |  CAST(s.seasonal7 AS BIGINT) AS seasonal7,
       |  CAST(7 * i.c - i.trend7 - s.seasonal7 AS BIGINT) AS remainder7,
       |  i.n_days
       |FROM interior i JOIN seas s USING (dow) ORDER BY i.day""".stripMargin

  // --------------------------------------------- q231 survival curve
  /** Kaplan-Meier survival over INTER-PURCHASE times (Kaplan & Meier
    * 1958; renewal analysis) — "how long until the next purchase?", the
    * censoring-aware distribution behind repurchase forecasting: every
    * consecutive purchase pair of a user contributes an UNCENSORED
    * duration (hours to the next purchase), and each user's tail from
    * last purchase to the horizon end is a CENSORED observation (the
    * next purchase hasn't happened YET — dropping those tails would
    * bias the curve optimistic, which is the whole point of KM). A
    * whole-lifetime churn framing measured degenerate here — every
    * synthetic user stays active to the horizon, zero events — so the
    * gap framing is what actually exercises both KM branches. The
    * survival product Π(1 − d_i/n_i) lifts EXACTLY to log space as a
    * prefix sum of micro-nat roundings of INTEGER counts: log S(t) =
    * Σ lnM(n−d) − lnM(n) over event times ≤ t (the q203/q212
    * ln-of-integers class — no float product drift at any horizon).
    * S(t) = 0 (all at-risk fire) is the −10⁹ sentinel, mirrored.
    *
    * Scale shape: per-user lag windows (activity-bounded) for the gaps,
    * then a duration-grid rollup with a catalog-sized prefix window
    * (hours ≤ horizon). No per-user state beyond the window. */
  def q231_survival_curve(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_us div 3600000000L").as("hr"))
    val horizon = p.agg(max(col("hr")).as("h"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("hr"))
    val gaps = p
      .withColumn("nxt", lead(col("hr"), 1).over(wU))
      .crossJoin(broadcast(horizon))
      .select(
        coalesce(col("nxt") - col("hr"), col("h") - col("hr")).as("dur"),
        col("nxt").isNotNull.as("fired"))
    val byDur = gaps.groupBy(col("dur"))
      .agg(sum(when(col("fired"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("fired"), 1L).otherwise(0L)).as("c"))
    val wPrev = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val n = gaps.count()
    def lnM(x: org.apache.spark.sql.Column) =
      graft.functions.SharedLn.lnMicro(x)
    byDur
      .withColumn("n_risk",
        lit(n) - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("term",
        when(col("d") === 0L, lit(0L))
          .when(col("n_risk") === col("d"), lit(-1000000000L))
          .otherwise(lnM(col("n_risk") - col("d")) - lnM(col("n_risk"))))
      .withColumn("log_surv_micro",
        greatest(sum(col("term")).over(wCum), lit(-1000000000L)))
      .select(col("dur"), col("n_risk"), col("d").as("n_fired"),
        col("c").as("n_censored"), col("log_surv_micro"))
      .orderBy(col("dur"))
  }

  private lazy val survivalOracle: String =
    s"""WITH p AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr
       |  FROM events WHERE event_type = 'purchase'),
       |h AS (SELECT MAX(hr) AS h FROM p),
       |g AS (SELECT user_id, hr,
       |    LEAD(hr) OVER (PARTITION BY user_id ORDER BY hr) AS nxt
       |  FROM p),
       |u AS (SELECT COALESCE(nxt - hr, (SELECT h FROM h) - hr) AS dur,
       |    nxt IS NOT NULL AS fired FROM g),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
       |bd AS (SELECT dur,
       |    CAST(SUM(CASE WHEN fired THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN fired THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM u GROUP BY 1),
       |r AS (SELECT dur, d, c,
       |    (SELECT n FROM tot) - CAST(COALESCE(SUM(d + c) OVER (
       |      ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1
       |      PRECEDING), 0) AS BIGINT) AS n_risk
       |  FROM bd),
       |rl AS (${graft.functions.SharedLn.oracleLn("r",
          Seq("dur", "d", "c", "n_risk"),
          Seq(("__lsur", "n_risk - d"), ("__lrisk", "n_risk")))}),
       |t AS (SELECT dur, d, c, n_risk,
       |    CASE WHEN d = 0 THEN 0
       |      WHEN n_risk = d THEN -1000000000
       |      ELSE ${graft.functions.SharedLn.microSql("__lsur")}
       |        - ${graft.functions.SharedLn.microSql("__lrisk")} END AS term
       |  FROM rl)
       |SELECT dur, n_risk, d AS n_fired, c AS n_censored,
       |  greatest(CAST(SUM(term) OVER (ORDER BY dur
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT), -1000000000)
       |    AS log_surv_micro
       |FROM t ORDER BY dur""".stripMargin

  // ----------------------------------------------- q232 forecast eval
  /** Seasonal-naive forecast + MASE evaluation (Hyndman & Koehler 2006,
    * "Another look at measures of forecast accuracy") — the baseline
    * every traffic forecast must beat, and the scale-free error metric
    * that makes "is the fancy model worth it?" answerable: forecast for
    * a test day is the count 7 days earlier; the error scale is the
    * in-train one-step naive MAE. MASE lifts exactly to one integer
    * cross-multiplication: (1000·Σ_test|err|·n_train_diffs) div
    * (Σ_train|diff|·n_test) — floor-permille, no float. MASE < 1000
    * means the weekly-seasonal baseline beats the random-walk scale.
    *
    * Scale shape: the q220 day grid (one corpus pass to daily counts),
    * then self-joins at lag 7 / lag 1 over the catalog-sized grid;
    * output is one row. */
  def q232_forecast_eval(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cut", col("d0") + 21)
    val lag7 = filled.select((col("day") + 7).as("day"), col("c").as("f"))
    val lag1 = filled.select((col("day") + 1).as("day"), col("c").as("p"))
    val test = filled.filter(col("day") >= col("cut"))
      .join(lag7, Seq("day"))
      .agg(count(lit(1)).as("n_test"),
        sum(abs(col("c") - col("f"))).as("err_sum"))
    val train = filled.filter(col("day") < col("cut"))
      .join(lag1, Seq("day"))
      .agg(count(lit(1)).as("n_train_diffs"),
        sum(abs(col("c") - col("p"))).as("scale_sum"))
    test.crossJoin(broadcast(train))
      .select(col("n_test"), col("err_sum"), col("n_train_diffs"),
        col("scale_sum"),
        expr("(1000 * err_sum * n_train_diffs) div " +
          "greatest(scale_sum * n_test, 1L)").as("mase_permille"))
  }

  private lazy val forecastOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day,
       |    d0 + 21 AS cut FROM bounds),
       |filled AS (SELECT g.day, g.cut, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d ON d.day = g.day),
       |te AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       |    CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS err_sum
       |  FROM filled a JOIN filled b ON b.day = a.day - 7
       |  WHERE a.day >= a.cut),
       |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train_diffs,
       |    CAST(SUM(abs(a.c - b.c)) AS BIGINT) AS scale_sum
       |  FROM filled a JOIN filled b ON b.day = a.day - 1
       |  WHERE a.day < a.cut)
       |SELECT te.n_test, te.err_sum, tr.n_train_diffs, tr.scale_sum,
       |  (1000 * te.err_sum * tr.n_train_diffs)
       |    // greatest(tr.scale_sum * te.n_test, 1) AS mase_permille
       |FROM te CROSS JOIN tr""".stripMargin

  // ------------------------------------------- q233 Markov holdout eval
  /** Next-event-prediction holdout accuracy — the eval loop over q193's
    * transition model (learn→apply consumer #9): the argmax-next-type
    * model trains on transitions whose BOTH events sit in the first
    * half of the horizon, then predicts the test half's transitions;
    * accuracy is an exact permille per source state plus the trivial
    * majority-class baseline (predict the globally most common dst) so
    * the number means something. Ties in the argmax break
    * lexicographically — deterministic in both engines.
    *
    * Scale shape: per-user lag windows (the q193 shape) twice, a
    * |types|²-sized model broadcast back onto the test pairs, and a
    * |types|-row output. */
  def q233_markov_holdout(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    def pairs(half: String): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val filtered = ev.crossJoin(broadcast(mid))
        .filter(if (half == "train") col("ts_us") <= col("mid")
          else col("ts_us") > col("mid"))
      filtered
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
        .select(col("src"), col("event_type").as("dst"))
    }
    val model = pairs("train").groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val wBest = Window.partitionBy(col("src"))
      .orderBy(col("n").desc, col("dst"))
    val pred = model.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("src"), col("dst").as("pred"))
    val majority = pairs("train").groupBy(col("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("dst")).limit(1)
      .select(col("dst").as("maj"))
    pairs("test")
      .join(broadcast(pred), Seq("src"))
      .crossJoin(broadcast(majority))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_test"),
        max(col("pred")).as("pred"),
        sum(when(col("dst") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("dst") === col("maj"), 1L).otherwise(0L))
          .as("n_majority"))
      .select(col("src"), col("pred"), col("n_test"), col("n_correct"),
        expr("(1000 * n_correct) div n_test").as("acc_permille"),
        expr("(1000 * n_majority) div n_test").as("majority_permille"))
      .orderBy(col("src"))
  }

  private lazy val markovHoldoutOracle: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    event_type FROM events),
       |mid AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev),
       |trp AS (SELECT src, dst FROM (SELECT
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS src, event_type AS dst
       |  FROM ev WHERE ts_us <= (SELECT mid FROM mid))
       |  WHERE src IS NOT NULL),
       |tep AS (SELECT src, dst FROM (SELECT
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS src, event_type AS dst
       |  FROM ev WHERE ts_us > (SELECT mid FROM mid))
       |  WHERE src IS NOT NULL),
       |model AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM trp GROUP BY 1, 2),
       |pred AS (SELECT src, dst AS pred FROM (SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY n DESC, dst) AS rk FROM model) WHERE rk = 1),
       |maj AS (SELECT dst AS maj FROM trp GROUP BY dst
       |  ORDER BY COUNT(*) DESC, dst LIMIT 1)
       |SELECT t.src, MAX(p.pred) AS pred,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN t.dst = p.pred THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST((1000 * SUM(CASE WHEN t.dst = p.pred THEN 1 ELSE 0 END))
       |    // COUNT(*) AS BIGINT) AS acc_permille,
       |  CAST((1000 * SUM(CASE WHEN t.dst = (SELECT maj FROM maj)
       |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS majority_permille
       |FROM tep t JOIN pred p USING (src)
       |GROUP BY t.src ORDER BY t.src""".stripMargin

  // ------------------------------------------------ q234 p-chart SPC
  /** Attribute control chart (Shewhart p-chart; see Montgomery,
    * "Introduction to Statistical Quality Control" ch. 7) over the daily
    * purchase rate — the SPC gate an ops dashboard runs on any
    * conversion metric. The 3σ limit test p̂ ± 3·√(p̄(1−p̄)/n) SQUARES
    * into pure integers: with daily (c, n) and global (C, N),
    *   out-of-control ⇔ (cN − nC)² > 9·C·(N−C)·n
    * — one cross-multiplication, no sqrt, no float; the deviation's
    * sign separates above/below. Exactly the q202/q214 discipline
    * applied to proportions.
    *
    * Scale shape: one map-side day×flag aggregate; the chart algebra is
    * day-grid arithmetic. The squared 3σ comparison runs in
    * DECIMAL(38,0) outright (dev² wraps BIGINT at \|dev\| > ~3.04e9,
    * nine orders below the cross-product guard), which is exact up to
    * nn ≈ 1.2·10¹⁸ total events — the loud assert names that
    * frontier. */
  def q234_control_chart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"),
        (col("event_type") === "purchase").as("hit"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("c"))
    val tot = daily.agg(sum(col("n")).as("nn"), sum(col("c")).as("cc"))
    daily.crossJoin(broadcast(tot))
      .filter(coalesce(assert_true(
        expr(s"c <= (${Long.MaxValue}L div greatest(nn, 1L)) " +
          s"and n <= (${Long.MaxValue}L div greatest(cc, 1L))"),
        lit("p-chart cross-product would overflow BIGINT: move the " +
          "3-sigma comparison to DECIMAL(38,0) at this volume")),
        lit(true)))
      .withColumn("dev", col("c") * col("nn") - col("n") * col("cc"))
      // dev² wraps BIGINT at |dev| > ~3.04e9 — far below the c·nn
      // bound above — so the 3σ comparison lives in DECIMAL(38,0):
      // under the asserted envelope dev² ≤ 2^126 < 10^38 and
      // 9·(n·cc)·(nn−cc) ≤ 9·2^63·nn fits while nn ≤ ~1.2e18 (asserted)
      .filter(coalesce(assert_true(
        expr("nn <= 1200000000000000000L"),
        lit("p-chart 3-sigma RHS would overflow DECIMAL(38,0): " +
          "split the horizon or move to wider arithmetic")), lit(true)))
      .withColumn("out_of_control",
        expr("CAST(dev AS DECIMAL(38,0)) * dev > " +
          "CAST(9 AS DECIMAL(38,0)) * cc * (nn - cc) * n"))
      .select(col("day"), col("n"), col("c"),
        expr("(1000 * c) div n").as("rate_permille"),
        expr("(1000 * cc) div nn").as("center_permille"),
        col("out_of_control"),
        when(col("out_of_control") && col("dev") > 0, "high")
          .when(col("out_of_control"), "low").otherwise("in").as("side"))
      .orderBy(col("day"))
  }

  private lazy val controlOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c
       |  FROM events GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |    CAST(SUM(c) AS BIGINT) AS cc FROM daily),
       |j AS (SELECT day, n, c, nn, cc, c * nn - n * cc AS dev
       |  FROM daily CROSS JOIN tot)
       |SELECT day, n, c,
       |  (1000 * c) // n AS rate_permille,
       |  (1000 * cc) // nn AS center_permille,
       |  dev * dev > 9 * cc * (nn - cc) * n AS out_of_control,
       |  CASE WHEN dev * dev > 9 * cc * (nn - cc) * n AND dev > 0
       |    THEN 'high'
       |    WHEN dev * dev > 9 * cc * (nn - cc) * n THEN 'low'
       |    ELSE 'in' END AS side
       |FROM j ORDER BY day""".stripMargin

  // ----------------------------------------------- q240 autocorrelation
  /** Autocorrelation function of the daily event-count series (q240) —
    * the Box-Jenkins identification profile (Box & Jenkins 1970 §2.1;
    * the biased estimator with the full-series denominator, the one
    * ACF plots actually show): r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²
    * over the FILLED day grid, lags 1..14 — the lag-7 cell is the
    * weekly-seasonality signal q220 decomposes and q232's
    * seasonal-naive forecast assumes.
    *
    * Exact integer lift: y_t = n·x_t − S clears the mean fraction
    * (multiplying through by n scales numerator and denominator alike,
    * so r is unchanged); cross-products y_t·y_{t−k} sum in
    * DECIMAL(38,0) (y ≤ n·max_x — their squares pass BIGINT at lake
    * horizons by design, the q214 lesson applied up front), and
    * r_milli divides with Spark `div` ↔ DuckDB `//` — both TRUNCATE
    * toward zero on integer/decimal operands (measured this round:
    * −7 // 2 = −3 in DuckDB 1.x), so the negative lags agree with no
    * pre-reduction. The 95 % white-noise band ±2/√n becomes the
    * integer comparison r_milli²·n > 4·10⁶ — no sqrt, no float.
    *
    * Scale shape: one map-side day aggregate; everything after is
    * day-grid algebra (n·14 rows for the lag join, keyed on day) —
    * catalog-sized at any corpus volume. */
  /** Shared ACF kernel (lag, n_days, n_overlap, r_milli) — q240's exact
    * integer arithmetic, consumed unchanged by q262's portmanteau. */
  private def acfFrame(s: SparkSession, dir: String, maxLag: Int): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val tot = filled.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val y = filled.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("c") - col("s")).as("y"),
        col("n"))
    val den = y.agg(
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("den"),
      max(col("n")).as("n"))
    val lags = s.range(1, maxLag + 1).select(col("id").as("lag"))
    val nums = y.crossJoin(broadcast(lags))
      .withColumn("match_day", col("day") - col("lag"))
      .join(y.select(col("day").as("match_day"), col("y").as("y0")),
        Seq("match_day"))
      .groupBy(col("lag"))
      .agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y0")).as("num"),
        count(lit(1)).as("n_overlap"))
    nums.crossJoin(broadcast(den))
      .select(col("lag"), col("n").as("n_days"), col("n_overlap"),
        expr("CAST((CAST(1000 AS DECIMAL(38,0)) * num) div " +
          "greatest(den, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
          .as("r_milli"))
  }

  def q240_acf(s: SparkSession, dir: String): DataFrame =
    acfFrame(s, dir, 14)
      .withColumn("significant",
        expr("r_milli * r_milli * n_days > 4000000"))
      .orderBy(col("lag"))

  private lazy val acfOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s FROM f),
       |y AS (SELECT day, n * c - s AS y, n FROM f CROSS JOIN tot),
       |den AS (SELECT SUM(CAST(y AS HUGEINT) * y) AS den, MAX(n) AS n
       |  FROM y),
       |lags AS (SELECT CAST(unnest(range(1, 15)) AS BIGINT) AS lag),
       |nums AS (SELECT l.lag, SUM(CAST(a.y AS HUGEINT) * b2.y) AS num,
       |    CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM y a CROSS JOIN lags l
       |  JOIN y b2 ON a.day - l.lag = b2.day
       |  GROUP BY l.lag)
       |SELECT n2.lag, den.n AS n_days, n2.n_overlap,
       |  CAST((1000 * n2.num) // GREATEST(den.den, 1) AS BIGINT)
       |    AS r_milli,
       |  CAST((1000 * n2.num) // GREATEST(den.den, 1) AS BIGINT) *
       |    CAST((1000 * n2.num) // GREATEST(den.den, 1) AS BIGINT) *
       |    den.n > 4000000 AS significant
       |FROM nums n2 CROSS JOIN den ORDER BY n2.lag""".stripMargin

  // ------------------------------------------- q263 Theil inequality
  /** q263: Theil's T inequality index with its between/within
    * decomposition (Theil, "Economics and Information Theory" 1967)
    * over per-customer revenue by market segment — the DECOMPOSABLE
    * companion of q196's Gini (Gini cannot split into between-group +
    * within-group parts; Theil is the canonical index that can, which
    * is why mixture/concentration audits report both): T = (1/N)·
    * Σ (x_i/μ)·ln(x_i/μ), T_between reads segment shares against
    * segment sizes, T_g reads inequality inside each segment.
    *
    * Exactness: the house micro-nat lift — x_i/μ = x_i·N/S is a ratio
    * of integers, so S·T = Σ x_i·(L(x_i·N) − L(S)) with
    * L = round(10⁶·ln(integer)), per-ln quantization before the sum;
    * t_total_micro = that sum div S (DECIMAL(38,0) sum — per-term
    * products are Long-safe under the loud x·N ≤ 2⁶³ assert, their
    * corpus sum is not). Identically S·T_between = Σ_g S_g·(L(S_g·N)
    * − L(S·N_g)) and S_g·T_g = Σ_{i∈g} x_i·(L(x_i·N_g) − L(S_g)).
    * Zero-revenue rows contribute the exact 0 limit. The float
    * decomposition identity T = T_b + Σ (S_g/S)·T_g holds to
    * quantization (spec-checked); each reported number is exact on
    * its own.
    *
    * Scale shape: one orders rollup keyed on custkey, one dimension
    * join, segment-level algebra after; the only corpus-sized frame is
    * the per-customer pass (map-side products, two aggregates). */
  def q263_theil_index(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .selectExpr("o_custkey",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price")
      .groupBy(col("o_custkey"))
      .agg(expr("CAST(SUM(price) * 100 AS BIGINT)").as("x"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg")), Seq("o_custkey"))
    val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val segTot = cust.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
    // engine-neutral shared ln (functions.SharedLn) — bit-exact with
    // the oracle's generated formula; retires the libm knife-edge on
    // the per-customer term grid (r17 verdict item 3)
    def lnMicro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.functions.SharedLn.lnMicro(c)
    val terms = cust.join(broadcast(segTot), Seq("seg"))
      .crossJoin(broadcast(tot))
      // ln arguments are revenue·count products; the loud assert names
      // the DECIMAL(38,0) swap past the 2⁶³ frontier
      .filter(coalesce(assert_true(
        expr(s"x <= (${Long.MaxValue}L div greatest(n, 1L)) " +
          s"and s_g <= (${Long.MaxValue}L div greatest(n_g, 1L))"),
        lit("Theil ln arguments would overflow BIGINT: swap the " +
          "revenue-count products to DECIMAL(38,0) at this scale")),
        lit(true)))
      .withColumn("t_tot_term", when(col("x") > 0,
        col("x") * (lnMicro(col("x") * col("n")) - lnMicro(col("s"))))
        .otherwise(0L))
      .withColumn("t_in_term", when(col("x") > 0,
        col("x") * (lnMicro(col("x") * col("n_g")) - lnMicro(col("s_g"))))
        .otherwise(0L))
    val perSeg = terms.groupBy(col("seg"))
      .agg(max(col("n_g")).as("n_customers"),
        max(col("s_g")).as("revenue_cents"),
        sum(expr("CAST(t_in_term AS DECIMAL(38,0))")).as("in_num"))
      .select(col("seg"), col("n_customers"), col("revenue_cents"),
        expr("CAST(in_num div CAST(revenue_cents AS DECIMAL(38,0)) " +
          "AS BIGINT)").as("t_within_micro"))
    val total = terms.agg(
      sum(expr("CAST(t_tot_term AS DECIMAL(38,0))")).as("tot_num"),
      max(col("s")).as("s"), max(col("n")).as("n"))
    val between = segTot.crossJoin(broadcast(tot))
      .filter(coalesce(assert_true(
        expr(s"s_g <= (${Long.MaxValue}L div greatest(n, 1L)) " +
          s"and s <= (${Long.MaxValue}L div greatest(n_g, 1L))"),
        lit("Theil between-group products would overflow BIGINT: " +
          "swap to DECIMAL(38,0) at this scale")), lit(true)))
      .select((col("s_g") *
        (lnMicro(col("s_g") * col("n")) - lnMicro(col("s") * col("n_g"))))
        .as("b_term"))
      .agg(sum(expr("CAST(b_term AS DECIMAL(38,0))")).as("b_num"))
    val globals = total.crossJoin(broadcast(between))
      .select(
        expr("CAST(tot_num div CAST(s AS DECIMAL(38,0)) AS BIGINT)")
          .as("t_total_micro"),
        expr("CAST(b_num div CAST(s AS DECIMAL(38,0)) AS BIGINT)")
          .as("t_between_micro"))
    perSeg.crossJoin(broadcast(globals))
      .orderBy(col("seg"))
  }

  private lazy val theilOracle: String = {
    // micro-nat roundings consume graft.functions.SharedLn's generated
    // engine-neutral ln columns (tln/bln layers) — the same IEEE op
    // sequence the Spark side runs, bit-exact by construction
    def lnM(x: String): String = graft.functions.SharedLn.microSql(x)
    val tln = graft.functions.SharedLn.oracleLn("tj", Seq("seg", "x"),
      Seq(("ln_xn", "x * n"), ("ln_s", "s"),
        ("ln_xng", "x * n_g"), ("ln_sg", "s_g")))
    val bln = graft.functions.SharedLn.oracleLn("bj", Seq("s_g"),
      Seq(("ln_sgn", "s_g * n"), ("ln_sng", "s * n_g")))
    s"""WITH cust AS (SELECT o.o_custkey,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
       |      AS BIGINT) AS x
       |  FROM orders o GROUP BY 1),
       |cs AS (SELECT cust.x, c.c_mktsegment AS seg
       |  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS s FROM cs),
       |seg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g,
       |    CAST(SUM(x) AS BIGINT) AS s_g FROM cs GROUP BY 1),
       |tj AS (SELECT cs.seg, cs.x, tot.n, tot.s, seg.n_g, seg.s_g
       |  FROM cs JOIN seg USING (seg) CROSS JOIN tot),
       |tln AS ($tln),
       |terms AS (SELECT seg,
       |    CASE WHEN x > 0 THEN
       |      x * (${lnM("ln_xn")} - ${lnM("ln_s")})
       |      ELSE 0 END AS t_tot_term,
       |    CASE WHEN x > 0 THEN
       |      x * (${lnM("ln_xng")} - ${lnM("ln_sg")})
       |      ELSE 0 END AS t_in_term
       |  FROM tln),
       |per AS (SELECT t.seg, seg.n_g AS n_customers,
       |    seg.s_g AS revenue_cents,
       |    CAST(SUM(CAST(t.t_in_term AS HUGEINT)) //
       |      CAST(seg.s_g AS HUGEINT) AS BIGINT) AS t_within_micro
       |  FROM terms t JOIN seg USING (seg)
       |  GROUP BY t.seg, seg.n_g, seg.s_g),
       |tt AS (SELECT CAST(SUM(CAST(t_tot_term AS HUGEINT)) //
       |    (SELECT CAST(s AS HUGEINT) FROM tot) AS BIGINT)
       |    AS t_total_micro FROM terms),
       |bj AS (SELECT seg.s_g, seg.n_g, tot.n, tot.s
       |  FROM seg CROSS JOIN tot),
       |bln AS ($bln),
       |bt AS (SELECT CAST(SUM(CAST(s_g AS HUGEINT) *
       |    (${lnM("ln_sgn")} - ${lnM("ln_sng")})) //
       |    (SELECT CAST(s AS HUGEINT) FROM tot) AS BIGINT)
       |    AS t_between_micro
       |  FROM bln)
       |SELECT per.seg, per.n_customers, per.revenue_cents,
       |  per.t_within_micro, tt.t_total_micro, bt.t_between_micro
       |FROM per CROSS JOIN tt CROSS JOIN bt ORDER BY per.seg""".stripMargin
  }

  // ------------------------------------------- q273 EWMA control chart
  /** q273: the EWMA control chart (Roberts, Technometrics 1959;
    * Hunter, J. Quality Technology 1986 for the λ = 1/8-class
    * smoothing weights) on the daily event series — the small-shift
    * monitor between q234's memoryless p-chart and q214's full-memory
    * CUSUM: EWMA S_t = λ·x_t + (1−λ)·S_{t−1} forgets geometrically,
    * catching sustained small drifts Shewhart limits miss.
    *
    * Exactness: λ = 1/8 makes the recurrence one integer step —
    * S_t = (1000·x_t + 7·S_{t−1}) div 8 in milli, initialized at the
    * sealed-horizon mean μ_milli = (1000·Σc) div n (the q234 center
    * line discipline); the asymptotic 3σ limit squares into
    *   15·n·(n−1)·dev² > 9·10⁶·(n·Σc² − (Σc)²)
    * (λ/(2−λ) = 1/15), one DECIMAL cross-multiplication per day. The
    * recurrence is inherently sequential, so the engine folds the DAY
    * GRID on the driver — a TIME-bounded frame (10⁵ rows is 273
    * years), the one sequential structure that is metadata-scale by
    * construction; the oracle replays it as a recursive CTE. Both
    * walks are identical integer arithmetic.
    *
    * Scale shape: one map-side day aggregate, one horizon-sized fold,
    * output day-grid-sized. */
  def q273_ewma_chart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    // horizon-bounded by construction: days are time, not corpus size
    val grid = filled.orderBy(col("day")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = grid.length.toLong
    val sSum = grid.map(_._2).sum
    val s2 = grid.map(x => BigInt(x._2) * x._2).sum
    val mu = 1000L * sSum / n
    val varNum = BigInt(n) * s2 - BigInt(sSum) * sSum
    val rhs = BigInt(9000000) * varNum
    val lhsFac = BigInt(15) * n * (n - 1)
    var ew = mu
    val out = grid.map { case (day, c) =>
      ew = (1000L * c + 7L * ew) / 8L
      val dev = ew - mu
      val trip = lhsFac * BigInt(dev) * BigInt(dev) > rhs
      (day, c, ew, dev, trip && dev > 0, trip && dev < 0)
    }
    import s.implicits._
    out.toSeq.toDF("day", "c", "ewma_milli", "dev_milli",
      "alarm_high", "alarm_low")
  }

  private lazy val ewmaOracle: String =
    s"""WITH RECURSIVE daily AS (SELECT epoch_us(ts) // 86400000000
       |    AS day, CAST(COUNT(*) AS BIGINT) AS c FROM events
       |  GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY g.day) AS BIGINT) AS t
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s,
       |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM f),
       |mu AS (SELECT (1000 * s) // n AS mu FROM tot),
       |ew(t, s_milli) AS (
       |  SELECT CAST(0 AS BIGINT), mu FROM mu
       |  UNION ALL
       |  SELECT f.t, (1000 * f.c + 7 * ew.s_milli) // 8
       |  FROM ew JOIN f ON f.t = ew.t + 1)
       |SELECT f.day, f.c, ew.s_milli AS ewma_milli,
       |  ew.s_milli - mu.mu AS dev_milli,
       |  CAST(15 AS HUGEINT) * tot.n * (tot.n - 1) *
       |    (ew.s_milli - mu.mu) * (ew.s_milli - mu.mu) >
       |    CAST(9000000 AS HUGEINT) * (tot.n * tot.s2 -
       |      CAST(tot.s AS HUGEINT) * tot.s)
       |    AND ew.s_milli > mu.mu AS alarm_high,
       |  CAST(15 AS HUGEINT) * tot.n * (tot.n - 1) *
       |    (ew.s_milli - mu.mu) * (ew.s_milli - mu.mu) >
       |    CAST(9000000 AS HUGEINT) * (tot.n * tot.s2 -
       |      CAST(tot.s AS HUGEINT) * tot.s)
       |    AND ew.s_milli < mu.mu AS alarm_low
       |FROM ew JOIN f USING (t) CROSS JOIN mu CROSS JOIN tot
       |ORDER BY f.day""".stripMargin

  // --------------------------------------- q269 Page-Hinkley monitor
  /** q269: the Page-Hinkley sequential change detector (Page,
    * Biometrika 1954 — the PH variant standard in stream-mining
    * libraries, cf. Gama et al. 2014 §3.2) on the daily event series —
    * the ALARM-oriented member of the monitoring family: q214's CUSUM
    * locates the best single changepoint in hindsight; PH walks the
    * series forward and fires the moment the drift-compensated
    * cumulative deviation exceeds λ, the semantics a live pipeline
    * gate wants. Both directions run (mean increase and decrease —
    * the mirrored test). Parameters are MEAN-RELATIVE (measured:
    * absolute δ = 0.5/day false-alarmed at sf0.1's ~500/day mean):
    * δ = 5 % of the running mean, λ = one horizon-mean day of
    * drift-compensated excess (the q234 sealed-horizon calibration).
    *
    * Exactness: the running mean lifts to milli per the house rule —
    * term_t = 1000·x_t − (1000·S_t) div t − (50·S_t) div t, each
    * division quantized per day BEFORE the prefix sums; PH_t is a
    * prefix sum, the reference m_t = min_{j≤t} PH_j a prefix min, and
    * the alarm is the integer comparison PH_t − m_t > λ_milli with
    * λ_milli = (1000·S_n) div n. All BIGINT — Long-safe at any
    * realistic horizon.
    *
    * Scale shape: day-grid prefix algebra (the q248 walk shape);
    * global-order windows are horizon-sized by construction, never
    * corpus-sized. */
  def q269_page_hinkley(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val lam = filled.agg(
      expr("(1000 * sum(c)) div count(1)").as("lambda_milli"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val walk = filled
      .withColumn("t", row_number().over(Window.orderBy(col("day")))
        .cast("long"))
      .withColumn("s_t", sum(col("c")).over(wCum))
      .withColumn("up_term",
        lit(1000L) * col("c") - expr("(1000 * s_t) div t")
          - expr("(50 * s_t) div t"))
      .withColumn("dn_term",
        expr("(1000 * s_t) div t") - lit(1000L) * col("c")
          - expr("(50 * s_t) div t"))
      .withColumn("ph_up", sum(col("up_term")).over(wCum))
      .withColumn("ph_dn", sum(col("dn_term")).over(wCum))
      .withColumn("gap_up", col("ph_up") - min(col("ph_up")).over(wCum))
      .withColumn("gap_dn", col("ph_dn") - min(col("ph_dn")).over(wCum))
    walk.crossJoin(broadcast(lam))
      .select(col("day"), col("c"), col("ph_up"), col("gap_up"),
        col("gap_dn"), col("lambda_milli"),
        (col("gap_up") > col("lambda_milli")).as("alarm_increase"),
        (col("gap_dn") > col("lambda_milli")).as("alarm_decrease"))
      .orderBy(col("day"))
  }

  private lazy val phOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |w AS (SELECT day, c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
       |    CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS s_t FROM f),
       |lam AS (SELECT (1000 * CAST(SUM(c) AS BIGINT)) //
       |    CAST(COUNT(*) AS BIGINT) AS lambda_milli FROM f),
       |tm AS (SELECT day, c,
       |    1000 * c - (1000 * s_t) // t - (50 * s_t) // t AS up_term,
       |    (1000 * s_t) // t - 1000 * c - (50 * s_t) // t AS dn_term
       |  FROM w),
       |ph AS (SELECT day, c,
       |    CAST(SUM(up_term) OVER (ORDER BY day ROWS UNBOUNDED
       |      PRECEDING) AS BIGINT) AS ph_up,
       |    CAST(SUM(dn_term) OVER (ORDER BY day ROWS UNBOUNDED
       |      PRECEDING) AS BIGINT) AS ph_dn FROM tm),
       |gp AS (SELECT day, c, ph_up,
       |    ph_up - MIN(ph_up) OVER (ORDER BY day ROWS UNBOUNDED
       |      PRECEDING) AS gap_up,
       |    ph_dn - MIN(ph_dn) OVER (ORDER BY day ROWS UNBOUNDED
       |      PRECEDING) AS gap_dn FROM ph)
       |SELECT day, c, ph_up, gap_up, gap_dn, lam.lambda_milli,
       |  gap_up > lam.lambda_milli AS alarm_increase,
       |  gap_dn > lam.lambda_milli AS alarm_decrease
       |FROM gp CROSS JOIN lam ORDER BY day""".stripMargin

  // ----------------------------------- q288 ANOVA F + intraclass r
  /** q288: one-way ANOVA across day-of-week groups with the
    * intraclass correlation ICC(1) (Fisher 1925 for the F;
    * Shrout & Fleiss, Psych. Bull. 1979 case 1 for the ICC; the
    * unbalanced-group n₀ per Searle 1971) on the RAW daily counts —
    * the parametric companion of q267's rank test and the variance-
    * COMPONENTS statement the significance bit alone lacks: ICC =
    * share of daily-volume variance attributable to weekday identity
    * (the number a capacity planner reads: "how much does knowing the
    * weekday tell me?").
    *
    * Exactness: the q278 lifts on c instead of |c−med| — SSB
    * quantizes per group as ((S_g·N − S·n_g)²·10⁶) div (n_g·N²), SSW
    * as 10⁶·Σc² − Σ(10⁶·S_g²) div n_g; F_micro = (10⁶·(N−k)·ssb) div
    * ((k−1)·ssw) against the same F(6,23) literal; the unbalanced ICC
    * clears its rational n₀ by cross-multiplication —
    *   icc_milli = (1000·N(k−1)·(A(N−k) − W(k−1))) div
    *               (N(k−1)·A(N−k) + (N²−Σn² − N(k−1))·W(k−1))
    * with A = ssb_micro, W = ssw_micro, one DECIMAL division.
    *
    * Scale shape: day-grid value-group algebra, k = 7 group rollups. */
  def q288_anova_icc(s: SparkSession, dir: String): DataFrame = {
    val k = 7L
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("dow", pmod(col("day") + 4L, lit(7L)))
    val perG = filled.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_g"), sum(col("c")).as("s_g"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q_g"))
    val tot = perG.agg(sum(col("n_g")).as("nn"), sum(col("s_g")).as("ss"),
      sum(col("q_g")).as("qq"), sum(col("n_g") * col("n_g")).as("sn2"))
    val stats = perG.crossJoin(broadcast(tot))
      .agg(
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * (s_g * nn - " +
          "ss * n_g) * (s_g * nn - ss * n_g)) div " +
          "(CAST(n_g AS DECIMAL(38,0)) * nn * nn)")).as("a_micro"),
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * s_g * s_g) div " +
          "CAST(n_g AS DECIMAL(38,0))")).as("w_sub"),
        max(col("nn")).as("nn"), max(col("qq")).as("qq"),
        max(col("sn2")).as("sn2"))
      .withColumn("w_micro",
        expr("CAST(1000000 AS DECIMAL(38,0)) * qq - w_sub"))
    stats.select(col("nn").as("n_days"),
      expr("CAST(a_micro AS BIGINT)").as("ssb_micro"),
      expr("CAST(w_micro AS BIGINT)").as("ssw_micro"),
      expr(s"CAST((CAST(1000000 AS DECIMAL(38,0)) * (nn - $k) * " +
        s"a_micro) div greatest(CAST(${k - 1} AS DECIMAL(38,0)) * " +
        "w_micro, CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("f_micro"),
      expr(s"CAST((CAST(1000 AS DECIMAL(38,0)) * nn * ${k - 1} * " +
        s"(a_micro * (nn - $k) - w_micro * ${k - 1})) div " +
        s"greatest(CAST(nn AS DECIMAL(38,0)) * ${k - 1} * a_micro * " +
        s"(nn - $k) + (CAST(nn AS DECIMAL(38,0)) * nn - sn2 - " +
        s"nn * ${k - 1}) * w_micro * ${k - 1}, " +
        "CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("icc_milli"),
      (expr(s"CAST(1000000 AS DECIMAL(38,0)) * (nn - $k) * a_micro") >
        expr(s"CAST($FCrit623Micro AS DECIMAL(38,0)) * ${k - 1} * " +
          "w_micro")).as("significant"))
  }

  private lazy val anovaOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, (g.day + 4) % 7 AS dow, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |pg AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
       |    CAST(SUM(c) AS BIGINT) AS s_g,
       |    SUM(CAST(c AS HUGEINT) * c) AS q_g FROM f GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
       |    CAST(SUM(s_g) AS BIGINT) AS ss, SUM(q_g) AS qq,
       |    CAST(SUM(n_g * n_g) AS BIGINT) AS sn2 FROM pg),
       |st AS (SELECT
       |    SUM((1000000 * CAST(s_g * tot.nn - tot.ss * n_g AS HUGEINT)
       |      * (s_g * tot.nn - tot.ss * n_g)) //
       |      (CAST(n_g AS HUGEINT) * tot.nn * tot.nn)) AS a_micro,
       |    CAST(1000000 AS HUGEINT) * MAX(tot.qq) -
       |      SUM((1000000 * CAST(s_g AS HUGEINT) * s_g) //
       |      CAST(n_g AS HUGEINT)) AS w_micro,
       |    MAX(tot.nn) AS nn, MAX(tot.sn2) AS sn2
       |  FROM pg CROSS JOIN tot)
       |SELECT nn AS n_days, CAST(a_micro AS BIGINT) AS ssb_micro,
       |  CAST(w_micro AS BIGINT) AS ssw_micro,
       |  CAST((CAST(1000000 AS HUGEINT) * (nn - 7) * a_micro) //
       |    GREATEST(CAST(6 AS HUGEINT) * w_micro, 1) AS BIGINT)
       |    AS f_micro,
       |  CAST((CAST(1000 AS HUGEINT) * nn * 6 *
       |    (a_micro * (nn - 7) - w_micro * 6)) //
       |    GREATEST(CAST(nn AS HUGEINT) * 6 * a_micro * (nn - 7) +
       |    (CAST(nn AS HUGEINT) * nn - sn2 - nn * 6) * w_micro * 6, 1)
       |    AS BIGINT) AS icc_milli,
       |  CAST(1000000 AS HUGEINT) * (nn - 7) * a_micro >
       |    CAST($FCrit623Micro AS HUGEINT) * 6 * w_micro AS significant
       |FROM st""".stripMargin

  // ------------------------------------ q287 Mantel-Haenszel pooling
  /** q287: the Mantel-Haenszel pooled odds ratio with the
    * Cochran-Mantel-Haenszel test (Mantel & Haenszel, JNCI 1959;
    * Cochran 1954) for the weekend × purchase association STRATIFIED
    * by calendar week — the confounding-control primitive the marginal
    * 2×2 (q266's class) lacks: if weeks differ in both traffic mix and
    * purchase rate, the pooled-over-weeks OR is the Simpson's-paradox-
    * proof estimate. A week with no weekend days (the trailing partial
    * stratum) contributes exactly zero to every sum — the estimator's
    * own degenerate-stratum behavior, mirrored via coalesce.
    *
    * Exactness: per-stratum quantization (the house rule) —
    * num_i = (10⁶·a·d) div n, den_i = (10⁶·b·c) div n,
    * or_milli = (1000·Σnum) div Σden; the CMH statistic uses
    * e_micro = (10⁶·r₁c₁) div n and v_micro2 = (10¹²·r₁r₀c₁c₀) div
    * (n²(n−1)) per stratum (DECIMAL(38,0) — the 4-cell product is
    * n⁴-shaped), with the verdict 10⁴·D² > 38416·ΣV on
    * D = 10⁶·Σa − Σe.
    *
    * Scale shape: one map-side event rollup to week×2×2 cells;
    * everything after is strata-count algebra. */
  def q287_mantel_haenszel(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"),
        (col("event_type") === "purchase").as("y"))
      .crossJoin(broadcast(Tables.events(s, dir)
        .agg(expr("min(ts_us div 86400000000L)").as("d0"))))
      .withColumn("wk", expr("(day - d0) div 7"))
      .withColumn("ex", pmod(col("day") + 4L, lit(7L)).isin(0L, 6L))
      .groupBy(col("wk"))
      .agg(sum(when(col("ex") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ex") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ex") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ex") && !col("y"), 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val agg = cells.agg(count(lit(1)).as("n_strata"),
      sum(col("n")).as("n_events"), sum(col("a")).as("sum_a"),
      // cell products are n²-shaped: compute in DECIMAL(38,0); the
      // quotients are ≤ 10⁶·n — BIGINT-safe (no decimal-div wrap risk
      // below ~10¹² events per stratum)
      sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * a * d) div " +
        "CAST(n AS DECIMAL(38,0))")).as("num"),
      sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * b * c) div " +
        "CAST(n AS DECIMAL(38,0))")).as("den"),
      sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * (a + b) * (a + c)) " +
        "div CAST(n AS DECIMAL(38,0))")).as("e_micro"),
      sum(expr("CAST((CAST(1000000000000 AS DECIMAL(38,0)) * (a + b) * " +
        "(c + d) * (a + c) * (b + d)) div (CAST(n AS DECIMAL(38,0)) * " +
        "n * greatest(n - 1, 1L)) AS DECIMAL(38,0))")).as("v_micro2"))
    agg.select(col("n_strata"), col("n_events"), col("sum_a"),
      expr("(1000 * num) div greatest(den, 1L)").as("or_milli"),
      (lit(1000000L) * col("sum_a") - col("e_micro")).as("d_micro"),
      expr("CAST(10000 AS DECIMAL(38,0)) * " +
        "(1000000 * sum_a - e_micro) * (1000000 * sum_a - e_micro) > " +
        "CAST(38416 AS DECIMAL(38,0)) * v_micro2").as("significant"))
  }

  private lazy val mhOracle: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    event_type = 'purchase' AS y FROM events),
       |b0 AS (SELECT MIN(day) AS d0 FROM e),
       |t AS (SELECT (day - (SELECT d0 FROM b0)) // 7 AS wk,
       |    ((day + 4) % 7) IN (0, 6) AS ex, y FROM e),
       |cells AS (SELECT wk,
       |    CAST(SUM(CASE WHEN ex AND y THEN 1 ELSE 0 END) AS BIGINT)
       |      AS a,
       |    CAST(SUM(CASE WHEN ex AND NOT y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN NOT ex AND y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN NOT ex AND NOT y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d
       |  FROM t GROUP BY 1),
       |cn AS (SELECT *, a + b + c + d AS n FROM cells),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       |    CAST(SUM(n) AS BIGINT) AS n_events,
       |    CAST(SUM(a) AS BIGINT) AS sum_a,
       |    CAST(SUM((1000000 * a * d) // n) AS BIGINT) AS num,
       |    CAST(SUM((1000000 * b * c) // n) AS BIGINT) AS den,
       |    CAST(SUM((1000000 * (a + b) * (a + c)) // n) AS BIGINT)
       |      AS e_micro,
       |    SUM((CAST(1000000000000 AS HUGEINT) * (a + b) * (c + d) *
       |      (a + c) * (b + d)) // (CAST(n AS HUGEINT) * n *
       |      GREATEST(n - 1, 1))) AS v_micro2
       |  FROM cn)
       |SELECT n_strata, n_events, sum_a,
       |  (1000 * num) // GREATEST(den, 1) AS or_milli,
       |  1000000 * sum_a - e_micro AS d_micro,
       |  CAST(10000 AS HUGEINT) * (1000000 * sum_a - e_micro) *
       |    (1000000 * sum_a - e_micro) >
       |    CAST(38416 AS HUGEINT) * v_micro2 AS significant
       |FROM ag""".stripMargin

  // ----------------------------------- q286 Jonckheere-Terpstra trend
  /** q286: the Jonckheere-Terpstra test for an ORDERED alternative
    * (Jonckheere, Biometrika 1954; Terpstra 1952) across calendar
    * weeks — "do daily volumes trend monotonically week over week?":
    * q251's Mann-Kendall reads the day-to-day sequence; JT pools
    * between-group dominance across the ordered week blocks, the
    * form dose-response analyses use (and strictly more powerful than
    * q267's unordered KW when the alternative IS ordered).
    *
    * Exactness: the doubled statistic J₂ = Σ_{g<h} (2·#{x<y} + #{x=y})
    * is one exact integer from the week-pair day join (weeks² ×
    * days-per-week² pairs — grid algebra); with D = 2·J₂ − (N²−Σn_g²)
    * and V = N²(2N+3) − Σn_g²(2n_g+3), the normal z² > 1.96² squares
    * into 11250·D² > 9604·V (exact: z = (J−E)/σ, E = (N²−Σn²)/4,
    * Var = V/72) in DECIMAL(38,0). Trend direction is sign(D).
    *
    * Scale shape: the pair join is horizon² — day-grid algebra at any
    * corpus size; everything else is week-level rollups. */
  def q286_jonckheere(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("wk", expr("(day - d0) div 7"))
    val j2 = filled.alias("a").join(filled.alias("b"),
        col("a.wk") < col("b.wk"))
      .agg(sum(when(col("a.c") < col("b.c"), 2L)
        .when(col("a.c") === col("b.c"), 1L).otherwise(0L)).as("j2"))
    val sizes = filled.groupBy(col("wk")).agg(count(lit(1)).as("n_g"))
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("n_weeks"),
        sum(col("n_g") * col("n_g")).as("sn2"),
        sum(expr("n_g * n_g * (2 * n_g + 3)")).as("sn23"))
    j2.crossJoin(broadcast(sizes))
      .withColumn("d_stat", lit(2L) * col("j2") - (col("n") * col("n")
        - col("sn2")))
      .withColumn("v_stat",
        expr("n * n * (2 * n + 3) - sn23"))
      .select(col("n").as("n_days"), col("n_weeks"), col("j2"),
        col("d_stat"),
        when(col("d_stat") > 0, "increasing")
          .when(col("d_stat") < 0, "decreasing").otherwise("none")
          .as("trend"),
        expr("CAST(11250 AS DECIMAL(38,0)) * d_stat * d_stat > " +
          "CAST(9604 AS DECIMAL(38,0)) * v_stat").as("significant"))
  }

  private lazy val jtOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day,
       |    d0 FROM b),
       |f AS (SELECT g.day, (g.day - g.d0) // 7 AS wk,
       |    COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |jj AS (SELECT CAST(SUM(CASE WHEN a.c < bb.c THEN 2
       |      WHEN a.c = bb.c THEN 1 ELSE 0 END) AS BIGINT) AS j2
       |  FROM f a JOIN f bb ON a.wk < bb.wk),
       |sz AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS n_weeks,
       |    CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
       |    CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sn23
       |  FROM (SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_g FROM f
       |    GROUP BY 1) t),
       |st AS (SELECT jj.j2, sz.n, sz.n_weeks,
       |    2 * jj.j2 - (sz.n * sz.n - sz.sn2) AS d_stat,
       |    sz.n * sz.n * (2 * sz.n + 3) - sz.sn23 AS v_stat
       |  FROM jj CROSS JOIN sz)
       |SELECT n AS n_days, n_weeks, j2, d_stat,
       |  CASE WHEN d_stat > 0 THEN 'increasing'
       |    WHEN d_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend,
       |  CAST(11250 AS HUGEINT) * d_stat * d_stat >
       |    CAST(9604 AS HUGEINT) * v_stat AS significant
       |FROM st""".stripMargin

  // ------------------------------------ q285 Holm post-hoc pairwise
  /** χ²(1) upper quantiles at α = 0.05/k for k = 1..21 in micro units
    * (incomplete-gamma inversion; k = 1 is the 3.841459 table entry)
    * — the Holm step-down ladder for 21 pairwise comparisons. */
  private val HolmCritMicro: Seq[Long] = Seq(
    3841459L, 5023886L, 5731139L, 6238533L, 6634897L, 6960401L,
    7236689L, 7476773L, 7689093L, 7879439L, 8051956L, 8209716L,
    8355057L, 8489801L, 8615396L, 8733011L, 8843605L, 8947972L,
    9046780L, 9140593L, 9229895L)

  /** q285: Holm step-down post-hoc pairwise Mann-Whitney over the 21
    * day-of-week pairs (Holm, Scand. J. Statistics 1979) — the
    * follow-up q267's omnibus demands: KW says "some weekday
    * differs"; the post-hoc says WHICH pairs, with familywise error
    * controlled (plain per-pair 5% tests would fire spuriously across
    * 21 comparisons). Eval loop #20.
    *
    * Exactness: each pair runs q259's doubled-rank kernel (per-pair
    * rank windows over the two groups' days); the quantized statistic
    * z2_micro = (3·10⁶·n(n−1)·diff²) div (n₁n₂·(n(n−1)(n+1)−tie3))
    * ranks the pairs (desc, then pair id), and Holm's step-down is
    * the running minimum of the indicator z2_(i) > crit(α/(m−i+1)) —
    * the crit ladder is 21 compile-time micro literals; since z² is
    * monotone in the p-value, this IS Holm's procedure with no CDF
    * evaluation anywhere.
    *
    * Scale shape: the tagged frame is 2·21 copies of the day grid —
    * grid algebra; everything after is 21-row algebra. */
  def q285_posthoc_pairwise(s: SparkSession, dir: String): DataFrame = {
    val crit = array(HolmCritMicro.map(lit): _*)
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("dow", pmod(col("day") + 4L, lit(7L)))
    val pairs = s.range(0, 7).select(col("id").as("pa"))
      .crossJoin(s.range(0, 7).select(col("id").as("pb")))
      .filter(col("pa") < col("pb"))
    val tagged = filled.crossJoin(broadcast(pairs))
      .filter(col("dow") === col("pa") || col("dow") === col("pb"))
      .withColumn("g1", when(col("dow") === col("pa"), 1L).otherwise(0L))
    val grp = tagged.groupBy(col("pa"), col("pb"), col("c"))
      .agg(count(lit(1)).as("t"), sum(col("g1")).as("t1"))
      .withColumn("cum", coalesce(sum(col("t")).over(
        Window.partitionBy(col("pa"), col("pb")).orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("cum") + col("t") + 1L)
    val z = grp.groupBy(col("pa"), col("pb"))
      .agg(sum(col("t")).as("n"), sum(col("t1")).as("n1"),
        sum(col("t1") * col("dr")).as("r1d"),
        sum(expr("t * t * t - t")).as("tie3"))
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("diff",
        col("r1d") - col("n1") * (col("n1") + 1L) - col("n1") * col("n2"))
      .withColumn("z2_micro", expr(
        "CAST((CAST(3000000 AS DECIMAL(38,0)) * n * (n - 1) * diff * " +
          "diff) div greatest(CAST(n1 AS DECIMAL(38,0)) * n2 * " +
          "(n * (n - 1) * (n + 1) - tie3), CAST(1 AS DECIMAL(38,0))) " +
          "AS BIGINT)"))
    val ranked = z.withColumn("rk", row_number().over(
      Window.orderBy(col("z2_micro").desc, col("pa"), col("pb")))
      .cast("long"))
      .withColumn("crit_micro",
        element_at(crit, (lit(22L) - col("rk")).cast("int")))
      .withColumn("step_ok",
        when(col("z2_micro") > col("crit_micro"), 1L).otherwise(0L))
      .withColumn("holm_significant",
        min(col("step_ok")).over(Window.orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, 0)) === 1L)
    ranked.select(col("pa").as("dow_a"), col("pb").as("dow_b"),
      col("n1").as("n_a"), col("n2").as("n_b"), col("z2_micro"),
      col("rk").as("holm_rank"), col("crit_micro"),
      col("holm_significant"))
      .orderBy(col("dow_a"), col("dow_b"))
  }

  private lazy val posthocOracle: String = {
    val critVals = HolmCritMicro.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c}::BIGINT)" }.mkString(", ")
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, (g.day + 4) % 7 AS dow, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |pr AS (SELECT a.pa, bb.pb
       |  FROM (SELECT unnest(range(0, 7)) AS pa) a,
       |    (SELECT unnest(range(0, 7)) AS pb) bb
       |  WHERE a.pa < bb.pb),
       |tg AS (SELECT pr.pa, pr.pb, f.c,
       |    CASE WHEN f.dow = pr.pa THEN 1 ELSE 0 END AS g1
       |  FROM f JOIN pr ON f.dow = pr.pa OR f.dow = pr.pb),
       |grp AS (SELECT pa, pb, c, CAST(COUNT(*) AS BIGINT) AS t,
       |    CAST(SUM(g1) AS BIGINT) AS t1 FROM tg GROUP BY 1, 2, 3),
       |w AS (SELECT *, COALESCE(CAST(SUM(t) OVER (PARTITION BY pa, pb
       |      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING) AS BIGINT), 0) AS cum FROM grp),
       |dr AS (SELECT *, 2 * cum + t + 1 AS dr FROM w),
       |z AS (SELECT pa, pb, CAST(SUM(t) AS BIGINT) AS n,
       |    CAST(SUM(t1) AS BIGINT) AS n1,
       |    CAST(SUM(t1 * dr) AS BIGINT) AS r1d,
       |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
       |  FROM dr GROUP BY 1, 2),
       |z2 AS (SELECT pa, pb, n1, n - n1 AS n2,
       |    r1d - n1 * (n1 + 1) - n1 * (n - n1) AS diff, n, tie3
       |  FROM z),
       |zz AS (SELECT pa, pb, n1, n2,
       |    CAST((CAST(3000000 AS HUGEINT) * n * (n - 1) * diff * diff)
       |      // GREATEST(CAST(n1 AS HUGEINT) * n2 *
       |      (n * (n - 1) * (n + 1) - tie3), 1) AS BIGINT) AS z2_micro
       |  FROM z2),
       |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY z2_micro DESC,
       |    pa, pb) AS BIGINT) AS rk FROM zz),
       |crit(k, crit_micro) AS (VALUES $critVals),
       |st AS (SELECT rk.*, crit.crit_micro,
       |    CASE WHEN rk.z2_micro > crit.crit_micro THEN 1 ELSE 0 END
       |      AS step_ok
       |  FROM rk JOIN crit ON crit.k = 22 - rk.rk),
       |hm AS (SELECT *, CAST(MIN(step_ok) OVER (ORDER BY rk
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_min FROM st)
       |SELECT pa AS dow_a, pb AS dow_b, n1 AS n_a, n2 AS n_b,
       |  z2_micro, rk AS holm_rank, crit_micro,
       |  run_min = 1 AS holm_significant
       |FROM hm ORDER BY dow_a, dow_b""".stripMargin
  }

  // ------------------------------------------- q282 PACF profile
  /** q282: the partial autocorrelation function via Durbin-Levinson
    * (Durbin, Biometrika 1960; Box & Jenkins §3.2.3), lags 1..14,
    * CONSUMING q240's gated r_milli — the third leg of the
    * identification tripod: ACF (q240) reads MA signatures, PACF
    * reads AR signatures (an AR(p) cuts off after lag p), Ljung-Box
    * (q262) tests the joint null. Eval loop #17.
    *
    * Exactness: the DL recursion divides at every level, so it is
    * quantized PER STEP like q273's EWMA — all quantities in micro,
    *   φ_mm = (10⁶·(R_m − Σφ_{m−1,j}R_{m−j} div 10⁶)) div
    *          (10⁶ − Σφ_{m−1,j}R_j div 10⁶),
    *   φ_mj = φ_{m−1,j} − (φ_mm·φ_{m−1,m−j}) div 10⁶,
    * with R = 1000·r_milli. Truncating division agrees between Scala,
    * Spark and DuckDB on negatives (the r16 measurement); products are
    * ≤ 10¹²·14 — Long-safe. The 14-level recursion folds 14 rows on
    * the driver (metadata-scale by construction) and replays as a
    * recursive CTE carrying the φ list. The white-noise band is the
    * same ±2/√n as q240: φ_micro²·n > 4·10¹².
    *
    * Scale shape: q240's day-grid kernel + a 14-step driver fold. */
  def q282_pacf(s: SparkSession, dir: String): DataFrame = {
    val acf = acfFrame(s, dir, 14).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._1)
    // Degenerate-input guard (ADVICE r16): a day grid shorter than 15
    // days yields fewer than 14 lag rows (the lag join is empty past
    // the horizon) and the rr(m−1) indexing below would throw a bare
    // ArrayIndexOutOfBounds; fail loudly and descriptively instead.
    require(acf.length == 14,
      s"q282_pacf: Durbin-Levinson to lag 14 needs a day grid longer " +
        s"than 15 days; the ACF kernel produced only ${acf.length} " +
        s"lag rows")
    val n = acf.head._2
    val rr = acf.map(_._3 * 1000L) // micro, rr(0) = R_1
    def dot(phis: Array[Long], f: Int => Long): Long = {
      var s0 = 0L
      for (j <- 1 to phis.length) s0 += phis(j - 1) * f(j)
      s0
    }
    var phis = Array(rr(0))
    val out = scala.collection.mutable.ArrayBuffer((1L, rr(0)))
    for (m <- 2 to 14) {
      val k = m - 1
      val num = rr(m - 1) - dot(phis, j => rr(m - 1 - j)) / 1000000L
      val den = 1000000L - dot(phis, j => rr(j - 1)) / 1000000L
      val phikk = 1000000L * num / (if (den == 0L) 1L else den)
      phis = Array.tabulate(k)(i =>
        phis(i) - phikk * phis(k - 1 - i) / 1000000L) :+ phikk
      out += ((m.toLong, phikk))
    }
    import s.implicits._
    out.toSeq.toDF("lag", "phi_micro")
      .withColumn("n_days", lit(n))
      .withColumn("significant",
        expr("phi_micro * phi_micro * n_days > 4000000000000"))
      .orderBy(col("lag"))
  }

  private lazy val pacfOracle: String =
    s"""WITH RECURSIVE daily AS (SELECT epoch_us(ts) // 86400000000
       |    AS day, CAST(COUNT(*) AS BIGINT) AS c FROM events
       |  GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s FROM f),
       |y AS (SELECT day, n * c - s AS y, n FROM f CROSS JOIN tot),
       |den AS (SELECT SUM(CAST(y AS HUGEINT) * y) AS den, MAX(n) AS n
       |  FROM y),
       |lags AS (SELECT CAST(unnest(range(1, 15)) AS BIGINT) AS lag),
       |nums AS (SELECT l.lag, SUM(CAST(a.y AS HUGEINT) * b2.y) AS num
       |  FROM y a CROSS JOIN lags l
       |  JOIN y b2 ON a.day - l.lag = b2.day GROUP BY l.lag),
       |r AS (SELECT n2.lag,
       |    CAST((1000 * n2.num) // GREATEST(den.den, 1) AS BIGINT)
       |      AS r_milli FROM nums n2 CROSS JOIN den),
       |rl AS (SELECT list(r_milli * 1000 ORDER BY lag) AS rr FROM r),
       |dl(m, phis) AS (
       |  SELECT CAST(1 AS BIGINT), [rr[1]] FROM rl
       |  UNION ALL
       |  SELECT m + 1, list_append(
       |      list_transform(range(1, CAST(m + 1 AS INTEGER)),
       |        j -> phis[j] - (phikk * phis[CAST(m AS INTEGER) + 1 - j])
       |          // 1000000),
       |      phikk)
       |  FROM (SELECT m, phis,
       |      (1000000 * (rr[CAST(m AS INTEGER) + 1] -
       |        CAST(list_sum(list_transform(
       |          range(1, CAST(m + 1 AS INTEGER)),
       |          j -> phis[j] * rr[CAST(m AS INTEGER) + 1 - j]))
       |          AS BIGINT) // 1000000)) //
       |      CASE WHEN (1000000 - CAST(list_sum(list_transform(
       |          range(1, CAST(m + 1 AS INTEGER)),
       |          j -> phis[j] * rr[j])) AS BIGINT) // 1000000) = 0
       |        THEN 1
       |        ELSE (1000000 - CAST(list_sum(list_transform(
       |          range(1, CAST(m + 1 AS INTEGER)),
       |          j -> phis[j] * rr[j])) AS BIGINT) // 1000000) END
       |        AS phikk
       |    FROM dl CROSS JOIN rl WHERE m < 14) t)
       |SELECT dl.m AS lag, CAST(phis[CAST(dl.m AS INTEGER)] AS BIGINT)
       |    AS phi_micro,
       |  den.n AS n_days,
       |  CAST(phis[CAST(dl.m AS INTEGER)] AS BIGINT) *
       |    CAST(phis[CAST(dl.m AS INTEGER)] AS BIGINT) * den.n
       |    > 4000000000000 AS significant
       |FROM dl CROSS JOIN den ORDER BY dl.m""".stripMargin

  // -------------------------------------- q281 turning-points test
  /** q281: the turning-points test for randomness (Kendall & Stuart,
    * "The Advanced Theory of Statistics" vol. 3 §45.18; Bienaymé 1874
    * for the expectation) on the daily series — the runs test's (q264)
    * companion with a different alternative: runs-about-the-median
    * catches LEVEL persistence, turning points catch local
    * oscillation structure (too few turns = smooth drift, too many =
    * alternation). Only STRICT local extrema count; tied plateaus
    * contribute nothing (the standard discrete-data caveat, mirrored
    * in both engines).
    *
    * Exactness: T counts lag/lead strict comparisons; E[T] =
    * 2(n−2)/3, Var[T] = (16n−29)/90, and z² > 1.96² squares into
    *   9·10⁵·(3T − 2(n−2))² > 345744·(16n−29)
    * — exact BIGINTs at any horizon (LHS ≤ 9·10⁵·(3n)² — Long-safe to
    * n ≈ 10⁶ days).
    *
    * Scale shape: day-grid window algebra, one aggregate. */
  def q281_turning_points(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.orderBy(col("day"))
    filled
      .withColumn("p", lag(col("c"), 1).over(w))
      .withColumn("nx", lead(col("c"), 1).over(w))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull && col("nx").isNotNull &&
          ((col("c") > col("p") && col("c") > col("nx")) ||
            (col("c") < col("p") && col("c") < col("nx"))), 1L)
          .otherwise(0L)).as("t_turns"))
      .select(col("n").as("n_days"), col("t_turns"),
        expr("(2000 * (n - 2)) div 3").as("expected_milli"),
        expr("900000 * (3 * t_turns - 2 * (n - 2)) * " +
          "(3 * t_turns - 2 * (n - 2)) > 345744 * (16 * n - 29)")
          .as("significant"))
  }

  private lazy val turnsOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |lg AS (SELECT c, LAG(c) OVER (ORDER BY day) AS p,
       |    LEAD(c) OVER (ORDER BY day) AS nx FROM f),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN p IS NOT NULL AND nx IS NOT NULL AND
       |      ((c > p AND c > nx) OR (c < p AND c < nx))
       |      THEN 1 ELSE 0 END) AS BIGINT) AS t_turns FROM lg)
       |SELECT n AS n_days, t_turns,
       |  (2000 * (n - 2)) // 3 AS expected_milli,
       |  900000 * (3 * t_turns - 2 * (n - 2)) *
       |    (3 * t_turns - 2 * (n - 2)) > 345744 * (16 * n - 29)
       |    AS significant
       |FROM ag""".stripMargin

  // --------------------------------------- q279 decomposition strength
  /** q279: seasonal and trend STRENGTH of the daily series (Hyndman &
    * Athanasopoulos, "Forecasting: Principles and Practice" §3.4 —
    * the Wang-Smith-Hyndman feature pair: F_S = max(0, 1 −
    * Var(R)/Var(S+R)), F_T likewise against T+R) CONSUMING q220's
    * gated decomposition — eval loop #16: q220 produces the
    * components, q279 reduces them to the two numbers a forecasting
    * triage reads ("is this series worth a seasonal model?"), the
    * justification for q232's seasonal-naive choice.
    *
    * Exactness: q220's components are ×7-scaled integers; variances
    * scale by 49 uniformly so the STRENGTH ratios are unchanged —
    * each variance lifts to n·Σx² − (Σx)² (DECIMAL(38,0)), and
    * strength_milli = greatest(0, 1000 − (1000·num) div den) is one
    * quantized division of exact integers.
    *
    * Scale shape: one aggregate over q220's interior day grid. */
  def q279_seasonal_strength(s: SparkSession, dir: String): DataFrame = {
    val base = q220_seasonal_decompose(s, dir)
      .select(col("remainder7").as("r"),
        (col("seasonal7") + col("remainder7")).as("sr"),
        (col("trend7") + col("remainder7")).as("tr"))
    base.agg(count(lit(1)).as("n"),
      sum(col("r")).as("s_r"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("s_r2"),
      sum(col("sr")).as("s_sr"),
      sum(expr("CAST(sr AS DECIMAL(38,0)) * sr")).as("s_sr2"),
      sum(col("tr")).as("s_tr"),
      sum(expr("CAST(tr AS DECIMAL(38,0)) * tr")).as("s_tr2"))
      .select(col("n").as("n_interior"),
        expr("greatest(0L, 1000 - CAST((CAST(1000 AS DECIMAL(38,0)) * " +
          "(n * s_r2 - CAST(s_r AS DECIMAL(38,0)) * s_r)) div " +
          "greatest(CAST(n AS DECIMAL(38,0)) * s_sr2 - " +
          "CAST(s_sr AS DECIMAL(38,0)) * s_sr, " +
          "CAST(1 AS DECIMAL(38,0))) AS BIGINT))")
          .as("seasonal_strength_milli"),
        expr("greatest(0L, 1000 - CAST((CAST(1000 AS DECIMAL(38,0)) * " +
          "(n * s_r2 - CAST(s_r AS DECIMAL(38,0)) * s_r)) div " +
          "greatest(CAST(n AS DECIMAL(38,0)) * s_tr2 - " +
          "CAST(s_tr AS DECIMAL(38,0)) * s_tr, " +
          "CAST(1 AS DECIMAL(38,0))) AS BIGINT))")
          .as("trend_strength_milli"))
  }

  private lazy val strengthOracle: String =
    s"""WITH base AS (SELECT remainder7 AS r,
       |    seasonal7 + remainder7 AS sr, trend7 + remainder7 AS tr
       |  FROM ($seasonalOracle) q220),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(r) AS BIGINT) AS s_r,
       |    SUM(CAST(r AS HUGEINT) * r) AS s_r2,
       |    CAST(SUM(sr) AS BIGINT) AS s_sr,
       |    SUM(CAST(sr AS HUGEINT) * sr) AS s_sr2,
       |    CAST(SUM(tr) AS BIGINT) AS s_tr,
       |    SUM(CAST(tr AS HUGEINT) * tr) AS s_tr2 FROM base)
       |SELECT n AS n_interior,
       |  GREATEST(0, 1000 - CAST((1000 * (n * s_r2 -
       |    CAST(s_r AS HUGEINT) * s_r)) // GREATEST(CAST(n AS HUGEINT)
       |    * s_sr2 - CAST(s_sr AS HUGEINT) * s_sr, 1) AS BIGINT))
       |    AS seasonal_strength_milli,
       |  GREATEST(0, 1000 - CAST((1000 * (n * s_r2 -
       |    CAST(s_r AS HUGEINT) * s_r)) // GREATEST(CAST(n AS HUGEINT)
       |    * s_tr2 - CAST(s_tr AS HUGEINT) * s_tr, 1) AS BIGINT))
       |    AS trend_strength_milli
       |FROM ag""".stripMargin

  // -------------------------------------- q278 Brown-Forsythe spread
  /** F(6, 23) upper-5% critical value in micro units (incomplete-beta
    * inversion, checked against the known F(1,10) = 4.965 entry) —
    * both df are structural: 7 day-of-week groups over the fixed
    * 30-day horizon. */
  private val FCrit623Micro = 2527655L

  /** q278: the Brown-Forsythe test for homogeneity of SPREAD across
    * day-of-week groups (Brown & Forsythe, JASA 1974 — Levene's test
    * with the median center, the robust variant) — the scale
    * counterpart of q267's location test: Kruskal-Wallis asks "do
    * weekdays differ in LEVEL", Brown-Forsythe asks "do they differ
    * in VOLATILITY" (a weekday whose variance explodes is an
    * operational signal even at an unchanged mean).
    *
    * Exactness: per-group lower medians are exact order statistics;
    * z = |x − median_g| are exact BIGINTs; the one-way ANOVA F on z
    * lifts by cross-multiplication — SSB quantizes per group as
    * ((Z_g·N − Z·n_g)²·10⁶) div (n_g·N²), SSW as 10⁶·Σz² −
    * Σ_g (10⁶·Z_g²) div n_g, and F_micro = (10⁶·(N−k)·ssb) div
    * ((k−1)·ssw) in DECIMAL(38,0); the verdict compares the
    * compile-time F(6,23) literal.
    *
    * Scale shape: day-grid value-group algebra; the median windows
    * are 7 per-dow partitions of the horizon. */
  def q278_brown_forsythe(s: SparkSession, dir: String): DataFrame = {
    val k = 7L
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("dow", pmod(col("day") + 4L, lit(7L)))
    val ranked = filled.withColumn("rk", row_number().over(
      Window.partitionBy(col("dow")).orderBy(col("c"), col("day")))
      .cast("long"))
      .withColumn("ng", count(lit(1)).over(
        Window.partitionBy(col("dow"))))
    val med = ranked.filter(col("rk") === expr("(ng + 1) div 2"))
      .select(col("dow"), col("c").as("med"))
    val z = filled.join(broadcast(med), Seq("dow"))
      .withColumn("z", abs(col("c") - col("med")))
    val perG = z.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_g"), sum(col("z")).as("z_g"),
        sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("z2_g"))
    val tot = perG.agg(sum(col("n_g")).as("nn"), sum(col("z_g")).as("zz"),
      sum(col("z2_g")).as("z2"))
    val stats = perG.crossJoin(broadcast(tot))
      .agg(
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * (z_g * nn - " +
          "zz * n_g) * (z_g * nn - zz * n_g)) div " +
          "(CAST(n_g AS DECIMAL(38,0)) * nn * nn)")).as("ssb_micro"),
        sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * z_g * z_g) div " +
          "CAST(n_g AS DECIMAL(38,0))")).as("w_sub"),
        max(col("nn")).as("nn"), max(col("z2")).as("z2"))
      .withColumn("ssw_micro",
        expr("CAST(1000000 AS DECIMAL(38,0)) * z2 - w_sub"))
    val f = stats.select(col("nn"),
      expr("CAST(ssb_micro AS BIGINT)").as("ssb_micro"),
      expr("CAST(ssw_micro AS BIGINT)").as("ssw_micro"),
      expr(s"CAST((CAST(1000000 AS DECIMAL(38,0)) * (nn - $k) * " +
        s"ssb_micro) div greatest(CAST(${k - 1} AS DECIMAL(38,0)) * " +
        "ssw_micro, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
        .as("f_micro"))
    med.crossJoin(broadcast(f))
      .select(col("dow"), col("med").as("group_median"),
        col("nn").as("n_days"), col("ssb_micro"), col("ssw_micro"),
        col("f_micro"),
        (col("f_micro") > FCrit623Micro).as("significant"))
      .orderBy(col("dow"))
  }

  private lazy val bfOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, (g.day + 4) % 7 AS dow, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |rk AS (SELECT dow, c,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY dow ORDER BY c, day)
       |      AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS ng
       |  FROM f),
       |med AS (SELECT dow, c AS med FROM rk WHERE rk = (ng + 1) // 2),
       |z AS (SELECT f.dow, abs(f.c - med.med) AS z
       |  FROM f JOIN med USING (dow)),
       |pg AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
       |    CAST(SUM(z) AS BIGINT) AS z_g,
       |    SUM(CAST(z AS HUGEINT) * z) AS z2_g FROM z GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
       |    CAST(SUM(z_g) AS BIGINT) AS zz, SUM(z2_g) AS z2 FROM pg),
       |st AS (SELECT
       |    SUM((1000000 * CAST(z_g * tot.nn - tot.zz * n_g AS HUGEINT)
       |      * (z_g * tot.nn - tot.zz * n_g)) //
       |      (CAST(n_g AS HUGEINT) * tot.nn * tot.nn)) AS ssb_micro,
       |    CAST(1000000 AS HUGEINT) * MAX(tot.z2) -
       |      SUM((1000000 * CAST(z_g AS HUGEINT) * z_g) //
       |      CAST(n_g AS HUGEINT)) AS ssw_micro,
       |    MAX(tot.nn) AS nn
       |  FROM pg CROSS JOIN tot),
       |ff AS (SELECT nn, CAST(ssb_micro AS BIGINT) AS ssb_micro,
       |    CAST(ssw_micro AS BIGINT) AS ssw_micro,
       |    CAST((CAST(1000000 AS HUGEINT) * (nn - 7) * ssb_micro) //
       |      GREATEST(CAST(6 AS HUGEINT) * ssw_micro, 1) AS BIGINT)
       |      AS f_micro FROM st)
       |SELECT med.dow, med.med AS group_median, ff.nn AS n_days,
       |  ff.ssb_micro, ff.ssw_micro, ff.f_micro,
       |  ff.f_micro > $FCrit623Micro AS significant
       |FROM med CROSS JOIN ff ORDER BY med.dow""".stripMargin

  // ----------------------------------------- q277 Friedman blocked test
  /** q277: the Friedman test with Kendall's W concordance (Friedman,
    * JASA 1937; Kendall & Babington Smith 1939) — day-of-week effects
    * BLOCKED by week: q267's Kruskal-Wallis pools all days into one
    * ranking, so a slow weekly trend inflates between-group spread;
    * Friedman ranks WITHIN each complete week, removing the
    * between-week level entirely — the repeated-measures design.
    * Kendall's W = χ²_r/(n(k−1)) rides the row as the effect size
    * ("how consistently do weeks agree on the weekday ordering").
    *
    * Exactness: blocks are complete 7-day windows of the grid
    * ((day − d0) div 7, partial tail week dropped — block size is
    * structural); within-block doubled tie-average ranks (the
    * q259/q267 kernel, partitioned by week — a 7-row window);
    * χ²_r = (3·10⁶·ΣRd_j²) div (n·k·(k+1)) − 3·10⁶·n·(k+1), the
    * tie correction one DECIMAL product-divide against
    * n·k·(k²−1) − Σ(t³−t), the verdict the compile-time χ²(6)
    * literal. Measured: h = 8.89·10⁶ (sf0.01) / 4.18·10⁶ (sf0.1) vs
    * crit 12.59·10⁶ — no weekday effect, consistent with q267.
    *
    * Scale shape: day-grid algebra; the rank windows are 7-row
    * blocks. */
  def q277_friedman(s: SparkSession, dir: String): DataFrame = {
    val k = 7L
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"),
        col("d0"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("wk", expr("(day - d0) div 7"))
      .withColumn("dow", pmod(col("day") + 4L, lit(7L)))
    val fullWk = filled.groupBy(col("wk"))
      .agg(count(lit(1)).as("wn")).filter(col("wn") === k)
      .select(col("wk"))
    val fb = filled.join(broadcast(fullWk), Seq("wk"))
    val grp = fb.groupBy(col("wk"), col("c"))
      .agg(count(lit(1)).as("t"))
      .withColumn("cum", coalesce(sum(col("t")).over(
        Window.partitionBy(col("wk")).orderBy(col("c")).rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("cum") + col("t") + 1L)
    val rk = fb.join(grp.select(col("wk"), col("c"), col("dr")),
        Seq("wk", "c"))
      .groupBy(col("dow")).agg(sum(col("dr")).as("rd"))
    val ties = grp.agg(sum(expr("t * t * t - t")).as("tie3"))
    val nb = fullWk.agg(count(lit(1)).as("n"))
    val hh = rk.crossJoin(broadcast(ties)).crossJoin(broadcast(nb))
      .groupBy(col("n"), col("tie3"))
      .agg(sum(expr("CAST(rd AS DECIMAL(38,0)) * rd")).as("srd2"))
      .select(col("n"), col("tie3"), expr(
        s"CAST(((CAST(3000000 AS DECIMAL(38,0)) * srd2) div " +
          s"(CAST(n AS DECIMAL(38,0)) * $k * ${k + 1}) " +
          s"- CAST(3000000 AS DECIMAL(38,0)) * n * ${k + 1}) " +
          "AS DECIMAL(38,0))").as("h0"))
      .select(col("n"), expr(
        s"CAST((h0 * (CAST(n AS DECIMAL(38,0)) * $k * ${k * k - 1})) " +
          s"div greatest(CAST(n AS DECIMAL(38,0)) * $k * ${k * k - 1} " +
          "- tie3, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
        .as("chi2r_micro"))
    rk.crossJoin(broadcast(hh))
      .select(col("dow"), col("rd").as("rank_sum_2x"),
        col("n").as("n_blocks"), col("chi2r_micro"),
        expr(s"chi2r_micro div (n * ${k - 1})").as("kendall_w_micro"),
        (col("chi2r_micro") > 12591587L).as("significant"))
      .orderBy(col("dow"))
  }

  private lazy val friedmanOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day,
       |    d0 FROM b),
       |f AS (SELECT g.day, (g.day - g.d0) // 7 AS wk,
       |    (g.day + 4) % 7 AS dow, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |fw AS (SELECT wk FROM f GROUP BY wk HAVING COUNT(*) = 7),
       |fb AS (SELECT f.* FROM f JOIN fw USING (wk)),
       |grp AS (SELECT wk, c, CAST(COUNT(*) AS BIGINT) AS t FROM fb
       |  GROUP BY 1, 2),
       |w2 AS (SELECT *, COALESCE(CAST(SUM(t) OVER (PARTITION BY wk
       |      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND
       |      1 PRECEDING) AS BIGINT), 0) AS cum FROM grp),
       |dr AS (SELECT wk, c, 2 * cum + t + 1 AS dr FROM w2),
       |rk AS (SELECT fb.dow, CAST(SUM(dr.dr) AS BIGINT) AS rd
       |  FROM fb JOIN dr ON dr.wk = fb.wk AND dr.c = fb.c GROUP BY 1),
       |ties AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
       |  FROM grp),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fw),
       |hh AS (SELECT nb.n, CAST((((3000000 *
       |      CAST(SUM(CAST(rd AS HUGEINT) * rd) AS HUGEINT)) //
       |      (CAST(nb.n AS HUGEINT) * 7 * 8)
       |      - CAST(3000000 AS HUGEINT) * nb.n * 8) *
       |      (CAST(nb.n AS HUGEINT) * 7 * 48)) //
       |      GREATEST(CAST(nb.n AS HUGEINT) * 7 * 48 - ties.tie3, 1)
       |      AS BIGINT) AS chi2r_micro
       |  FROM rk CROSS JOIN ties CROSS JOIN nb
       |  GROUP BY nb.n, ties.tie3)
       |SELECT rk.dow, rk.rd AS rank_sum_2x, hh.n AS n_blocks,
       |  hh.chi2r_micro,
       |  hh.chi2r_micro // (hh.n * 6) AS kendall_w_micro,
       |  hh.chi2r_micro > 12591587 AS significant
       |FROM rk CROSS JOIN hh ORDER BY rk.dow""".stripMargin

  // ------------------------------------- q268 Cochran-Armitage trend
  /** q268: the Cochran-Armitage test for trend in proportions
    * (Cochran, Biometrics 1954; Armitage, Biometrics 1955) — does
    * "first event is a purchase" TREND with user activity level?
    * Groups are the distinct per-user event counts (the dose w IS the
    * activity value — the textbook dose-scored version, no quantile
    * binning); the outcome is whether a purchase sits at the user's
    * minimum event timestamp (MEASURED non-degenerate: 29/150 at
    * sf0.01, 294/1500 at sf0.1 — "ever purchased" measured degenerate
    * at 150/150 and was rejected). This is the ordered-group test the
    * unordered q266 chi-square cannot express: a monotone propensity
    * gradient concentrates evidence into one df.
    *
    * Exactness: with per-dose (n_i users, c_i purchasers), N = Σn,
    * C = Σc, the statistic lifts to integers as
    *   A = Σ w_i·(c_i·N − n_i·C)   (N²·T for the textbook T)
    *   B = C·(N−C)·(N·Σw²n − (Σw·n)²)   (N⁴·Var)
    * and z² = A²·N/B, so the verdict is 10⁴·A²·N > 38416·B in
    * DECIMAL(38,0); z2_micro = (10⁶·A²·N) div B reports the exact
    * quantized statistic. The loud assert bounds |A| and the B factors
    * where the decimal frontier (10³⁸) would pass.
    *
    * Scale shape: one user-keyed rollup, then value-group (dose)
    * algebra — the dose table is bounded by the distinct activity
    * values, catalog-sized at any corpus. */
  def q268_cochran_armitage(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("w"), min(col("ts_us")).as("fe"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("fp"))
      .withColumn("purch",
        when(col("fp") === col("fe"), 1L).otherwise(0L))
    val doses = users.groupBy(col("w"))
      .agg(count(lit(1)).as("n_i"), sum(col("purch")).as("c_i"))
    val tot = doses.agg(sum(col("n_i")).as("nn"), sum(col("c_i")).as("cc"),
      count(lit(1)).as("n_doses"))
    val stats = doses.crossJoin(broadcast(tot))
      .agg(
        sum(expr("CAST(w AS DECIMAL(38,0)) * (c_i * nn - n_i * cc)"))
          .as("a_dec"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * w * n_i")).as("w2n"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * n_i")).as("wn"),
        max(col("nn")).as("nn"), max(col("cc")).as("cc"),
        max(col("n_doses")).as("n_doses"))
      .withColumn("b_dec", expr(
        "CAST(cc AS DECIMAL(38,0)) * (nn - cc) * " +
          "(CAST(nn AS DECIMAL(38,0)) * w2n - wn * wn)"))
      // exact decimal-frontier guard: 10⁶·A²·N ≤ 10³⁷ and 38416·B ≤
      // ~4·10³⁷ keep every product inside DECIMAL(38,0)/HUGEINT.
      // Compare PRODUCTS, never decimal `div`: Spark's div on decimals
      // casts the quotient to BIGINT with SILENT wraparound (measured
      // this round: 1e31 div 150 = -7040234678130136406)
      .filter(coalesce(assert_true(
        expr("abs(a_dec) <= CAST(3e15 AS DECIMAL(38,0)) and " +
          "a_dec * a_dec * nn <= CAST(1e31 AS DECIMAL(38,0)) and " +
          "b_dec <= CAST(1e33 AS DECIMAL(38,0))"),
        lit("Cochran-Armitage cross-products approach the " +
          "DECIMAL(38,0) frontier: report in wider units at this " +
          "corpus scale")), lit(true)))
    stats.select(col("nn").as("n_users"), col("cc").as("n_purchasers"),
      col("n_doses"),
      expr("CAST(a_dec AS BIGINT)").as("a_stat"),
      expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * a_dec * a_dec * nn) " +
        "div greatest(b_dec, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
        .as("z2_micro"),
      expr("CAST(10000 AS DECIMAL(38,0)) * a_dec * a_dec * nn > " +
        "CAST(38416 AS DECIMAL(38,0)) * b_dec").as("significant"))
  }

  private lazy val caOracle: String =
    s"""WITH u0 AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS w,
       |    MIN(epoch_us(ts)) AS fe,
       |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
       |      AS fp
       |  FROM events GROUP BY 1),
       |users AS (SELECT user_id, w,
       |    CASE WHEN fp = fe THEN 1 ELSE 0 END AS purch FROM u0),
       |doses AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_i,
       |    CAST(SUM(purch) AS BIGINT) AS c_i FROM users GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_i) AS BIGINT) AS nn,
       |    CAST(SUM(c_i) AS BIGINT) AS cc,
       |    CAST(COUNT(*) AS BIGINT) AS n_doses FROM doses),
       |st AS (SELECT
       |    SUM(CAST(w AS HUGEINT) * (c_i * tot.nn - n_i * tot.cc))
       |      AS a_h,
       |    SUM(CAST(w AS HUGEINT) * w * n_i) AS w2n,
       |    SUM(CAST(w AS HUGEINT) * n_i) AS wn,
       |    MAX(tot.nn) AS nn, MAX(tot.cc) AS cc,
       |    MAX(tot.n_doses) AS n_doses
       |  FROM doses CROSS JOIN tot),
       |b AS (SELECT *, CAST(cc AS HUGEINT) * (nn - cc) *
       |    (CAST(nn AS HUGEINT) * w2n - wn * wn) AS b_h FROM st)
       |SELECT nn AS n_users, cc AS n_purchasers, n_doses,
       |  CAST(a_h AS BIGINT) AS a_stat,
       |  CAST((1000000 * a_h * a_h * nn) // GREATEST(b_h, 1) AS BIGINT)
       |    AS z2_micro,
       |  10000 * a_h * a_h * nn > 38416 * b_h AS significant
       |FROM b""".stripMargin

  // ----------------------------------------- q267 Kruskal-Wallis H
  /** q267: the Kruskal-Wallis rank test (Kruskal & Wallis, JASA 1952)
    * for the daily event volume across the SEVEN days of the week —
    * the k-group generalization of q259's two-group rank test ("does
    * any weekday differ?", the omnibus question to ask before q259's
    * pairwise contrast), with the tie-corrected H referred to χ²(6).
    *
    * Exactness: the q259 doubled-rank machinery (tie group at values
    * below cum: doubled average rank 2·cum + t + 1) gives integer
    * doubled rank sums Rd_g per group; with R_g = Rd_g/2,
    *   H₀ = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1)
    * lifts to micro as Σ_g ((3·10⁶·Rd_g²) div n_g) div (N(N+1)) −
    * 3·10⁶·(N+1) (per-group quantization before the sum, DECIMAL for
    * the squares), and the tie correction multiplies by
    * (N³−N)/((N³−N) − Σ(t³−t)) as one exact DECIMAL product-divide.
    * The verdict compares h_micro against the compile-time χ²(6)
    * literal. Mean ranks report as (500·Rd_g) div n_g milli.
    *
    * Scale shape: day-grid value-group algebra throughout (the q259
    * shape with a 7-way group key); nothing corpus-sized. */
  def q267_kruskal_wallis(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("dow", pmod(col("day") + 4L, lit(7L)))
    val byVal = filled.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .withColumn("cum", coalesce(sum(col("t")).over(
        Window.orderBy(col("c")).rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("cum") + col("t") + 1L)
    val rg = filled.groupBy(col("c"), col("dow"))
      .agg(count(lit(1)).as("tg"))
      .join(broadcast(byVal.select(col("c"), col("dr"))), Seq("c"))
      .groupBy(col("dow"))
      .agg(sum(col("tg")).as("ng"), sum(col("tg") * col("dr")).as("rd"))
    val tot = byVal.agg(sum(col("t")).as("n"),
      sum(expr("t * t * t - t")).as("tie3"))
    val hh = rg.crossJoin(broadcast(tot))
      .select(expr(
        "(CAST(3000000 AS DECIMAL(38,0)) * rd * rd) div " +
          "CAST(ng AS DECIMAL(38,0))").as("contrib"),
        col("n"), col("tie3"))
      .groupBy(col("n"), col("tie3"))
      .agg(sum(col("contrib")).as("sc"))
      .select(col("n"), col("tie3"), expr(
        "CAST((sc div (CAST(n AS DECIMAL(38,0)) * (n + 1))) " +
          "- CAST(3000000 AS DECIMAL(38,0)) * (n + 1) AS DECIMAL(38,0))")
        .as("h0"), expr("CAST(n AS DECIMAL(38,0)) * n * n - n")
        .as("n3n"))
      .select(col("n"), col("tie3"),
        expr("CAST((h0 * n3n) div greatest(n3n - tie3, " +
          "CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("h_micro"))
    rg.crossJoin(broadcast(hh))
      .select(col("dow"), col("ng").as("n_days"),
        col("rd").as("rank_sum_2x"),
        expr("(500 * rd) div ng").as("mean_rank_milli"),
        col("h_micro"),
        (col("h_micro") > 12591587L).as("significant"))
      .orderBy(col("dow"))
  }

  private lazy val kwOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bnd),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    (g.day + 4) % 7 AS dow
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |bv AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM f
       |  GROUP BY 1),
       |w AS (SELECT *, COALESCE(CAST(SUM(t) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS cum FROM bv),
       |dr AS (SELECT c, 2 * cum + t + 1 AS dr FROM w),
       |rg AS (SELECT f.dow, CAST(COUNT(*) AS BIGINT) AS ng,
       |    CAST(SUM(dr.dr) AS BIGINT) AS rd
       |  FROM f JOIN dr USING (c) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
       |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM bv),
       |hh AS (SELECT
       |    CAST(((SUM((3000000 * CAST(rd AS HUGEINT) * rd) //
       |        CAST(ng AS HUGEINT)) //
       |      (CAST(tot.n AS HUGEINT) * (tot.n + 1))
       |      - CAST(3000000 AS HUGEINT) * (tot.n + 1)) *
       |      (CAST(tot.n AS HUGEINT) * tot.n * tot.n - tot.n)) //
       |      GREATEST(CAST(tot.n AS HUGEINT) * tot.n * tot.n - tot.n
       |        - tot.tie3, 1) AS BIGINT) AS h_micro
       |  FROM rg CROSS JOIN tot GROUP BY tot.n, tot.tie3)
       |SELECT rg.dow, rg.ng AS n_days, rg.rd AS rank_sum_2x,
       |  (500 * rg.rd) // rg.ng AS mean_rank_milli, hh.h_micro,
       |  hh.h_micro > 12591587 AS significant
       |FROM rg CROSS JOIN hh ORDER BY rg.dow""".stripMargin

  // ------------------------------------------ q265 permutation test
  private val PermReps = 1000L

  /** q265: Fisher's randomization (permutation) test (Fisher 1935;
    * p-value convention of Phipson & Smyth 2010 — add-one on both
    * sides, the version that never reports p = 0) for the
    * weekend-vs-weekday difference in daily event volume — the EXACT
    * companion of q259's rank test: same contrast, but the null is
    * "labels are exchangeable" and the reference distribution is the
    * data's own, no normal approximation at all.
    *
    * Determinism: permutation b ranks the days by
    * splitmix64(b·1000003 + day) (the q255/q218 seeding discipline —
    * both engines materialize the IDENTICAL 1000 label shuffles; the
    * first n₁ ranks take the weekend label). The statistic is the
    * scale-free integer form T = |S₁·n₂ − S₂·n₁| (cross-multiplied
    * mean difference — no division anywhere), so the exceedance count
    * and p_permille = (1000·(1+#{T_b ≥ T_obs})) div (B+1) are exact
    * BIGINTs in both engines.
    *
    * Scale shape: the shuffle frame is B × horizon days (grid algebra,
    * corpus never enters); the per-b rank window partitions on b —
    * B-way parallel, each partition horizon-sized. */
  def q265_permutation_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("wkend",
        when(pmod(col("day") + 4L, lit(7L)).isin(0L, 6L), 1L)
          .otherwise(0L))
    val grp = filled.agg(
      sum(col("wkend")).as("n1"), count(lit(1)).as("nn"),
      sum(col("c")).as("s_tot"),
      sum(when(col("wkend") === 1L, col("c")).otherwise(0L)).as("s1"))
      .withColumn("n2", col("nn") - col("n1"))
      .withColumn("t_obs",
        abs(col("s1") * col("n2") - (col("s_tot") - col("s1")) * col("n1")))
    val draws = s.range(0, PermReps).select(col("id").as("b"))
      .crossJoin(filled.select(col("day"), col("c")))
      .withColumn("h", JoinCard.splitmix64(
        col("b") * 1000003L + col("day")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("h"), col("day")))
        .cast("long"))
    val perms = draws.crossJoin(broadcast(grp.select(
        col("n1"), col("n2"), col("s_tot"), col("t_obs"))))
      .groupBy(col("b"))
      .agg(sum(when(col("rk") <= col("n1"), col("c")).otherwise(0L))
        .as("s1b"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("s_tot")).as("s_tot"), max(col("t_obs")).as("t_obs"))
      .withColumn("t_b",
        abs(col("s1b") * col("n2") - (col("s_tot") - col("s1b")) * col("n1")))
    perms.agg(
      max(col("n1")).as("n_weekend"), max(col("n2")).as("n_weekday"),
      max(col("t_obs")).as("t_obs"), count(lit(1)).as("b_reps"),
      sum(when(col("t_b") >= col("t_obs"), 1L).otherwise(0L)).as("n_ge"))
      .select(col("n_weekend"), col("n_weekday"), col("t_obs"),
        col("b_reps"), col("n_ge"),
        expr("(1000 * (1 + n_ge)) div (b_reps + 1)").as("p_permille"),
        (expr("(1000 * (1 + n_ge)) div (b_reps + 1)") < 50L)
          .as("significant"))
  }

  private lazy val permOracle: String = {
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
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bnd),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    CASE WHEN ((g.day + 4) % 7) IN (0, 6) THEN 1 ELSE 0 END
       |      AS wkend
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |grp AS (SELECT CAST(SUM(wkend) AS BIGINT) AS n1,
       |    CAST(COUNT(*) AS BIGINT) AS nn,
       |    CAST(SUM(c) AS BIGINT) AS s_tot,
       |    CAST(SUM(CASE WHEN wkend = 1 THEN c ELSE 0 END) AS BIGINT)
       |      AS s1 FROM f),
       |g2 AS (SELECT n1, nn - n1 AS n2, s_tot,
       |    abs(s1 * (nn - n1) - (s_tot - s1) * n1) AS t_obs FROM grp),
       |dr AS (SELECT CAST(b.b AS BIGINT) AS b, f.day, f.c,
       |    CAST(CAST(b.b AS HUGEINT) * 1000003 + f.day AS HUGEINT)
       |      % 18446744073709551616 AS z
       |  FROM (SELECT unnest(range(0, $PermReps)) AS b) b CROSS JOIN f),
       |s1c AS (SELECT b, day, c, $z1 AS z1 FROM dr),
       |s2 AS (SELECT b, day, c, xor(z1, z1 // 1073741824) AS x1 FROM s1c),
       |s3 AS (SELECT b, day, c, $m2 AS z2 FROM s2),
       |s4 AS (SELECT b, day, c, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT b, day, c, $m3 AS z3 FROM s4),
       |s6 AS (SELECT b, day, c,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS h
       |  FROM (SELECT b, day, c, xor(z3, z3 // 2147483648) AS m
       |    FROM s5) t),
       |rk AS (SELECT b, c, CAST(ROW_NUMBER() OVER (PARTITION BY b
       |    ORDER BY h, day) AS BIGINT) AS rk FROM s6),
       |pm AS (SELECT rk.b,
       |    CAST(SUM(CASE WHEN rk.rk <= g2.n1 THEN rk.c ELSE 0 END)
       |      AS BIGINT) AS s1b
       |  FROM rk CROSS JOIN g2 GROUP BY 1),
       |tb AS (SELECT pm.b,
       |    abs(pm.s1b * g2.n2 - (g2.s_tot - pm.s1b) * g2.n1) AS t_b
       |  FROM pm CROSS JOIN g2),
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_reps,
       |    CAST(SUM(CASE WHEN tb.t_b >= g2.t_obs THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_ge
       |  FROM tb CROSS JOIN g2)
       |SELECT g2.n1 AS n_weekend, g2.n2 AS n_weekday, g2.t_obs,
       |  ex.b_reps, ex.n_ge,
       |  (1000 * (1 + ex.n_ge)) // (ex.b_reps + 1) AS p_permille,
       |  (1000 * (1 + ex.n_ge)) // (ex.b_reps + 1) < 50 AS significant
       |FROM g2 CROSS JOIN ex""".stripMargin
  }

  // ---------------------------------------- q264 Wald-Wolfowitz runs
  /** q264: the Wald-Wolfowitz runs test (Wald & Wolfowitz, Ann. Math.
    * Stat. 1940) for randomness of the daily event series about its
    * median — the monitoring family's randomness check: q251 asks
    * "monotone trend?", q262 asks "autocorrelated?", the runs test
    * asks "does the sign sequence itself look random?" (too FEW runs =
    * clustering/regime persistence, too MANY = oscillation). Days
    * equal to the median drop, per the textbook treatment.
    *
    * Exactness: the median is an exact order statistic (lower median,
    * rank (n+1) div 2 — the q258 protocol); runs count by one lag
    * comparison over the day-ordered sign sequence; with N = n₁+n₂
    * and A = 2·n₁·n₂ the normal-approximation significance
    * z² = (R−μ)²/σ², μ = 1 + A/N, σ² = A(A−N)/(N²(N−1)), squares into
    *   10⁴·(N−1)·(R·N − N − A)² > 38416·A·(A−N)
    * — one cross-multiplication in DECIMAL(38,0) (the LHS passes 2⁶³
    * near N ≈ 10⁴ days; decimal holds to 10³⁸). Expected runs are
    * reported as the exact milli quantity 1000 + (1000·A) div N.
    *
    * Scale shape: day-grid algebra end to end; the sign-sequence
    * window is horizon-sized (the corpus never enters a window). */
  def q264_runs_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val ranked = filled.withColumn("rk", row_number()
      .over(Window.orderBy(col("c"), col("day"))).cast("long"))
    val med = ranked.agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(ranked.select(col("rk"), col("c"))))
      .filter(col("rk") === expr("(nd + 1) div 2"))
      .select(col("c").as("median"))
    val signs = filled.crossJoin(broadcast(med))
      .filter(col("c") =!= col("median"))
      .withColumn("sgn", when(col("c") > col("median"), 1L).otherwise(-1L))
      .withColumn("prev",
        lag(col("sgn"), 1).over(Window.orderBy(col("day"))))
    val agg = signs.agg(
      sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n2"),
      (sum(when(col("prev").isNotNull && col("prev") =!= col("sgn"), 1L)
        .otherwise(0L)) + 1L).as("runs"))
    val ties = filled.crossJoin(broadcast(med))
      .agg(sum(when(col("c") === col("median"), 1L).otherwise(0L))
        .as("n_ties"))
    agg.crossJoin(broadcast(ties))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("aa", lit(2L) * col("n1") * col("n2"))
      .select(col("n1").as("n_above"), col("n2").as("n_below"),
        col("n_ties"), col("runs"),
        (lit(1000L) + expr("(1000 * aa) div greatest(nn, 1L)"))
          .as("runs_expected_milli"),
        expr("CAST(10000 AS DECIMAL(38,0)) * (nn - 1) * " +
          "(runs * nn - nn - aa) * (runs * nn - nn - aa) > " +
          "CAST(38416 AS DECIMAL(38,0)) * aa * (aa - nn)")
          .as("significant"))
  }

  private lazy val runsOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |rk AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, day)
       |    AS BIGINT) AS rk FROM f),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM f),
       |med AS (SELECT rk.c AS median FROM rk CROSS JOIN nd
       |  WHERE rk.rk = (nd.nd + 1) // 2),
       |sg AS (SELECT day, CASE WHEN c > (SELECT median FROM med)
       |      THEN 1 ELSE -1 END AS sgn
       |  FROM f WHERE c <> (SELECT median FROM med)),
       |lg AS (SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS prev FROM sg),
       |ag AS (SELECT
       |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n1,
       |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n2,
       |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> sgn
       |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
       |  FROM lg),
       |tie AS (SELECT CAST(SUM(CASE WHEN c = (SELECT median FROM med)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ties FROM f),
       |st AS (SELECT n1, n2, runs, n_ties, n1 + n2 AS nn,
       |    2 * n1 * n2 AS aa FROM ag CROSS JOIN tie)
       |SELECT n1 AS n_above, n2 AS n_below, n_ties, runs,
       |  1000 + (1000 * aa) // GREATEST(nn, 1) AS runs_expected_milli,
       |  CAST(10000 AS HUGEINT) * (nn - 1) *
       |    (runs * nn - nn - aa) * (runs * nn - nn - aa) >
       |    CAST(38416 AS HUGEINT) * aa * (aa - nn) AS significant
       |FROM st""".stripMargin

  // -------------------------------------------- q262 Ljung-Box test
  /** χ²(h) upper-5% critical values for h = 1..14 in micro units — the
    * standard table (e.g. Abramowitz & Stegun 26.8), compile-time
    * literals shared by both plans. */
  private val Chi2CritMicro: Seq[Long] = Seq(
    3841459L, 5991465L, 7814728L, 9487729L, 11070498L, 12591587L,
    14067140L, 15507313L, 16918978L, 18307038L, 19675138L, 21026070L,
    22362032L, 23684791L)

  /** q262: the Ljung-Box portmanteau test (Ljung & Box, Biometrika
    * 1978) CONSUMING q240's exact ACF kernel — eval loop #13: q240
    * reports per-lag r with a per-lag white-noise band; Ljung-Box asks
    * the JOINT question ("is the series white noise up to lag h?"),
    * the diagnostic every Box-Jenkins fit runs on its residuals.
    * Q(h) = n(n+2)·Σ_{k≤h} r_k²/(n−k), compared against the χ²(h)
    * upper-5% quantile at every h = 1..14 — the full identification
    * profile, not one number.
    *
    * Exactness: r_milli is q240's gated integer; r_milli² IS r² in
    * micro units, so q_cum_micro = n·(n+2)·Σ (r_milli² div (n−k)) —
    * per-term truncating division (quantize-before-sum), a 14-row
    * prefix sum, all BIGINT (n(n+2)·Σ ≤ 14·10⁶·n — Long-safe to
    * n ≈ 10⁵ days, i.e. any horizon); the verdict is one integer
    * comparison against the literal table, identical in both engines
    * by construction. The measured profile (max Q/crit 0.78 at sf0.1,
    * 0.64 at sf0.01) correctly reads "white noise" — consistent with
    * q251's no-trend and q240's all-inside-band.
    *
    * Scale shape: q240's day-grid algebra plus a 14-row window. */
  def q262_ljung_box(s: SparkSession, dir: String): DataFrame = {
    val crit = array(Chi2CritMicro.map(lit): _*)
    val wCum = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    acfFrame(s, dir, 14)
      .withColumn("term",
        expr("(r_milli * r_milli) div (n_days - lag)"))
      .withColumn("q_cum_micro",
        col("n_days") * (col("n_days") + 2L) *
          sum(col("term")).over(wCum))
      .withColumn("crit_micro", element_at(crit, col("lag").cast("int")))
      .select(col("lag"), col("r_milli"), col("q_cum_micro"),
        col("crit_micro"),
        (col("q_cum_micro") > col("crit_micro")).as("reject_white_noise"))
      .orderBy(col("lag"))
  }

  private lazy val ljungOracle: String = {
    val critVals = Chi2CritMicro.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, ${c}::BIGINT)" }.mkString(", ")
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s FROM f),
       |y AS (SELECT day, n * c - s AS y, n FROM f CROSS JOIN tot),
       |den AS (SELECT SUM(CAST(y AS HUGEINT) * y) AS den, MAX(n) AS n
       |  FROM y),
       |lags AS (SELECT CAST(unnest(range(1, 15)) AS BIGINT) AS lag),
       |nums AS (SELECT l.lag, SUM(CAST(a.y AS HUGEINT) * b2.y) AS num
       |  FROM y a CROSS JOIN lags l
       |  JOIN y b2 ON a.day - l.lag = b2.day
       |  GROUP BY l.lag),
       |r AS (SELECT n2.lag, den.n AS n_days,
       |    CAST((1000 * n2.num) // GREATEST(den.den, 1) AS BIGINT)
       |      AS r_milli
       |  FROM nums n2 CROSS JOIN den),
       |t AS (SELECT lag, n_days, r_milli,
       |    (r_milli * r_milli) // (n_days - lag) AS term FROM r),
       |qq AS (SELECT lag, r_milli,
       |    n_days * (n_days + 2) * CAST(SUM(term) OVER (ORDER BY lag
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q_cum_micro
       |  FROM t),
       |crit(lag, crit_micro) AS (VALUES $critVals)
       |SELECT qq.lag, qq.r_milli, qq.q_cum_micro, crit.crit_micro,
       |  qq.q_cum_micro > crit.crit_micro AS reject_white_noise
       |FROM qq JOIN crit ON crit.lag = qq.lag
       |ORDER BY qq.lag""".stripMargin
  }

  // ----------------------------------------------------- q248 SPRT
  /** Wald SPRT hypotheses on the purchase rate: H0 p=0.15, H1 p=0.20
    * (the corpus rate measures ≈ 0.198, so the test should accept H1 —
    * but the DECISION is whatever the exact arithmetic says, gated in
    * both engines). Per-event log-likelihood-ratio increments and the
    * α = β = 0.05 Wald bounds ±ln(19) are COMPILE-TIME micro-nat
    * literals shared by both plans. */
  private val SprtHitMicro: Long = math.round(1e6 * math.log(0.20 / 0.15))
  private val SprtMissMicro: Long = math.round(1e6 * math.log(0.80 / 0.85))
  private val SprtBoundMicro: Long = math.round(1e6 * math.log(19.0))

  /** q248: Wald's sequential probability ratio test (Wald 1945) over
    * the daily purchase rate — the SEQUENTIAL member of the monitoring
    * family (q234's p-chart flags days; SPRT DECIDES between two
    * hypotheses with guaranteed error rates α, β, stopping as early as
    * the evidence allows — the always-valid-inference primitive
    * product experimentation runs): cum LLR_d = Σ_{days ≤ d}
    * (c·A + (n−c)·B) with A, B the per-event micro-nat literals, and
    * the decision is the FIRST day the cumulative walk leaves
    * (−ln 19, +ln 19). Exact BIGINT arithmetic end to end; the
    * decision day and verdict are properties of the integer walk, so
    * they hash-gate.
    *
    * Scale shape: one map-side day aggregate, the day-grid prefix sum,
    * and a broadcast 1-row decision frame — catalog algebra at any
    * volume. */
  def q248_sprt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"),
        (col("event_type") === "purchase").as("hit"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("c"))
      .withColumn("llr_day_micro",
        col("c") * SprtHitMicro + (col("n") - col("c")) * SprtMissMicro)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val walk = daily
      .withColumn("cum_llr_micro", sum(col("llr_day_micro")).over(wCum))
      .withColumn("state",
        when(col("cum_llr_micro") >= SprtBoundMicro, "accept_h1")
          .when(col("cum_llr_micro") <= -SprtBoundMicro, "accept_h0")
          .otherwise("continue"))
    val dec = walk.filter(col("state") =!= "continue")
      .agg(min(col("day")).as("decision_day"))
    val decv = walk.join(broadcast(dec),
        walk("day") === dec("decision_day"), "left_outer")
      .agg(coalesce(min(col("decision_day")), lit(-1L)).as("dday"),
        coalesce(min(when(col("day") === col("decision_day"),
          col("state"))), lit("continue")).as("decision"))
    walk.crossJoin(broadcast(decv))
      .select(col("day"), col("n"), col("c"), col("llr_day_micro"),
        col("cum_llr_micro"), col("state"),
        col("dday").as("decision_day"), col("decision"))
      .orderBy(col("day"))
  }

  private lazy val sprtOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c
       |  FROM events GROUP BY 1),
       |walk AS (SELECT day, n, c,
       |    c * $SprtHitMicro + (n - c) * ($SprtMissMicro) AS llr_day_micro,
       |    CAST(SUM(c * $SprtHitMicro + (n - c) * ($SprtMissMicro))
       |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum_llr_micro
       |  FROM daily),
       |st AS (SELECT *, CASE
       |    WHEN cum_llr_micro >= $SprtBoundMicro THEN 'accept_h1'
       |    WHEN cum_llr_micro <= -$SprtBoundMicro THEN 'accept_h0'
       |    ELSE 'continue' END AS state FROM walk),
       |dec AS (SELECT COALESCE(MIN(day), -1) AS dday FROM st
       |  WHERE state <> 'continue'),
       |dv AS (SELECT d.dday,
       |    COALESCE((SELECT state FROM st WHERE st.day = d.dday),
       |      'continue') AS decision
       |  FROM dec d)
       |SELECT s.day, s.n, s.c, s.llr_day_micro, s.cum_llr_micro,
       |  s.state, dv.dday AS decision_day, dv.decision
       |FROM st s CROSS JOIN dv ORDER BY s.day""".stripMargin

  // ------------------------------------------- q251 Mann-Kendall trend
  /** q251: the Mann-Kendall trend test (Mann 1945; Kendall's S
    * statistic with the tie-corrected variance, the standard
    * environmental/SRE monotone-trend monitor) on the filled daily
    * event-count series — the NONPARAMETRIC member of the monitoring
    * family: q214 locates a level shift, q248 decides between two
    * rates, MK asks "is there a monotone trend at all" with no
    * distributional assumption. S = Σ_{i<j} sgn(x_j − x_i) over all
    * day pairs; Var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)]/18.
    *
    * Exact arithmetic: S and the 18-scaled variance are exact BIGINTs
    * (the tie term from one value-group aggregate); the normal
    * approximation's significance test z = (\|S\|−1)/√Var > 1.96
    * squares into ONE integer cross-multiplication
    * 10⁴·18·(\|S\|−1)² > 38416·var18 — no sqrt, no float (the q234
    * move). The day-pair join is horizon² — day-grid algebra at any
    * corpus volume.
    *
    * Scale: one map-side day aggregate; pairs are (horizon days)² —
    * thousands of days → ≤ 10⁷ pair rows, catalog-class; everything
    * else is a value-group rollup. */
  def q251_mann_kendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val pairs = filled.alias("a").join(filled.alias("b"),
        col("a.day") < col("b.day"))
      .select(signum(col("b.c") - col("a.c")).cast("long").as("sg"))
    val sStat = pairs.agg(sum(col("sg")).as("s_stat"),
      count(lit(1)).as("n_pairs"))
    val ties = filled.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"),
        sum(col("t")).as("n_days"))
    sStat.crossJoin(broadcast(ties))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie18"))
      .select(col("n_days"), col("n_pairs"), col("s_stat"), col("var18"),
        expr("(1000 * s_stat) div greatest(n_pairs, 1L)")
          .as("s_permille"),
        when(col("s_stat") > 0, "increasing")
          .when(col("s_stat") < 0, "decreasing").otherwise("none")
          .as("trend"),
        // z² > 1.96² with z = (|S|−1)/sqrt(var18/18):
        // 18·10⁴·(|S|−1)² > 38416·var18 — lifted to DECIMAL(38,0)
        // like the q259/q264/q286 siblings: |S| ≤ n(n−1)/2, so the
        // raw BIGINT product passes 2⁶³ once |S| > ~7.2e6 (a trending
        // series over a ~3,800-day horizon)
        (col("s_stat") =!= 0L &&
          expr("CAST(180000 AS DECIMAL(38,0)) * (abs(s_stat) - 1) * " +
            "(abs(s_stat) - 1) > CAST(38416 AS DECIMAL(38,0)) * var18"))
          .as("significant"))
  }

  private lazy val mkOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM b),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |p AS (SELECT CAST(SUM(CASE WHEN y.c > x.c THEN 1
       |      WHEN y.c < x.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM f x JOIN f y ON x.day < y.day),
       |t AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
       |      AS tie18,
       |    CAST(SUM(t) AS BIGINT) AS n_days
       |  FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM f
       |    GROUP BY c) g)
       |SELECT t.n_days, p.n_pairs, p.s_stat,
       |  t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie18
       |    AS var18,
       |  (1000 * p.s_stat) // GREATEST(p.n_pairs, 1) AS s_permille,
       |  CASE WHEN p.s_stat > 0 THEN 'increasing'
       |    WHEN p.s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend,
       |  p.s_stat <> 0 AND CAST(180000 AS HUGEINT) *
       |    (abs(p.s_stat) - 1) *
       |    (abs(p.s_stat) - 1) > CAST(38416 AS HUGEINT) *
       |    (t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie18)
       |    AS significant
       |FROM p CROSS JOIN t""".stripMargin

  // --------------------------------------------- q255 bootstrap CI
  private val BootReps = 1000L

  /** q255: nonparametric bootstrap confidence interval (Efron, Annals
    * of Statistics 1979; percentile method) for the mean daily event
    * count — the uncertainty statement the point estimates upstream
    * (q209's traffic profile, q232's forecasts) lack. Resampling is
    * DETERMINISTIC: replicate b draws day index
    * pmod(splitmix64(b·100003 + i), n) for i = 1..n (the q218 seeding
    * discipline), so both engines materialize the IDENTICAL [[BootReps]]
    * resamples; replicate means quantize to milli (floor), the CI
    * bounds are exact order statistics of the 1000 sorted means (ranks
    * 25 and 976 — the 2.5 %/97.5 % percentile indices), and the
    * replicate variance numerator B·Σm² − (Σm)² is one exact
    * cross-multiplication.
    *
    * Scale shape: the day grid is horizon-sized; the resample explode
    * is B·n rows (30k here, B·horizon at lake — catalog-class), one
    * shuffle keyed on replicate. */
  def q255_bootstrap_ci(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("i", row_number()
        .over(Window.orderBy(col("day"))).cast("long") - 1)
    val tot = filled.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val draws = s.range(0, BootReps).select(col("id").as("b"))
      .crossJoin(broadcast(tot))
      .select(col("b"), col("n"),
        explode(sequence(lit(1L), col("n"))).as("i0"))
      .withColumn("idx", pmod(JoinCard.splitmix64(
        col("b") * 100003L + col("i0")), col("n")))
    val reps = draws
      .join(filled.select(col("i").as("idx"), col("c")), Seq("idx"))
      .groupBy(col("b"), col("n"))
      .agg(sum(col("c")).as("rep_sum"))
      .withColumn("m_milli", expr("(1000 * rep_sum) div n"))
    val stats = reps.agg(
      sum(col("m_milli")).as("sum_m"),
      sum(expr("CAST(m_milli AS DECIMAL(38,0)) * m_milli")).as("sum_m2"))
    val ranked = reps
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("m_milli"), col("b"))).cast("long"))
    val bounds = ranked.agg(
      max(when(col("rk") === 25L, col("m_milli"))).as("ci_lo_milli"),
      max(when(col("rk") === 976L, col("m_milli"))).as("ci_hi_milli"))
    tot.crossJoin(broadcast(stats)).crossJoin(broadcast(bounds))
      .select(col("n").as("n_days"), lit(BootReps).as("b_reps"),
        expr("(1000 * s) div n").as("mean_milli"),
        col("ci_lo_milli"), col("ci_hi_milli"),
        expr(s"CAST((CAST($BootReps AS DECIMAL(38,0)) * sum_m2 - " +
          "CAST(sum_m AS DECIMAL(38,0)) * sum_m) div " +
          s"(CAST($BootReps AS DECIMAL(38,0)) * ${BootReps - 1}) " +
          "AS BIGINT)").as("var_milli2"))
  }

  private lazy val bootOracle: String = {
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
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bnd),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY g.day) AS BIGINT) - 1 AS i
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS s FROM f),
       |dr AS (SELECT CAST(b.b AS BIGINT) AS b, tot.n,
       |    CAST(CAST(b.b AS HUGEINT) * 100003 + i0.i0 AS HUGEINT)
       |      % 18446744073709551616 AS z
       |  FROM (SELECT unnest(range(0, $BootReps)) AS b) b
       |  CROSS JOIN tot,
       |  unnest(range(1, tot.n + 1)) AS i0(i0)),
       |s1 AS (SELECT b, n, $z1 AS z1 FROM dr),
       |s2 AS (SELECT b, n, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT b, n, $m2 AS z2 FROM s2),
       |s4 AS (SELECT b, n, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT b, n, $m3 AS z3 FROM s4),
       |s6 AS (SELECT b, n,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS h
       |  FROM (SELECT b, n, xor(z3, z3 // 2147483648) AS m FROM s5) t),
       |dx AS (SELECT b, n, ((h % n) + n) % n AS idx FROM s6),
       |reps AS (SELECT dx.b, dx.n,
       |    CAST(SUM(f.c) AS BIGINT) AS rep_sum
       |  FROM dx JOIN f ON f.i = dx.idx GROUP BY 1, 2),
       |ms AS (SELECT b, (1000 * rep_sum) // n AS m_milli FROM reps),
       |st AS (SELECT CAST(SUM(m_milli) AS HUGEINT) AS sum_m,
       |    SUM(CAST(m_milli AS HUGEINT) * m_milli) AS sum_m2 FROM ms),
       |rk AS (SELECT m_milli,
       |    CAST(ROW_NUMBER() OVER (ORDER BY m_milli, b) AS BIGINT) AS rk
       |  FROM ms),
       |ci AS (SELECT
       |    MAX(CASE WHEN rk = 25 THEN m_milli END) AS ci_lo_milli,
       |    MAX(CASE WHEN rk = 976 THEN m_milli END) AS ci_hi_milli
       |  FROM rk)
       |SELECT tot.n AS n_days, CAST($BootReps AS BIGINT) AS b_reps,
       |  (1000 * tot.s) // tot.n AS mean_milli,
       |  ci.ci_lo_milli, ci.ci_hi_milli,
       |  CAST(($BootReps * st.sum_m2 - st.sum_m * st.sum_m) //
       |    (CAST($BootReps AS HUGEINT) * ${BootReps - 1}) AS BIGINT)
       |    AS var_milli2
       |FROM tot CROSS JOIN st CROSS JOIN ci""".stripMargin
  }

  // ------------------------------------------- q258 Theil-Sen slope
  /** q258: the Theil-Sen slope estimator (Theil 1950; Sen, JASA 1968)
    * on the filled daily series — the robust trend MAGNITUDE that
    * pairs with q251's Mann-Kendall direction test (the standard
    * MK+Sen monitoring duo: MK says whether, Sen says how much, both
    * immune to outliers that wreck least squares). The slope is the
    * MEDIAN of all pairwise slopes (x_j − x_i)/(j − i); each slope
    * quantizes ONCE to milli units by truncating division (identical
    * in both engines — the r16 `div`↔`//` measurement), and the median
    * of the quantized values is an exact order statistic (lower median
    * at even counts, the deterministic choice). The q240/q251 day-grid
    * shape: horizon² pairs, catalog-class forever.
    *
    * Output rides one row: the Sen slope, the pair count, the
    * least-squares slope in the SAME milli quantization for contrast
    * (β̂ = (n·Σiy − Σi·Σy)/(n·Σi² − (Σi)²) — exact integers,
    * DECIMAL-guarded), and the min/max pairwise slopes. */
  def q258_theil_sen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("i", row_number()
        .over(Window.orderBy(col("day"))).cast("long"))
    val slopes = filled.alias("a").join(filled.alias("b"),
        col("a.i") < col("b.i"))
      .select(expr("(1000 * (b.c - a.c)) div (b.i - a.i)")
        .as("s_milli"))
    val ranked = slopes.withColumn("rk", row_number()
      .over(Window.orderBy(col("s_milli"))).cast("long"))
    val med = ranked.agg(count(lit(1)).as("n_pairs"),
      min(col("s_milli")).as("min_slope"),
      max(col("s_milli")).as("max_slope"))
      .crossJoin(broadcast(ranked.select(col("rk"), col("s_milli"))))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("n_pairs"), col("s_milli").as("sen_slope_milli"),
        col("min_slope"), col("max_slope"))
    val ls = filled.agg(count(lit(1)).as("n"),
      sum(col("i")).as("si"), sum(col("c")).as("sy"),
      sum(expr("CAST(i AS DECIMAL(38,0)) * c")).as("siy"),
      sum(expr("CAST(i AS DECIMAL(38,0)) * i")).as("si2"))
      .select(expr(
        "CAST((CAST(1000 AS DECIMAL(38,0)) * (n * siy - " +
          "CAST(si AS DECIMAL(38,0)) * sy)) div " +
          "(CAST(n AS DECIMAL(38,0)) * si2 - " +
          "CAST(si AS DECIMAL(38,0)) * si) AS BIGINT)")
        .as("ls_slope_milli"))
    med.crossJoin(broadcast(ls))
      .select(col("n_pairs"), col("sen_slope_milli"),
        col("ls_slope_milli"), col("min_slope"), col("max_slope"))
  }

  private lazy val senOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bnd),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY g.day) AS BIGINT) AS i
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |sl AS (SELECT (1000 * (b.c - a.c)) // (b.i - a.i) AS s_milli
       |  FROM f a JOIN f b ON a.i < b.i),
       |rk AS (SELECT s_milli,
       |    CAST(ROW_NUMBER() OVER (ORDER BY s_milli) AS BIGINT) AS rk
       |  FROM sl),
       |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(MIN(s_milli) AS BIGINT) AS min_slope,
       |    CAST(MAX(s_milli) AS BIGINT) AS max_slope FROM sl),
       |md AS (SELECT ag.n_pairs, rk.s_milli AS sen_slope_milli,
       |    ag.min_slope, ag.max_slope
       |  FROM ag JOIN rk ON rk.rk = (ag.n_pairs + 1) // 2),
       |ls AS (SELECT CAST((1000 * (n * siy - si * sy)) //
       |    (n * si2 - si * si) AS BIGINT) AS ls_slope_milli
       |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |      CAST(SUM(i) AS HUGEINT) AS si,
       |      CAST(SUM(c) AS HUGEINT) AS sy,
       |      SUM(CAST(i AS HUGEINT) * c) AS siy,
       |      SUM(CAST(i AS HUGEINT) * i) AS si2 FROM f) t)
       |SELECT md.n_pairs, md.sen_slope_milli, ls.ls_slope_milli,
       |  md.min_slope, md.max_slope
       |FROM md CROSS JOIN ls""".stripMargin

  // ------------------------------------------- q259 Mann-Whitney U
  /** q259: the Mann-Whitney U / Wilcoxon rank-sum test (Mann-Whitney
    * Ann. Math. Stat. 1947) comparing WEEKEND vs WEEKDAY daily event
    * volumes — the two-sample nonparametric companion of q251's
    * one-series trend test: "do weekend days come from a shifted
    * distribution?", with no normality assumption. Cliff's delta
    * (Cliff, Psych. Bull. 1993) rides the same row: the effect size
    * the significance bit lacks, and an exact rational of the same
    * rank sums (δ = (2U₁ − n₁n₂)/(n₁n₂)).
    *
    * Exact arithmetic: tie-average ranks are kept DOUBLED so they stay
    * integers (a tie group spanning ranks lo..hi has doubled average
    * rank lo+hi = 2·cum_below + t + 1); R₁ (doubled) comes from one
    * value-group rollup, 2U₁ = 2R₁_doubled/... = R1d − n₁(n₁+1); the
    * tie-corrected normal approximation z² > 1.96² squares into one
    * cross-multiplication — with σ²_U = n₁n₂[n(n−1)(n+1) − Σ(t³−t)] /
    * (12n(n−1)) and diff = 2U₁ − n₁n₂,
    *   120000·n·(n−1)·diff² > 153664·n₁n₂·[n(n−1)(n+1) − Σ(t³−t)],
    * computed in DECIMAL(38,0) (diff² alone passes 2⁶³ once the
    * horizon passes ~55k days; the decimal holds to 10³⁸ — no
    * knife-edge at any realistic horizon). Weekday decode is pure
    * epoch-day algebra: dow = pmod(day+4, 7) (1970-01-01 = Thursday),
    * weekend = {0, 6} — no timezone/date functions to diverge on.
    *
    * Scale: one map-side day aggregate; everything after is value-group
    * algebra on the day grid (horizon-sized at any corpus volume). The
    * one window is over distinct VALUES of the daily count — hundreds
    * of rows; the q145 bucketed form is corpus-prefix machinery, not
    * needed at grid scale. */
  def q259_mann_whitney(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(expr("ts_us div 86400000000L").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val filled = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("wkend",
        when(pmod(col("day") + 4L, lit(7L)).isin(0L, 6L), 1L)
          .otherwise(0L))
    val grp = filled.groupBy(col("c"))
      .agg(count(lit(1)).as("t"), sum(col("wkend")).as("t1"))
      .withColumn("cum", coalesce(sum(col("t")).over(
        Window.orderBy(col("c")).rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("cum") + col("t") + 1L)
    val agg = grp.agg(
      sum(col("t")).as("n"), sum(col("t1")).as("n1"),
      sum(col("t1") * col("dr")).as("r1d"),
      sum(expr("t * t * t - t")).as("tie3"))
    agg
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("u1_2x", col("r1d") - col("n1") * (col("n1") + 1L))
      .withColumn("diff", col("u1_2x") - col("n1") * col("n2"))
      .select(
        col("n1").as("n_weekend"), col("n2").as("n_weekday"),
        col("u1_2x"), col("tie3"),
        expr("(1000 * diff) div greatest(n1 * n2, 1L)")
          .as("cliffs_delta_milli"),
        expr("CAST(120000 AS DECIMAL(38,0)) * n * (n - 1) * diff * diff" +
          " > CAST(153664 AS DECIMAL(38,0)) * n1 * n2 * " +
          "(n * (n - 1) * (n + 1) - tie3)").as("significant"))
  }

  private lazy val mwOracle: String =
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
       |grid AS (SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
       |  FROM bnd),
       |f AS (SELECT g.day, COALESCE(d.c, 0) AS c,
       |    CASE WHEN ((g.day + 4) % 7) IN (0, 6) THEN 1 ELSE 0 END
       |      AS wkend
       |  FROM grid g LEFT JOIN daily d USING (day)),
       |grp AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS t,
       |    CAST(SUM(wkend) AS BIGINT) AS t1 FROM f GROUP BY c),
       |w AS (SELECT *, COALESCE(CAST(SUM(t) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS cum FROM grp),
       |dr AS (SELECT *, 2 * cum + t + 1 AS dr FROM w),
       |ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
       |    CAST(SUM(t1) AS BIGINT) AS n1,
       |    CAST(SUM(t1 * dr) AS BIGINT) AS r1d,
       |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM dr),
       |st AS (SELECT n, n1, n - n1 AS n2, tie3,
       |    r1d - n1 * (n1 + 1) AS u1_2x FROM ag),
       |d AS (SELECT *, u1_2x - n1 * n2 AS diff FROM st)
       |SELECT n1 AS n_weekend, n2 AS n_weekday, u1_2x, tie3,
       |  (1000 * diff) // GREATEST(n1 * n2, 1) AS cliffs_delta_milli,
       |  CAST(120000 AS HUGEINT) * n * (n - 1) * diff * diff
       |    > CAST(153664 AS HUGEINT) * n1 * n2 *
       |      (n * (n - 1) * (n + 1) - tie3) AS significant
       |FROM d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q259_mann_whitney" -> (q259_mann_whitney _),
    "q262_ljung_box" -> (q262_ljung_box _),
    "q263_theil_index" -> (q263_theil_index _),
    "q264_runs_test" -> (q264_runs_test _),
    "q265_permutation_test" -> (q265_permutation_test _),
    "q267_kruskal_wallis" -> (q267_kruskal_wallis _),
    "q268_cochran_armitage" -> (q268_cochran_armitage _),
    "q269_page_hinkley" -> (q269_page_hinkley _),
    "q273_ewma_chart" -> (q273_ewma_chart _),
    "q277_friedman" -> (q277_friedman _),
    "q278_brown_forsythe" -> (q278_brown_forsythe _),
    "q279_seasonal_strength" -> (q279_seasonal_strength _),
    "q281_turning_points" -> (q281_turning_points _),
    "q282_pacf" -> (q282_pacf _),
    "q285_posthoc_pairwise" -> (q285_posthoc_pairwise _),
    "q286_jonckheere" -> (q286_jonckheere _),
    "q287_mantel_haenszel" -> (q287_mantel_haenszel _),
    "q288_anova_icc" -> (q288_anova_icc _),
    "q258_theil_sen" -> (q258_theil_sen _),
    "q255_bootstrap_ci" -> (q255_bootstrap_ci _),
    "q251_mann_kendall" -> (q251_mann_kendall _),
    "q248_sprt" -> (q248_sprt _),
    "q240_acf" -> (q240_acf _),
    "q220_seasonal_decompose" -> (q220_seasonal_decompose _),
    "q231_survival_curve" -> (q231_survival_curve _),
    "q232_forecast_eval" -> (q232_forecast_eval _),
    "q233_markov_holdout" -> (q233_markov_holdout _),
    "q234_control_chart" -> (q234_control_chart _),
    "q214_cusum_changepoint" -> (q214_cusum_changepoint _),
    "q215_revenue_attribution" -> (q215_revenue_attribution _),
    "q209_traffic_profile" -> (q209_traffic_profile _),
    "q133_funnel" -> (q133_funnel _),
    "q134_cohort_retention" -> (q134_cohort_retention _),
    "q193_markov_transitions" -> (q193_markov_transitions _),
    "q194_rfm_segments" -> (q194_rfm_segments _),
    "q195_session_paths" -> (q195_session_paths _),
    "q196_revenue_concentration" -> (q196_revenue_concentration _))

  override val oracle: Map[String, String] = Map(
    "q259_mann_whitney" -> mwOracle,
    "q262_ljung_box" -> ljungOracle,
    "q263_theil_index" -> theilOracle,
    "q264_runs_test" -> runsOracle,
    "q265_permutation_test" -> permOracle,
    "q267_kruskal_wallis" -> kwOracle,
    "q268_cochran_armitage" -> caOracle,
    "q269_page_hinkley" -> phOracle,
    "q273_ewma_chart" -> ewmaOracle,
    "q277_friedman" -> friedmanOracle,
    "q278_brown_forsythe" -> bfOracle,
    "q279_seasonal_strength" -> strengthOracle,
    "q281_turning_points" -> turnsOracle,
    "q282_pacf" -> pacfOracle,
    "q285_posthoc_pairwise" -> posthocOracle,
    "q286_jonckheere" -> jtOracle,
    "q287_mantel_haenszel" -> mhOracle,
    "q288_anova_icc" -> anovaOracle,
    "q258_theil_sen" -> senOracle,
    "q255_bootstrap_ci" -> bootOracle,
    "q251_mann_kendall" -> mkOracle,
    "q248_sprt" -> sprtOracle,
    "q240_acf" -> acfOracle,
    "q220_seasonal_decompose" -> seasonalOracle,
    "q231_survival_curve" -> survivalOracle,
    "q232_forecast_eval" -> forecastOracle,
    "q233_markov_holdout" -> markovHoldoutOracle,
    "q234_control_chart" -> controlOracle,
    "q214_cusum_changepoint" -> cusumOracle,
    "q215_revenue_attribution" -> attributionOracle,
    "q209_traffic_profile" -> trafficOracle,
    "q133_funnel" -> funnelOracle,
    "q134_cohort_retention" -> cohortOracle,
    "q193_markov_transitions" -> markovOracle,
    "q194_rfm_segments" -> rfmOracle,
    "q195_session_paths" -> pathsOracle,
    "q196_revenue_concentration" -> giniOracle)
}
