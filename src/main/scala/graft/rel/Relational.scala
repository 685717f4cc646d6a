package graft.rel

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** Generalized relational operator surface (SURVEY.md §2.4-2.5, G1-G17 +
  * J1/A3/K1 analogues) over the shared TPC-H-ish parquet tables.
  *
  * Every query here is a pure `(SparkSession, sfDir) => DataFrame` whose
  * whole plan stays declarative so Catalyst applies predicate pushdown,
  * column pruning, partial aggregation and (AQE) broadcast/skew handling.
  * Scale notes per query are in the Scaladoc — the same plans run unchanged
  * on a 1000-executor cluster because nothing ever touches the driver.
  *
  * Oracle-determinism conventions (SURVEY.md §5.2):
  *   - money aggregates are summed as DECIMAL(18,2) (exact, order-insensitive)
  *     then cast to DOUBLE — bit-identical to DuckDB's result;
  *   - every query ends in a total-order `ORDER BY`;
  *   - timestamps are exposed as DATE or epoch-micros longs, never raw
  *     engine-specific timestamp encodings.
  */
object Relational extends graft.QueryModule {

  private def d2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact money sum: decimal accumulate (associative+exact), double result. */
  private def money(c: Column): Column = sum(d2(c)).cast(DoubleType)

  // ---------------------------------------------------------------- G6 / A3
  /** Pricing summary (TPC-H Q1 shape): scan-filter-agg, map-side partial agg
    * then 2-way shuffle on the tiny (flag,status) key space. At 100 TB the
    * partial agg reduces the shuffle to a few KB per task. */
  def q01_agg_pricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(col("l_quantity")).as("sum_qty"),
        money(col("l_extendedprice")).as("sum_base_price"),
        sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        (money(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ------------------------------------------------------------------- G1/G2
  /** Filter + projection pushdown: predicate and 3-column read schema both
    * reach the parquet scan (verified via explain: PushedFilters/ReadSchema). */
  def q02_filter_project(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_size").between(10, 30) &&
        col("p_type").like("%AND%") && // matches STANDARD
        col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))

  // -------------------------------------------------------------------- G3
  /** 3-way equi-join + agg + top-k (TPC-H Q3 shape). orders⋈lineitem is the
    * big shuffle (both sides hashed on orderkey); customer side is small and
    * AQE broadcast it. Top-k lowers to TakeOrderedAndProject (no full sort). */
  def q03_join_topk_revenue(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("orderdate"))
      .agg(sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)

  // -------------------------------------------------------------------- G4
  /** Star join through explicitly broadcast dimensions (supplier/nation/
    * region are tiny): the fact table never shuffles — one scan, local hash
    * probes, then agg on a 25-key space. The right plan at any scale. */
  def q04_join_broadcast_dims(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
          .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  // -------------------------------------------------------------------- G3
  /** Left-semi join (EXISTS): customers that have at least one order.
    * Semi-join only ships the join key of the probe side. */
  def q05_join_semi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        money(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("c_mktsegment"))

  /** Left-anti join (NOT EXISTS): customers that never placed an urgent
    * order. The anti side is pre-filtered before the join — at scale the
    * filter prunes the build input, not the probe output. */
  def q06_join_anti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  // -------------------------------------------------------------------- G5
  /** Range/theta join: orders banded by totalprice against a broadcast
    * band table (BroadcastNestedLoopJoin over 3 rows — the only sane
    * physical plan for a non-equi join at scale). */
  def q07_join_range_bands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("low", 0.0, 50000.0),
      ("mid", 50000.0, 150000.0),
      ("high", 150000.0, 1.0e9)).toDF("band", "lo", "hi")
    Tables.orders(s, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("sum_price"))
      .orderBy(col("band"))
  }

  // -------------------------------------------------------------------- G7
  /** ROLLUP with grouping set id — partial totals at (priority,status),
    * (priority), and grand-total levels in one shuffle. */
  def q08_rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), money(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("priority"), col("status"))

  /** CUBE over (returnflag, linestatus) with the grouping_id bit vector —
    * all four grouping sets in one shuffle (G7's other half). */
  def q40_cube_grouping(s: SparkSession, dir: String): DataFrame =
    Tables.lineitemFanned(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_lines"), money(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("n_lines"), col("sum_qty"))
      .orderBy(col("gid"), col("rflag"), col("lstatus"))

  // -------------------------------------------------------------------- G9
  /** Ranking window: top-3 orders per customer. One shuffle on o_custkey;
    * rank filter is applied before any downstream work (WindowGroupLimit
    * pushes the limit into the sort at execution). */
  def q09_window_rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  // ------------------------------------------------------------------- G10
  /** Frame window: per-supplier running quantity + previous-row lag over a
    * deterministic total order (shipdate, orderkey, linenumber). */
  def q10_window_frame(s: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(ord: _*)
    Tables.lineitem(s, dir)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        sum(d2(col("l_quantity")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_qty"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"))
      .orderBy(col("l_suppkey") +: ord: _*)
  }

  // ------------------------------------------------------------------- G11
  /** Global top-k: TakeOrderedAndProject — each partition keeps k rows, the
    * driver merges k*numPartitions rows; never a full global sort. */
  def q11_topk_orders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // ------------------------------------------------------------------- G12
  /** Set ops: customers ordering in 1997 vs 1998 — INTERSECT / EXCEPT both
    * lower to aggregate-based joins (no row explosion). */
  def q12_set_ops(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def keys(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey")).distinct()
    val a = keys(1997)
    val b = keys(1998)
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_1997")))
      .unionByName(b.except(a).withColumn("tag", lit("only_1998")))
      .orderBy(col("tag"), col("o_custkey"))
  }

  // ------------------------------------------------------------------- G13
  /** Scalar date math: per order-month, order count and average
    * order→ship delay in days (exact int avg → identical double). */
  def q13_date_math(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(
        count(lit(1)).as("n_lines"),
        (sum(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
          .cast(DoubleType) / count(lit(1))).as("avg_ship_delay_days"),
        min(to_date(col("o_orderdate"))).as("first_order"),
        max(to_date(col("o_orderdate"))).as("last_order"))
      .orderBy(col("o_year"), col("o_month"))

  // ------------------------------------------------------- percentiles
  /** Exact percentiles per group (Spark `percentile` ≡ DuckDB
    * quantile_cont: linear interpolation). At 100 TB switch to
    * `approx_percentile` — exact percentile needs a per-group sort; the
    * t-digest sketch is the scale path (same trade as G8's HLL). */
  def q41_percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // one percentile buffer for both quantile points (array form),
        // not one sorted buffer per point
        expr("percentile(l_quantity, array(0.5, 0.9))").as("pq"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("pq"), 1).as("p50_qty"),
        element_at(col("pq"), 2).as("p90_qty"),
        col("p50_price"), col("n"))
      .orderBy(col("l_returnflag"))

  /** The 100 TB percentile path: approx_percentile (t-digest-style
    * positional sketch, mergeable constant-size state) beside the exact
    * sort-based percentile, gated on the accuracy contract — at accuracy
    * 10000 the rank error is n/10000, well inside the value tolerances
    * asserted here (same contract pattern as q54/q_approx_distinct). */
  def q41b_percentiles_approx(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.5, 0.9))").as("pq"),
        expr("approx_percentile(l_quantity, array(0.5, 0.9), 10000)").as("aq"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50_price"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        (abs(element_at(col("aq"), 1) - element_at(col("pq"), 1)) <= 1.0)
          .as("p50_qty_ok"),
        (abs(element_at(col("aq"), 2) - element_at(col("pq"), 2)) <= 1.0)
          .as("p90_qty_ok"),
        (abs(col("a50_price") - col("p50_price")) <= lit(0.01) * col("p50_price"))
          .as("p50_price_ok"))
      .orderBy(col("l_returnflag"))

  // ----------------------------------------------- distribution windows
  /** ntile / percent_rank / cume_dist over customers by balance within
    * segment — same single-shuffle window shape as G9. */
  def q44_ntile_stats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .filter(col("c_custkey") <= 200)
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  // -------------------------------------------------- fuzzy edit distance
  /** Levenshtein fuzzy matching — the non-token cousin of the dedup
    * family: supplier names within a nation at edit distance ≤ 2, under a
    * COMPOUND blocking key: nation × name-length band. A single
    * fixed-cardinality key (25 nations) leaves candidate pairs O(n²/25) —
    * 10,000× the pairs at 100× the suppliers — so a second, data-scaling
    * dimension is required. Length bands of width 2 are lossless for the
    * lev ≤ 2 bound (|len(a)-len(b)| ≤ dist ≤ 2 ⟹ bands differ by at most
    * 1), so the probe side fans out to {band-1, band, band+1} and the
    * build side keeps its single band: every true pair still meets in
    * exactly one (nation, band) bucket — same output, candidates now
    * O(Σ bucket²) over a key whose cardinality grows with the data. */
  def q45_edit_distance(s: SparkSession, dir: String): DataFrame = {
    val band = floor(length(col("s_name")) / 2)
    val a = Tables.supplier(s, dir)
      .select(col("s_nationkey"), col("s_suppkey").as("id_a"),
        col("s_name").as("name_a"),
        explode(array(band - 1, band, band + 1)).as("len_band"))
    val b = Tables.supplier(s, dir)
      .select(col("s_nationkey"), col("s_suppkey").as("id_b"),
        col("s_name").as("name_b"), band.as("len_band"))
    a.join(b, Seq("s_nationkey", "len_band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  // -------------------------------------------------------------- pivot
  /** groupBy().pivot(): order counts + money by priority pivoted over the
    * (closed, 3-value) status domain. Pivot compiles to conditional
    * aggregation — one shuffle, no per-pivot-value passes; the pivot
    * column domain is declared explicitly (at scale an undeclared domain
    * costs a distinct-scan first). */
  def q42_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("price"))
      .orderBy(col("priority"))

  // ------------------------------------------------------------ unpivot
  /** Unpivot (melt) — the inverse of q42's pivot: wide per-flag measure
    * columns to long (flag, measure, value) rows. Spark's `unpivot` lowers
    * to Expand (each input row emits one row per measure in the same
    * task) — a map-side reshape, no shuffle beyond the feeding agg. */
  def q50_unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitemFanned(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        money(col("l_quantity")).as("qty"),
        money(col("l_extendedprice")).as("price"),
        money(col("l_discount")).as("disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  // -------------------------------------------- SQL front-end + subquery
  /** The spark.sql() surface with a correlated EXISTS subquery — customers
    * holding an above-average-value urgent order. Catalyst rewrites the
    * correlated EXISTS into a left-semi join (same physical shape as q05);
    * the scalar subquery becomes a one-row broadcast. */
  def q43_sql_subquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    Tables.orders(s, dir).createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM v_customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM v_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT'
        |    AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM v_orders))
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  // ------------------------------------------------------------------- G14
  /** Array/map higher-order ops: per-order quantity arrays (ordered
    * collect), then transform/filter/aggregate lambdas and a
    * map_from_entries cardinality — all codegen-friendly builtins. The
    * groupBy shuffles once on l_orderkey; every HOF then runs map-side over
    * the grouped arrays. */
  def q14_array_map_ops(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("int").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("qty"))))
        .as("lines"))
      .select(
        col("l_orderkey"),
        transform(col("lines"), x => x.getField("qty")).as("q"))
      .withColumn("n_map", // position-keyed map (l_linenumber can repeat)
        size(map_from_arrays(sequence(lit(1), size(col("q"))), col("q"))))
      .select(
        col("l_orderkey"),
        size(col("q")).as("n_lines"),
        aggregate(transform(col("q"), x => x * 2), lit(0),
          (acc, x) => acc + x).as("doubled_sum"),
        size(filter(col("q"), x => x > 25)).as("n_big"),
        array_max(col("q")).as("max_qty"),
        col("n_map"))
      .orderBy(col("l_orderkey"))

  // ------------------------------------------------------------------- G15
  /** JSON extraction from the events.props payload; agg per extracted key
    * bucket. get_json_object is codegen'd; no UDF. */
  def q15_json_extract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), money(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("k_bucket"))

  // ------------------------------------------------------------------- G16
  /** Gap-based sessionization (batch form): lag + cumulative-sum of
    * session-start flags, then per-session rollup. Two window passes over
    * one user_id shuffle partitioning (Catalyst reuses the exchange). */
  def q16_sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000 // 30 min session gap, epoch-us
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"))
      .withColumn("new_s",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1)
          .when(lag(col("ts_us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** The same sessionization through Spark's NATIVE session_window — one
    * groupBy, no lag/cumsum window passes, and the identical transform
    * runs on a stream (session windows merge in the state store as late
    * events arrive). Ordinal session ids come from one tiny window over
    * the per-session rows (corpus-of-sessions, not corpus-of-events).
    * Boundary semantics: session_window is half-open (an event exactly
    * gap-after the last starts a NEW session) where q16's lag-encoding
    * keeps it; the fixture deltas never land exactly on the gap, so both
    * match the same oracle — the scaladoc records the difference for
    * exact-gap data. */
  def q16b_sessionize_native(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("ts_us"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
      .select(col("user_id"),
        row_number().over(w).cast("long").as("session_id"),
        col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Time-series resample + forward fill: events land on an hourly grid
    * per user (gap hours included) carrying the hour's event count and the
    * last-observed value at-or-before each grid point — the
    * feature-engineering "as-of state at regular intervals" shape that
    * feeds windowed models. One (user, hour) agg, a bounds-driven
    * sequence explode for the grid (no generate_series cross product: each
    * user's grid spans only its own [min, max]), a co-partitioned left
    * join, and one ordered window for the fill — every step keyed on
    * user_id, so the whole plan rides a single hash partitioning. Ties
    * inside an hour resolve by max(struct(ts, value)) — deterministic in
    * both engines (lexicographic struct max). */
  def q59_resample_ffill(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("value"),
        expr(s"ts_us div $hourUs").as("hb")) // integer division, like DuckDB //
    val hourly = ev.groupBy(col("user_id"), col("hb"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts_us"), col("value"))).getField("value").as("hv"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("hb")).as("h0"), max(col("hb")).as("h1"))
      // The bounds frame is 1 row/user — tiny in BYTES — so AQE coalesces
      // its shuffle to one partition, and the sequence explode below then
      // fans the whole hour grid out inside a single task (measured at
      // sf0.1: the explode+join+window chain ran as two 1-task stages of
      // 0.6-0.8 s each). Pre-explode bytes under-represent post-explode
      // rows at ANY scale, so pin the fan-out explicitly (the q79
      // defaultParallelism pattern — scale-adaptive, not a constant).
      .repartition(s.sparkContext.defaultParallelism, col("user_id"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hb"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hb"), "left")
      .select(col("user_id"), col("hb"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("hv"), ignoreNulls = true).over(w).as("value_ffill"))
      .orderBy(col("user_id"), col("hb"))
  }

  /** Ordered funnel: per user, first view → first purchase strictly after
    * it → conversion lag. One unordered (user_id) window broadcasts the
    * stage-1 time across the user's rows, then conditional mins finish in
    * the same partitioning — no self-joins, and deeper funnels extend by
    * chaining one window+conditional-min per stage, never re-shuffling. */
  def q60_funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_type"))
      .withColumn("view_us",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("view_us")).as("view_us"),
        min(when(col("event_type") === "purchase"
          && col("ts_us") > col("view_us"), col("ts_us")))
          .as("purchase_after_view_us"))
      .select(col("user_id"), col("view_us"), col("purchase_after_view_us"),
        (col("purchase_after_view_us") - col("view_us")).as("lag_us"),
        (col("view_us").isNotNull && col("purchase_after_view_us").isNotNull)
          .as("converted"))
      .orderBy(col("user_id"))
  }

  /** Weekly retention cohorts: users grouped by first-activity week,
    * counted per subsequent activity week offset — the
    * cohort × week-offset retention triangle. Two (user)-keyed aggs + one
    * (cohort, offset) agg; at 100 TB the user table is the only wide
    * shuffle and it already exists in any activity pipeline. */
  def q61_retention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000 * 1000
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $weekUs").as("wk"))
    val firstWk = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    e.distinct()
      .join(firstWk, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_wk"), col("wk_offset"))
  }

  /** Hopping (sliding) time windows via the native window() function:
    * 6-hour windows every hour, so each event lands in 6 buckets —
    * Spark expands the buckets map-side (explode of the window set, no
    * per-window passes) and one hash agg finishes. The DuckDB twin
    * derives the same bucket set arithmetically. Same operator drives
    * the streaming windowedCounts. */
  def q62_hopping_windows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "6 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), money(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start_us"), col("event_type"))

  /** Order-insensitive table checksum — the reconciliation primitive for
    * comparing a table across engines/migrations without sorting it: each
    * row hashes to 48 bits of its md5 over a canonical key projection
    * (ints and strings only — float formatting is engine-specific), and
    * the commutative DECIMAL sum makes the digest partition- and
    * order-independent. One scan, one scalar: at 100 TB this replaces
    * "sort both copies and diff" with a map-side fold. The final digest
    * is emitted as STRING: its magnitude exceeds 2^53, so any float64
    * hop in a downstream comparator would silently round it.
    * Overflow headroom (round-4 advice): with ANSI off, a DECIMAL(38,0)
    * sum overflow would yield NULL (and DuckDB would error, not match) —
    * but 48-bit row hashes need ~10^23 rows to overflow 38 digits, ten
    * orders of magnitude past 100 TB of lineitem; checksum IS NOT NULL
    * for any real table size. */
  def q64_table_checksum(s: SparkSession, dir: String): DataFrame =
    Tables.lineitemFanned(s, dir)
      .select(conv(substring(md5(concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"), col("l_linestatus"))
        .cast("binary")), 1, 12), 16, 10)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h")).cast(StringType).as("checksum"))

  /** Z-score anomaly counts per event type: per-group mean/σ from DECIMAL
    * sums (deterministic parallel floats, the q58 trick), then a second
    * pass counts |value−μ| > 3σ. Two scans, both map-side-combining on
    * the same (event_type) keys — the broadcast of the tiny stats table
    * keeps the flagging pass shuffle-free. */
  def q65_zscore_outliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("value"))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(DoubleType).as("n"),
        sum(d2(col("value"))).cast(DoubleType).as("sm"),
        sum(d2(col("value")) * d2(col("value"))).cast(DoubleType).as("sq"))
      .select(col("event_type"), col("n").cast("long").as("n_events"),
        (col("sm") / col("n")).as("mu"),
        sqrt((col("sq") - col("sm") * col("sm") / col("n")) / (col("n") - lit(1.0)))
          .as("sigma"))
    e.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("n_events")).as("n_events"),
        round(min(col("mu")), 6).as("mu_r"),
        round(min(col("sigma")), 6).as("sigma_r"),
        sum(when(abs(col("value") - col("mu")) > lit(3.0) * col("sigma"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------------------------- G17
  /** Exact dedup, deterministic survivor: first doc_id per identical text.
    * row_number(=1) over the dup key — at scale this is one hash shuffle on
    * the text (in production: on a text digest to keep keys small). */
  def q17_dedup_exact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------- J1
  /** The reference's bind_comments join (J1) re-expressed relationally:
    * parent⋈children grouped to an ordered nested array. The reference's
    * O(T·F²) directory rescan loop (wrangler.py:358-367) becomes a single
    * shuffle join + collect_list — sort_array gives a deterministic nested
    * ordering (SURVEY §5.2 pitfall). */
  def q18_bind_children(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        // scalar digest of the nested array — the compare harness can't
        // sort/hash raw ARRAY columns (round-1 gate failure)
        md5(concat_ws(",",
          sort_array(collect_list(col("l_linenumber"))).cast("array<string>"))
          .cast("binary")).as("line_numbers_md5"))
      .orderBy(col("o_orderkey"))

  // ------------------------------------------------------ CDC: apply log
  /** Changelog compaction — the lake-upsert primitive (Debezium-style CDC
    * stream → Delta/Hudi-style MERGE snapshot, public semantics): the
    * event stream is read as a per-key changelog ordered by (ts,
    * event_id); the snapshot keeps each key's LATEST record, and a key
    * whose latest record is a delete marker ('error' here stands in for
    * the tombstone) is absent from the snapshot — so delete semantics are
    * verified by row absence, inside the hash gate.
    *
    * Scale: deliberately an aggregation, not a window — `max_by` over the
    * (ts, event_id) struct carries O(1) state per key through map-side
    * partial aggregation, so the shuffle moves one candidate row per
    * (partition, key) instead of sort-buffering each key's full history
    * the way row_number would. At 100 TB of changelog this is the
    * difference between a merge and a sort. */
  def q86_apply_changelog(s: SparkSession, dir: String): DataFrame =
    applyChangelog(Tables.events(s, dir)).orderBy(col("user_id"))

  /** The compaction kernel over any changelog frame with columns
    * (user_id, ts, event_id, event_type, value) — ChangelogSpec feeds it
    * synthetic tie/tombstone cases the corpus may not contain. */
  private[graft] def applyChangelog(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_changes"),
        max(col("ts")).as("last_ts"),
        max_by(
          struct(col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        round(col("last.value"), 6).as("last_value"),
        col("n_changes"))

  /** SNAPSHOT DIFF → changelog — the inverse half of CDC (q86 APPLIES a
    * changelog; this GENERATES one): two table versions full-outer-join on
    * the key and each row classifies as Insert / Update / Delete by
    * null-side and content-digest comparison; unchanged rows drop. The
    * "next crawl" snapshot is derived deterministically from the corpus so
    * both engines build the identical pair of versions: docs whose doc_id
    * md5 bucket is 'a' disappear (deletes), bucket 'b' docs carry revised
    * text (updates), bucket 'c' docs re-enter under fresh ids shifted by
    * the corpus size (inserts — same collision-free offset rule as
    * m_media_dedup).
    *
    * Scale: ONE full-outer hash join on the key (both sides shuffle once)
    * + map-side digest comparison — the standard lake table-diff; no
    * window, no sort, no driver state. Emitting digests rather than
    * payloads keeps the changelog narrow; a production diff would carry
    * the changed columns. */
  def q93_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count()
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), bucket.as("b"))
    val oldSnap = base
      .select(col("doc_id"), md5(col("text").cast("binary")).as("old_md5"))
    val newSnap = base.filter(col("b") =!= "a")
      .select(col("doc_id"),
        when(col("b") === "b", concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.filter(col("b") === "c")
        .select((col("doc_id") + n).as("doc_id"), col("text")))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("new_md5"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("new_md5").isNull, "D")
          .when(col("old_md5").isNull, "I")
          .when(col("old_md5") =!= col("new_md5"), "U"))
      .filter(col("op").isNotNull)
      .select(col("op"), col("doc_id"), col("old_md5"), col("new_md5"))
      .orderBy(col("doc_id"), col("op"))
  }

  // ------------------------------------------------------- CDC: SCD2 build
  /** SCD TYPE-2 HISTORY — the third leg of the CDC family (q93 GENERATES
    * a changelog, q86 COMPACTS one to latest-wins; this builds the full
    * slowly-changing-dimension history table, Kimball's public Type-2
    * shape): every change event becomes a versioned row with a validity
    * interval — valid_from = its ts, valid_to = the key's next change
    * (NULL while current), is_current on the open row. Tombstones
    * ('error') participate as versions, so a delete closes the prior
    * interval and the tombstone row itself carries is_current until a
    * re-insert supersedes it — interval algebra over the same changelog
    * q86 compacts, gated row-for-row.
    *
    * Scale: ONE hash shuffle on the key feeding both window functions
    * (row_number + lead share the (user_id, ts, event_id) sort — one
    * exchange, one sort in the plan); the standard SCD2 batch build. In
    * production the incremental variant merges each new changelog batch
    * against only the OPEN intervals (valid_to IS NULL), not the full
    * history. */
  def q120_scd2_history(s: SparkSession, dir: String): DataFrame =
    scd2History(Tables.events(s, dir)).orderBy(col("user_id"), col("version"))

  /** The SCD2 kernel over any changelog frame with columns (user_id, ts,
    * event_id, event_type, value) — ChangelogSpec feeds it synthetic
    * tie/tombstone cases (the q86 `applyChangelog` pattern). */
  private[graft] def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        round(col("value"), 6).as("value_r"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("ts").as("valid_from"),
        col("valid_to"), col("event_id"), col("event_type"), col("value_r"),
        col("valid_to").isNull.as("is_current"))
  }

  // ----------------------------------------------- CDC: incremental SCD2
  /** INCREMENTAL SCD2 MERGE — the production variant q120's scaladoc
    * promises: a new changelog batch merges against only the OPEN
    * intervals of the existing history, never rewriting closed rows. The
    * engine splits the changelog temporally (cutoff = the midpoint of
    * the ts range — any deterministic split point), builds the prefix
    * history, then merges the second batch: each key's open row closes
    * at the batch's first (ts, event_id) for that key, and the batch's
    * own SCD2 rows append with versions offset by the key's existing
    * count. The GATE is the strongest statement available: the oracle
    * recomputes the FULL history directly (q120's SQL), so incremental
    * must equal recompute row-for-row — the invariant that makes
    * incremental maintenance trustworthy at all.
    *
    * Scale: the merge touches closed history only as a pass-through
    * union (at rest in the lake, never shuffled); the working set is
    * open rows (≤ one per key) + the new batch — both hash-partitioned
    * on the key. This is the nightly-SCD2 shape on a 100 TB history:
    * cost proportional to the DELTA, not the dimension. */
  def q122_scd2_incremental(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    val mm = events.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .collect()(0)
    val cutoff = new java.sql.Timestamp(
      (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
    val h1 = scd2History(events.filter(col("ts") <= lit(cutoff)))
      .localCheckpoint(false) // the existing history (prefix build)
    val batch2 = events.filter(col("ts") > lit(cutoff))
    // per key: where the new batch starts, and how many versions exist
    val firstNew = batch2.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("f.ts").as("first_new_ts"))
    val prevCount = h1.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_prev"))
    val closedPrefix = h1.filter(col("valid_to").isNotNull)
    val openMerged = h1.filter(col("valid_to").isNull)
      .join(firstNew, Seq("user_id"), "left")
      .select(col("user_id"), col("version"), col("valid_from"),
        col("first_new_ts").as("valid_to"), col("event_id"),
        col("event_type"), col("value_r"),
        col("first_new_ts").isNull.as("is_current"))
    val appended = scd2History(batch2)
      .join(prevCount, Seq("user_id"), "left")
      .select(col("user_id"),
        (col("version") + coalesce(col("n_prev"), lit(0L)).cast("int"))
          .as("version"),
        col("valid_from"), col("valid_to"), col("event_id"),
        col("event_type"), col("value_r"), col("is_current"))
    closedPrefix.unionByName(openMerged).unionByName(appended)
      .orderBy(col("user_id"), col("version"))
  }

  // ---------------------------------------------- bucketed co-located join
  /** BUCKETED CO-LOCATED JOIN — Spark's native pre-shuffled layout
    * (`bucketBy` + `sortBy`, the Hive-bucketing lineage): both fact
    * tables write hash-bucketed AND sorted on the join key, so the join
    * runs with ZERO exchange and ZERO sort — each task zips bucket i of
    * both tables. At 100 TB this converts the nightly orders⋈lineitem
    * from the cluster's largest shuffle into a local merge per bucket —
    * THE co-location story SCALING.md's join section promises, made
    * concrete. The layout is a physical property, so the oracle (the
    * same join+aggregate over the raw parquet) gates result equality,
    * and RelationalPlanSpec asserts the plan shape: no
    * ShuffleExchange/Sort under the SortMergeJoin.
    *
    * Scratch tables are EXTERNAL (path under /tmp) with deterministic
    * names + overwrite, so the query is rerunnable and the repo tree
    * stays clean; `inner` exposes the pre-aggregate join for the plan
    * spec (the q88 pre-checkpoint-helper pattern). */
  private[graft] def bucketedJoinInner(s: SparkSession, dir: String): DataFrame = {
    val scratch = "/tmp/graft_bucketed"
    // repartition on the key with numBuckets partitions: bucketBy and
    // repartition share the murmur3 hash, so every bucket lands in ONE
    // file — the condition under which the scan reports its sort order
    // and the merge join drops its runtime Sorts too
    def writeBucketed(df: DataFrame, name: String, key: String): Unit =
      df.repartition(8, col(key))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$scratch/$name")
        .bucketBy(8, key).sortBy(key)
        .saveAsTable(name)
    writeBucketed(Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority")),
      "graft_orders_bkt", "o_orderkey")
    writeBucketed(Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity")),
      "graft_lineitem_bkt", "l_orderkey")
    s.table("graft_orders_bkt")
      .join(s.table("graft_lineitem_bkt"),
        col("o_orderkey") === col("l_orderkey"))
  }

  def q124_bucketed_join(s: SparkSession, dir: String): DataFrame =
    bucketedJoinInner(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        money(col("l_extendedprice")).as("revenue"),
        money(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))

  // ------------------------------------------------- Z-order data skipping
  /** Z-ORDER LAYOUT AUDIT — the space-filling-curve clustering behind
    * Delta/Iceberg `ZORDER BY` (Morton 1966; public lakehouse practice):
    * rows sort by the bit-interleave of two bucketized dimensions, files
    * cut along that order, and per-file min/max stats then prune point
    * queries on EITHER dimension. This query builds both layouts over
    * lineitem — z-ordered on (l_partkey%256, l_suppkey%256) vs the
    * natural (l_orderkey, l_linenumber) order — simulates 32 file cuts
    * (ntile over the layout order), and probes 16 point queries per
    * dimension against each file's min/max: `files_scanned_*` counts
    * file×query pairs whose range cannot be pruned. The z-order layout
    * must scan a fraction of what the natural layout scans on both
    * dimensions at once — the whole point of interleaving.
    *
    * The interleave is pure integer arithmetic (((x div 2^i) mod 2) ·
    * 2^(2i+1) summed over 8 bits — no engine bitwise ops), so the gate
    * is exact. Scale: the real write is `repartitionByRange(zkey) +
    * sortWithinPartitions(zkey)` and stats come free from parquet
    * footers; this query is the layout's AUDIT — two global sorts here,
    * range-partitioned sorts on a cluster. */
  /** Identical interleave text in both engines (div spelled per dialect):
    * x bits at odd positions, y bits at even. */
  private def zInterleave(x: String, y: String, div: String): String =
    (0 until 8).map { i =>
      val p = BigInt(2).pow(i)
      s"(($x $div $p) % 2) * ${BigInt(2).pow(2 * i + 1)}" +
        s" + (($y $div $p) % 2) * ${BigInt(2).pow(2 * i)}"
    }.mkString(" + ")

  def q123_zorder_layout(s: SparkSession, dir: String): DataFrame = {
    def interleave(x: String, y: String): String = zInterleave(x, y, "div")
    val base = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(256)).as("x"),
        pmod(col("l_suppkey"), lit(256)).as("y"))
      .withColumn("zkey", expr(interleave("x", "y")))
    def audit(layout: String, fileCol: Column): DataFrame = {
      val stats = base.withColumn("file_id", fileCol)
        .groupBy(col("file_id"))
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      // 16 point queries per dimension: q = 8, 24, ... 248
      val probes = (0 until 16).map(k => 8 + 16 * k)
      stats.agg(count(lit(1)).as("n_files"),
        probes.map(q => sum(when(lit(q) >= col("min_x")
          && lit(q) <= col("max_x"), 1L).otherwise(0L)))
          .reduce(_ + _).as("files_scanned_x"),
        probes.map(q => sum(when(lit(q) >= col("min_y")
          && lit(q) <= col("max_y"), 1L).otherwise(0L)))
          .reduce(_ + _).as("files_scanned_y"))
        .select(lit(layout).as("layout"), col("n_files"),
          col("files_scanned_x"), col("files_scanned_y"))
    }
    val zw = Window.orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
    val nw = Window.orderBy(col("l_orderkey"), col("l_linenumber"))
    audit("natural", ntile(32).over(nw))
      .unionByName(audit("zorder", ntile(32).over(zw)))
      .orderBy(col("layout"))
  }

  // ----------------------------------------------------- skew: salted agg
  /** Two-phase salted aggregation — THE skew pattern at 100 TB: a hot
    * group key (one event_type = 20 % of a 100 TB stream) would pin its
    * entire group on one reducer; salting first aggregates on
    * (key, hash(row)%S) so the hot key spreads over S reducers, then the
    * tiny per-salt partials re-aggregate. Only re-aggregatable stats
    * (sum/count/min/max) compose this way; the result is identical to the
    * direct groupBy, which is exactly what the oracle checks.
    *
    * The salt count S is CONSUMED from the q153 skew advisor (round-14
    * verdict item 4 — the advisor→executor loop): S = the advisor's
    * ⌈top1/mean⌉ for `events.event_type`, floored at the session's
    * shuffle parallelism so a low-cardinality key still spreads over the
    * full reducer width (splitting the hot key `factor` ways equalizes
    * SHARD sizes; the floor keeps shard COUNT ≥ the cluster's lanes).
    * The factor is memoized per session and listing of the audited
    * tables (`SkewAdvisor.recommendedSaltFactor`) — SkewAdvisorSpec
    * asserts the fixture-level factor identity. */
  def q46_skew_salted_agg(s: SparkSession, dir: String): DataFrame = {
    val salt = q46SaltCount(s, dir)
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        pmod(xxhash64(col("event_id")), lit(salt)).as("salt"))
      .agg(count(lit(1)).as("c"), sum(d2(col("value"))).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        sum(col("sv")).cast(DoubleType).as("sum_value"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value"),
        (sum(col("sv")).cast(DoubleType) / sum(col("c"))).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** q46's advisor-fed salt count (exposed for SkewAdvisorSpec): the
    * q153 ⌈top1/mean⌉ for the grouping key, floored at the session's
    * shuffle parallelism. */
  private[graft] def q46SaltCount(s: SparkSession, dir: String): Int =
    math.max(
      SkewAdvisor.recommendedSaltFactor(s, dir, "events.event_type"),
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  // ------------------------------------------------------------ as-of join
  /** As-of join (point-in-time lookup): each purchase event picks the
    * latest view event at-or-before it for the same user — the canonical
    * feature-engineering operator (state of X as of event Y) that Spark has
    * no builtin for. Implemented as union + ordered window with
    * last(ignoreNulls): ONE shuffle on user_id, linear in events — never
    * the naive range-join cross product. The right side is pre-deduped to
    * unique (user_id, ts) so equal-timestamp semantics are deterministic
    * (DuckDB's ASOF JOIN is the oracle twin, inclusive >=). */
  def q47_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("view_value"))
      .select(col("user_id"), col("ts_us"), lit(0).as("tag"),
        lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("purchase_value"),
        col("ts_us").as("v_ts"), col("view_value"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("tag"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"),
        lit(null).cast("long").as("v_ts"),
        lit(null).cast("double").as("view_value"))
    // tag orders views before purchases at equal ts → inclusive as-of
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purch)
      .select(col("user_id"), col("ts_us"), col("tag"),
        col("purchase_id"), col("purchase_value"),
        last(col("v_ts"), ignoreNulls = true).over(w).as("view_ts_us"),
        last(col("view_value"), ignoreNulls = true).over(w).as("view_value"))
      .filter(col("tag") === 1)
      .select(col("purchase_id"), col("user_id"), col("ts_us"),
        col("purchase_value"), col("view_ts_us"), col("view_value"))
      .orderBy(col("purchase_id"))
  }

  /** The same as-of lookup through the NATIVE operator (graft.plans
    * .AsofJoin: custom LogicalPlan + SparkStrategy + streaming-merge
    * SparkPlan). Where q47's union+window encoding shuffles left and right
    * together through one window frame, this plans as two by-key exchanges
    * + local sorts + an O(1)-state per-partition merge; same oracle as q47
    * (DuckDB ASOF LEFT JOIN). */
  def q47b_asof_native(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("event_type"), col("value"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("view_value"))
      .select(col("user_id").as("v_user_id"), col("ts_us").as("view_ts_us"),
        col("view_value"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us"), col("value").as("purchase_value"))
    graft.plans.Asof.join(purch, views,
        leftBy = Seq("user_id"), rightBy = Seq("v_user_id"),
        leftOn = "ts_us", rightOn = "view_ts_us")
      .select(col("purchase_id"), col("user_id"), col("ts_us"),
        col("purchase_value"), col("view_ts_us"), col("view_value"))
      .orderBy(col("purchase_id"))
  }

  // ------------------------------------------------------------------- G8
  /** HLL sketch vs exact distinct. The raw approx value can't be compared
    * across engines (different HLL implementations), so the gated output is
    * the exact count plus a within-5%-of-exact flag: Spark runs at
    * rsd=0.02 (~2% error; 0.01 doubled sketch width for a 7x slower agg)
    * and DuckDB's HLL is sub-2%, so both sides land inside the
    * 5% band deterministically — turning a rows-only check into an exact
    * gate without pretending the sketches are bit-identical. */
  def q_approx_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= lit(0.05) * col("exact_parts")).as("approx_ok"))
      .orderBy(col("l_returnflag"))

  /** Distinct parts per flag via the native KMV bottom-k sketch
    * (ml.KmvDistinct) beside the exact count: the gate asserts the sketch
    * lands within 10 % of exact (k=256 → ~6 % RSE; the sketch is
    * deterministic, so the flag is stable). Same contract as
    * q_approx_distinct but through OUR aggregate, not Spark's HLL —
    * exercising partial aggregation + buffer merge across shuffles. */
  def q54_kmv_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitemFanned(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        graft.ml.KmvFunctions.kmv_distinct(col("l_partkey")).as("kmv"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("kmv") - col("exact_parts"))
          <= lit(0.10) * col("exact_parts")).as("kmv_ok"))
      .orderBy(col("l_returnflag"))

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_pricing"        -> (q01_agg_pricing _),
    "q02_filter_project"     -> (q02_filter_project _),
    "q03_join_topk_revenue"  -> (q03_join_topk_revenue _),
    "q04_join_broadcast_dims"-> (q04_join_broadcast_dims _),
    "q05_join_semi"          -> (q05_join_semi _),
    "q06_join_anti"          -> (q06_join_anti _),
    "q07_join_range_bands"   -> (q07_join_range_bands _),
    "q08_rollup"             -> (q08_rollup _),
    "q40_cube_grouping"      -> (q40_cube_grouping _),
    "q41_percentiles"        -> (q41_percentiles _),
    "q41b_percentiles_approx"-> (q41b_percentiles_approx _),
    "q42_pivot"              -> (q42_pivot _),
    "q43_sql_subquery"       -> (q43_sql_subquery _),
    "q44_ntile_stats"        -> (q44_ntile_stats _),
    "q45_edit_distance"      -> (q45_edit_distance _),
    "q09_window_rank"        -> (q09_window_rank _),
    "q10_window_frame"       -> (q10_window_frame _),
    "q11_topk_orders"        -> (q11_topk_orders _),
    "q12_set_ops"            -> (q12_set_ops _),
    "q13_date_math"          -> (q13_date_math _),
    "q14_array_map_ops"      -> (q14_array_map_ops _),
    "q15_json_extract"       -> (q15_json_extract _),
    "q16_sessionize"         -> (q16_sessionize _),
    "q16b_sessionize_native" -> (q16b_sessionize_native _),
    "q59_resample_ffill"     -> (q59_resample_ffill _),
    "q60_funnel"             -> (q60_funnel _),
    "q61_retention"          -> (q61_retention _),
    "q62_hopping_windows"    -> (q62_hopping_windows _),
    "q64_table_checksum"     -> (q64_table_checksum _),
    "q65_zscore_outliers"    -> (q65_zscore_outliers _),
    "q86_apply_changelog"    -> (q86_apply_changelog _),
    "q17_dedup_exact"        -> (q17_dedup_exact _),
    "q18_bind_children"      -> (q18_bind_children _),
    "q46_skew_salted_agg"    -> (q46_skew_salted_agg _),
    "q120_scd2_history"      -> (q120_scd2_history _),
    "q122_scd2_incremental"  -> (q122_scd2_incremental _),
    "q123_zorder_layout"     -> (q123_zorder_layout _),
    "q124_bucketed_join"     -> (q124_bucketed_join _),
    "q93_snapshot_diff"      -> (q93_snapshot_diff _),
    "q47_asof_join"          -> (q47_asof_join _),
    "q47b_asof_native"       -> (q47b_asof_native _),
    "q50_unpivot"            -> (q50_unpivot _),
    "q_approx_distinct"      -> (q_approx_distinct _),
    "q54_kmv_distinct"       -> (q54_kmv_distinct _))

  override val oracle: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT p_partkey, p_brand, p_type, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 30 AND p_type LIKE '%AND%'
        |  AND p_brand IN ('Brand#1','Brand#2','Brand#3')
        |ORDER BY p_partkey""".stripMargin,
    "q03_join_topk_revenue" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin,
    "q04_join_broadcast_dims" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q05_join_semi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q06_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q07_join_range_bands" ->
      """SELECT band, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        |  ('high', 150000.0, 1000000000.0)) AS bands(band, lo, hi)
        | ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q08_rollup" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        | COALESCE(o_orderstatus, 'ALL') AS status,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,
    "q40_cube_grouping" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        | COALESCE(l_linestatus, 'ALL') AS lstatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        | COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, rflag, lstatus""".stripMargin,
    "q41_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS p50_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty,
        | quantile_cont(l_extendedprice, 0.5) AS p50_price,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q42_pivot" ->
      """SELECT o_orderpriority AS priority,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS "F_n",
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F_price",
        | COUNT(*) FILTER (o_orderstatus = 'O') AS "O_n",
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O_price",
        | COUNT(*) FILTER (o_orderstatus = 'P') AS "P_n",
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P_price"
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin,
    "q43_sql_subquery" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderpriority = '1-URGENT'
        |    AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders))
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q44_ntile_stats" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |QUALIFY c_custkey <= 200
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q45_edit_distance" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        | CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q09_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q10_window_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
        | LAG(l_quantity, 1) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "q11_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q12_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1997),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1998)
        |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b) t1
        |UNION ALL
        |SELECT o_custkey, 'only_1997' AS tag FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b) t2
        |UNION ALL
        |SELECT o_custkey, 'only_1998' AS tag FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a) t3
        |ORDER BY tag, o_custkey""".stripMargin,
    "q13_date_math" ->
      """SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year,
        | CAST(date_part('month', o_orderdate) AS INTEGER) AS o_month,
        | COUNT(*) AS n_lines,
        | CAST(SUM(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / COUNT(*) AS avg_ship_delay_days,
        | MIN(CAST(o_orderdate AS DATE)) AS first_order,
        | MAX(CAST(o_orderdate AS DATE)) AS last_order
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_year, o_month ORDER BY o_year, o_month""".stripMargin,
    "q14_array_map_ops" ->
      """WITH arrs AS (
        |  SELECT l_orderkey,
        |    list(CAST(l_quantity AS INTEGER)
        |         ORDER BY l_linenumber, CAST(l_quantity AS INTEGER)) AS q
        |  FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        | CAST(len(q) AS INTEGER) AS n_lines,
        | CAST(list_aggregate(list_transform(q, x -> x * 2), 'sum') AS INTEGER) AS doubled_sum,
        | CAST(len(list_filter(q, x -> x > 25)) AS INTEGER) AS n_big,
        | list_max(q) AS max_qty,
        | CAST(cardinality(map(range(1, len(q) + 1), q)) AS INTEGER) AS n_map
        |FROM arrs ORDER BY l_orderkey""".stripMargin,
    "q15_json_extract" ->
      """SELECT event_type,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type, k_bucket ORDER BY event_type, k_bucket""".stripMargin,
    "q16_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us,
        |  CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
        |       WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q65_zscore_outliers" ->
      """WITH s AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
        |  FROM events GROUP BY event_type),
        |st AS (SELECT event_type, n AS n_events, sm / n AS mu,
        |    sqrt((sq - sm * sm / n) / (n - 1.0)) AS sigma FROM s)
        |SELECT e.event_type, MIN(st.n_events) AS n_events,
        | round(MIN(st.mu), 6) AS mu_r, round(MIN(st.sigma), 6) AS sigma_r,
        | CAST(SUM(CASE WHEN abs(e.value - st.mu) > 3.0 * st.sigma
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN st USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // changelog compaction: latest record per key by (ts, event_id),
    // delete-marker keys absent — DuckDB takes the window form of the
    // same semantics (arg_max tie-breaking across two columns is clearer
    // as ROW_NUMBER there; both engines agree row-for-row)
    "q120_scd2_history" ->
      """SELECT user_id, CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
        |  ts AS valid_from, LEAD(ts, 1) OVER w AS valid_to, event_id,
        |  event_type, round(value, 6) AS value_r,
        |  (LEAD(ts, 1) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // the layout is physical: the oracle joins the raw parquet directly;
    // RelationalPlanSpec asserts the exchange-free plan shape
    "q124_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q123_zorder_layout" -> {
      val probesX = (0 until 16).map(k => 8 + 16 * k)
        .map(q => s"(CASE WHEN $q >= min_x AND $q <= max_x THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val probesY = (0 until 16).map(k => 8 + 16 * k)
        .map(q => s"(CASE WHEN $q >= min_y AND $q <= max_y THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH base AS (SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         |z AS (SELECT *, ${zInterleave("x", "y", "//")} AS zkey FROM base),
         |fz AS (SELECT x, y, ntile(32) OVER (ORDER BY zkey, l_orderkey,
         |    l_linenumber) AS file_id FROM z),
         |fn AS (SELECT x, y, ntile(32) OVER (ORDER BY l_orderkey,
         |    l_linenumber) AS file_id FROM z),
         |sz AS (SELECT file_id, MIN(x) AS min_x, MAX(x) AS max_x,
         |    MIN(y) AS min_y, MAX(y) AS max_y FROM fz GROUP BY file_id),
         |sn AS (SELECT file_id, MIN(x) AS min_x, MAX(x) AS max_x,
         |    MIN(y) AS min_y, MAX(y) AS max_y FROM fn GROUP BY file_id)
         |SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM($probesX) AS BIGINT) AS files_scanned_x,
         |  CAST(SUM($probesY) AS BIGINT) AS files_scanned_y FROM sn
         |UNION ALL
         |SELECT 'zorder', CAST(COUNT(*) AS BIGINT),
         |  CAST(SUM($probesX) AS BIGINT), CAST(SUM($probesY) AS BIGINT)
         |FROM sz
         |ORDER BY layout""".stripMargin
    },
    // incremental == recompute: the oracle IS q120's direct full build
    "q122_scd2_incremental" ->
      """SELECT user_id, CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
        |  ts AS valid_from, LEAD(ts, 1) OVER w AS valid_to, event_id,
        |  event_type, round(value, 6) AS value_r,
        |  (LEAD(ts, 1) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q86_apply_changelog" ->
      """WITH ranked AS (SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, round(value, 6) AS last_value,
        |  CAST(n_changes AS BIGINT) AS n_changes
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q64_table_checksum" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST('0x' || substr(md5(
        |    l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' ||
        |    l_suppkey || '|' || l_returnflag || '|' || l_linestatus), 1, 12)
        |    AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
        |FROM lineitem""".stripMargin,
    "q62_hopping_windows" ->
      """WITH e AS (SELECT event_type, value,
        |    epoch_us(ts) // 3600000000 AS h FROM events),
        |x AS (SELECT event_type, value,
        |    unnest(range(h - 5, h + 1)) AS ws FROM e)
        |SELECT ws * 3600000000 AS window_start_us, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q60_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |v AS (SELECT user_id, MIN(ts_us) FILTER (event_type = 'view') AS view_us
        |  FROM e GROUP BY user_id),
        |j AS (SELECT e.user_id, v.view_us,
        |    MIN(e.ts_us) FILTER (e.event_type = 'purchase'
        |      AND e.ts_us > v.view_us) AS pav
        |  FROM e JOIN v USING (user_id) GROUP BY e.user_id, v.view_us)
        |SELECT user_id, view_us, pav AS purchase_after_view_us,
        | pav - view_us AS lag_us,
        | (view_us IS NOT NULL AND pav IS NOT NULL) AS converted
        |FROM j ORDER BY user_id""".stripMargin,
    "q61_retention" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
        |SELECT f.cohort_wk, e.wk - f.cohort_wk AS wk_offset,
        | COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q59_resample_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hb FROM events),
        |hourly AS (SELECT user_id, hb, COUNT(*) AS n_events,
        |    (max(struct_pack(t := ts_us, v := value))).v AS hv
        |  FROM e GROUP BY user_id, hb),
        |bounds AS (SELECT user_id, MIN(hb) AS h0, MAX(hb) AS h1
        |  FROM e GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hb FROM bounds)
        |SELECT g.user_id, g.hb,
        |  COALESCE(h.n_events, 0) AS n_events,
        |  last_value(h.hv IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.hb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_ffill
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.hb = h.hb
        |ORDER BY g.user_id, g.hb""".stripMargin,
    // native session_window twin — same sessions, same oracle (no
    // exact-gap deltas in the fixtures; see scaladoc)
    "q16b_sessionize_native" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us,
        |  CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
        |       WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT user_id, ts_us,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q17_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        | SELECT doc_id, lang, source, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        | FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q18_bind_children" ->
      """SELECT o_orderkey, COUNT(*) AS n_lines,
        | md5(array_to_string(
        |   list_transform(list(l_linenumber ORDER BY l_linenumber),
        |                  x -> CAST(x AS VARCHAR)), ',')) AS line_numbers_md5
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q46_skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | MIN(value) AS min_value, MAX(value) AS max_value,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q93_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, text,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |olds AS (SELECT doc_id, md5(text) AS old_md5 FROM base),
        |news AS (SELECT doc_id,
        |    md5(CASE WHEN b = 'b' THEN text || ' v2' ELSE text END) AS new_md5
        |  FROM base WHERE b <> 'a'
        |  UNION ALL
        |  SELECT doc_id + n.n AS doc_id, md5(text) AS new_md5
        |  FROM base, n WHERE b = 'c'),
        |j AS (SELECT COALESCE(o.doc_id, w.doc_id) AS doc_id, old_md5, new_md5
        |  FROM olds o FULL OUTER JOIN news w ON o.doc_id = w.doc_id)
        |SELECT CASE WHEN new_md5 IS NULL THEN 'D'
        |            WHEN old_md5 IS NULL THEN 'I'
        |            WHEN old_md5 <> new_md5 THEN 'U' END AS op,
        |  doc_id, old_md5, new_md5
        |FROM j
        |WHERE new_md5 IS NULL OR old_md5 IS NULL OR old_md5 <> new_md5
        |ORDER BY doc_id, op""".stripMargin,
    "q47_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |             event_type, value FROM events),
        |v AS (SELECT user_id, ts_us, MAX(value) AS view_value
        |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts_us),
        |p AS (SELECT event_id AS purchase_id, user_id, ts_us,
        |        value AS purchase_value FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_us, p.purchase_value,
        | v.ts_us AS view_ts_us, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY purchase_id""".stripMargin,
    "q47b_asof_native" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |             event_type, value FROM events),
        |v AS (SELECT user_id, ts_us, MAX(value) AS view_value
        |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts_us),
        |p AS (SELECT event_id AS purchase_id, user_id, ts_us,
        |        value AS purchase_value FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts_us, p.purchase_value,
        | v.ts_us AS view_ts_us, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        |ORDER BY purchase_id""".stripMargin,
    "q50_unpivot" ->
      """WITH agg AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value
        |FROM (UNPIVOT agg ON qty, price, disc INTO NAME measure VALUE value)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  (abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |     <= 0.05 * COUNT(DISTINCT l_partkey)) AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle can't run our sketch; it asserts the accuracy contract the
    // Spark side computes (kmv_ok must come out TRUE for every group)
    "q54_kmv_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS kmv_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // accuracy-contract gate (see q54): flags must come out TRUE
    "q41b_percentiles_approx" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  TRUE AS p50_qty_ok, TRUE AS p90_qty_ok, TRUE AS p50_price_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
