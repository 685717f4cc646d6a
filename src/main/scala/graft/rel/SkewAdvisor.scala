package graft.rel

import graft.{Memo, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Join-key skew diagnostics (q153) — the pre-flight report that decides
  * whether a shuffle key needs the q46 salting treatment BEFORE a job
  * hits the "curse of the last reducer": for every flagship join/group
  * key, the per-key count distribution's head share, median/p99 counts,
  * and the implied salting factor (⌈top1 / mean⌉ — how many ways the
  * hottest key must split so its shard is averaged-sized; the published
  * skew-mitigation sizing rule, cf. AQE's skewedPartitionFactor).
  *
  * Everything is exact integers: percentiles are ORDER-STATISTIC ranks
  * over the per-key count table (n_keys rows — catalog-sized), head
  * share is permille arithmetic, the salt factor a ceiling division.
  *
  * Scale shape: each audited key costs one map-side-combined aggregate
  * to its key cardinality; the distribution stats are windows over those
  * catalog-sized frames. The keys are TAGGED and unioned so the stats
  * machinery is written once — adding a key to the audit is one
  * projection. At 100 TB this is the report a platform refreshes per
  * ingest batch and feeds into q46-style salting and AQE skew-join
  * thresholds.
  */
object SkewAdvisor extends graft.QueryModule {

  def q153_skew_advisor(s: SparkSession, dir: String): DataFrame = {
    // keys are audited as STRINGS (long→string casts render identically
    // in Spark and DuckDB) so string-keyed shuffle columns — like q46's
    // event_type grouping key — sit in the same audit as the numeric
    // ids; only the per-key counts feed the stats, never k itself
    def keyed(tag: String, df: DataFrame, c: Column): DataFrame =
      df.select(lit(tag).as("audit_key"), c.cast("string").as("k"))
    val keys =
      keyed("lineitem.l_orderkey", Tables.lineitem(s, dir), col("l_orderkey"))
        .unionByName(keyed("lineitem.l_suppkey",
          Tables.lineitem(s, dir), col("l_suppkey")))
        .unionByName(keyed("lineitem.l_partkey",
          Tables.lineitem(s, dir), col("l_partkey")))
        .unionByName(keyed("orders.o_custkey",
          Tables.orders(s, dir), col("o_custkey")))
        .unionByName(keyed("events.user_id",
          Tables.events(s, dir), col("user_id")))
        .unionByName(keyed("events.event_type",
          Tables.events(s, dir), col("event_type")))
    val counts = keys.groupBy(col("audit_key"), col("k"))
      .agg(count(lit(1)).as("c"))
    val wAsc = Window.partitionBy(col("audit_key")).orderBy(col("c"), col("k"))
    val wAll = Window.partitionBy(col("audit_key"))
    val ranked = counts
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("n_keys", count(lit(1)).over(wAll))
      .withColumn("n_rows", sum(col("c")).over(wAll))
      .withColumn("top1", max(col("c")).over(wAll))
    ranked
      // order statistics at ceil(q·n_keys): exact, engine-portable
      .filter(col("rn") === expr("(n_keys + 1) div 2") ||
        col("rn") === expr("(99 * n_keys + 99) div 100"))
      .groupBy(col("audit_key"), col("n_rows"), col("n_keys"), col("top1"))
      .agg(
        min(when(col("rn") === expr("(n_keys + 1) div 2"), col("c")))
          .as("p50_cnt"),
        min(when(col("rn") === expr("(99 * n_keys + 99) div 100"), col("c")))
          .as("p99_cnt"))
      .select(col("audit_key"), col("n_rows"), col("n_keys"),
        col("top1").as("top1_cnt"),
        expr("(1000 * top1) div n_rows").as("top1_permille"),
        coalesce(col("p50_cnt"), col("top1")).as("p50_cnt"),
        coalesce(col("p99_cnt"), col("top1")).as("p99_cnt"),
        expr("(top1 * n_keys + n_rows - 1) div n_rows").as("salt_factor"))
      .orderBy(col("audit_key"))
  }

  private lazy val skewOracle: String =
    s"""WITH keys AS (
       |  SELECT 'lineitem.l_orderkey' AS audit_key,
       |    CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
       |  UNION ALL SELECT 'lineitem.l_suppkey', CAST(l_suppkey AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR)
       |    FROM lineitem
       |  UNION ALL SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR)
       |    FROM orders
       |  UNION ALL SELECT 'events.user_id', CAST(user_id AS VARCHAR)
       |    FROM events
       |  UNION ALL SELECT 'events.event_type', event_type FROM events),
       |cnt AS (SELECT audit_key, k, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM keys GROUP BY 1, 2),
       |rk AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY audit_key ORDER BY c, k) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY audit_key) AS BIGINT)
       |      AS n_keys,
       |    CAST(SUM(c) OVER (PARTITION BY audit_key) AS BIGINT) AS n_rows,
       |    CAST(MAX(c) OVER (PARTITION BY audit_key) AS BIGINT) AS top1
       |  FROM cnt),
       |pick AS (SELECT audit_key, n_rows, n_keys, top1,
       |    MIN(CASE WHEN rn = (n_keys + 1) // 2 THEN c END) AS p50_cnt,
       |    MIN(CASE WHEN rn = (99 * n_keys + 99) // 100 THEN c END)
       |      AS p99_cnt
       |  FROM rk
       |  WHERE rn = (n_keys + 1) // 2 OR rn = (99 * n_keys + 99) // 100
       |  GROUP BY 1, 2, 3, 4)
       |SELECT audit_key, n_rows, n_keys, top1 AS top1_cnt,
       |  CAST((1000 * top1) // n_rows AS BIGINT) AS top1_permille,
       |  CAST(COALESCE(p50_cnt, top1) AS BIGINT) AS p50_cnt,
       |  CAST(COALESCE(p99_cnt, top1) AS BIGINT) AS p99_cnt,
       |  CAST((top1 * n_keys + n_rows - 1) // n_rows AS BIGINT)
       |    AS salt_factor
       |FROM pick ORDER BY audit_key""".stripMargin

  /** ⌈top1/mean⌉ for ONE keyed frame (single column `k`) — the identical
    * integer sizing rule q153 reports, exposed so specs can assert the
    * advisor→executor loop on constructed fixtures. */
  private[graft] def saltFactorOf(keys: DataFrame): Long = {
    val r = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top1"), count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows")).head()
    val (top1, nKeys, nRows) = (r.getLong(0), r.getLong(1), r.getLong(2))
    (top1 * nKeys + nRows - 1) / nRows
  }

  /** Advisor→executor loop (round-14 verdict item 4): the salting factor
    * a consumer (q46) applies IS the advisor's reported ⌈top1/mean⌉ for
    * that audit key, computed once per session and listing of the
    * audited tables (events, lineitem, orders) through [[Memo]], so an
    * in-place data change re-advises instead of serving a stale factor.
    * The first consumer in a session pays the advisor pass (the same
    * catalog-sized aggregate q153 itself runs). */
  def recommendedSaltFactor(s: SparkSession, dir: String,
      auditKey: String): Int =
    Memo(s, dir, Seq("events", "lineitem", "orders"), s"salt-$auditKey")(
      q153_skew_advisor(s, dir)
        .filter(col("audit_key") === auditKey)
        .select(col("salt_factor")).head().getLong(0)).toInt

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q153_skew_advisor" -> (q153_skew_advisor _))

  override val oracle: Map[String, String] = Map(
    "q153_skew_advisor" -> skewOracle)
}
