package graft.rel

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative data-quality expectations (q146) — the Deequ model
  * (Schelter et al. VLDB 2018, "Automating Large-Scale Data Quality
  * Verification") in relational form: a constraint suite over `lineitem`
  * evaluated in as few passes as the constraint classes allow, emitting
  * one audit row per constraint: the measured violation count, the
  * checked population, and the verdict.
  *
  * Constraint classes and their physical shapes:
  *  - SCALAR metrics (completeness, domain membership, range) — ALL fold
  *    into ONE map-side-combined aggregate over the fact scan: adding a
  *    constraint of this class costs one more aggregate expression, not
  *    another pass. This is the Deequ insight: metrics are aggregates,
  *    so a suite is one job.
  *  - UNIQUENESS — one hash aggregate on the key (count of keys seen
  *    more than once).
  *  - REFERENTIAL integrity — one anti-join against the parent keys
  *    (broadcast when the parent key set is small; here orders is the
  *    parent so it stays a shuffled semi-structure at scale).
  *
  * Everything is exact integer counting — no float metrics, so the
  * report hash-gates cross-engine with zero tolerance.
  */
object Expectations extends graft.QueryModule {

  def q146_expectations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    // class 1: every scalar metric in ONE aggregate pass
    val scalars = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
      sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("null_price"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("range_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("range_disc"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("domain_flag"),
      sum(when(!col("l_linestatus").isin("O", "F"), 1L)
        .otherwise(0L)).as("domain_status"))
    // class 2: key uniqueness (one hash agg on the key)
    val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as("dup_rows"),
        count(lit(1)).as("dup_keys"))
    // class 3: referential integrity (anti-join to the parent)
    val orphans = li.select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_rows"))
    val m = scalars.crossJoin(dupKeys).crossJoin(orphans).head()
    def row(name: String, violations: Long, population: Long) =
      (name, violations, population, violations == 0L)
    val nRows = m.getAs[Long]("n_rows")
    Seq(
      row("complete_l_quantity", m.getAs[Long]("null_qty"), nRows),
      row("complete_l_extendedprice", m.getAs[Long]("null_price"), nRows),
      row("range_l_quantity_1_50", m.getAs[Long]("range_qty"), nRows),
      row("range_l_discount_0_0.1", m.getAs[Long]("range_disc"), nRows),
      row("domain_l_returnflag_ANR", m.getAs[Long]("domain_flag"), nRows),
      row("domain_l_linestatus_OF", m.getAs[Long]("domain_status"), nRows),
      row("unique_orderkey_linenumber", m.getAs[Long]("dup_rows"), nRows),
      row("ref_l_orderkey_in_orders", m.getAs[Long]("orphan_rows"), nRows))
      .toDF("check_name", "violations", "population", "passed")
      .orderBy(col("check_name"))
  }

  private lazy val expectationsOracle: String =
    s"""WITH sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS null_qty,
       |    CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS null_price,
       |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
       |      THEN 1 ELSE 0 END) AS BIGINT) AS range_qty,
       |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
       |      THEN 1 ELSE 0 END) AS BIGINT) AS range_disc,
       |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS domain_flag,
       |    CAST(SUM(CASE WHEN l_linestatus NOT IN ('O','F')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS domain_status
       |  FROM lineitem),
       |dup AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_rows
       |  FROM (SELECT COUNT(*) AS c FROM lineitem
       |    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) t),
       |orph AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphan_rows
       |  FROM lineitem l WHERE NOT EXISTS
       |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       |rows_out(check_name, violations) AS (
       |  SELECT 'complete_l_quantity', null_qty FROM sc
       |  UNION ALL SELECT 'complete_l_extendedprice', null_price FROM sc
       |  UNION ALL SELECT 'range_l_quantity_1_50', range_qty FROM sc
       |  UNION ALL SELECT 'range_l_discount_0_0.1', range_disc FROM sc
       |  UNION ALL SELECT 'domain_l_returnflag_ANR', domain_flag FROM sc
       |  UNION ALL SELECT 'domain_l_linestatus_OF', domain_status FROM sc
       |  UNION ALL SELECT 'unique_orderkey_linenumber', dup_rows FROM dup
       |  UNION ALL SELECT 'ref_l_orderkey_in_orders', orphan_rows FROM orph)
       |SELECT check_name, violations,
       |  (SELECT n_rows FROM sc) AS population, violations = 0 AS passed
       |FROM rows_out ORDER BY check_name""".stripMargin

  // -------------------------------------------------- q208 Benford audit
  /** First-digit expected permilles round(1000·log₁₀(1 + 1/d)) — Scala
    * constants embedded as literals in BOTH engines, so no query-time
    * pow/log knife-edge exists at all. */
  private val BenfordPermille: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(1000.0 * math.log10(1.0 + 1.0 / d)))

  /** Benford first-digit audit (q208) — the classic fabricated-numbers
    * screen (Benford 1938; Nigrini's forensic-accounting practice,
    * "Benford's Law", Wiley 2012) applied to the money column: natural
    * multi-magnitude amounts follow P(d) = log₁₀(1+1/d); synthetic or
    * truncated feeds don't, and the divergence localizes data-entry
    * bugs the schema checks of q146 can't see (a price column that's
    * secretly uniform passes every range/null/domain constraint).
    *
    * All-integer discipline: cents derive via the house DECIMAL(18,2)
    * money cast, the first digit comes off the decimal STRING (never
    * log10 of a double at query time), observed shares floor-quantize
    * to permilles BEFORE the divergence so the statistic is
    * scale-proof (no c² products — the q196 overflow lesson), and the
    * per-digit divergence term (o−e)²·10⁶ div e is a quantized Pearson
    * χ²-style contribution bounded by 10¹² at ANY corpus size.
    *
    * Scale: one map-side digit extraction + one 9-group aggregate +
    * catalog algebra. */
  def q208_benford_audit(s: SparkSession, dir: String): DataFrame = {
    val digits = Tables.lineitem(s, dir)
      .select(substring(
        col("l_extendedprice").cast("decimal(18,2)").multiply(lit(100))
          .cast("long").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_obs"))
    val expected = BenfordPermille
      .map { case (d, e) => s"($d, ${e}L)" }.mkString(", ")
    val exp = s.sql(
      s"SELECT col1 AS d, col2 AS e_permille FROM VALUES $expected")
    val n = broadcast(digits.agg(sum(col("n_obs")).as("n_rows")))
    val terms = exp.join(digits, Seq("d"), "left_outer")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(n)
      .withColumn("o_permille", expr("(1000 * n_obs) div n_rows"))
      .withColumn("term_micro", expr(
        "((o_permille - e_permille) * (o_permille - e_permille) * 1000000)" +
          " div e_permille"))
    val tot = broadcast(
      terms.agg(sum(col("term_micro")).as("divergence_micro")))
    terms.crossJoin(tot)
      .select(col("d"), col("n_obs"), col("n_rows"), col("o_permille"),
        col("e_permille"), col("term_micro"), col("divergence_micro"))
      .orderBy(col("d"))
  }

  private lazy val benfordOracle: String = {
    val expected = BenfordPermille
      .map { case (d, e) => s"($d, $e)" }.mkString(", ")
    s"""WITH dig AS (SELECT CAST(substr(CAST(CAST(
       |      CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS d
       |  FROM lineitem),
       |obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs
       |  FROM dig GROUP BY d),
       |exp AS (SELECT d, CAST(e AS BIGINT) AS e_permille
       |  FROM (VALUES $expected) t(d, e)),
       |n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_rows FROM obs),
       |terms AS (SELECT exp.d, COALESCE(obs.n_obs, 0) AS n_obs,
       |    n.n_rows, e_permille,
       |    (1000 * COALESCE(obs.n_obs, 0)) // n.n_rows AS o_permille
       |  FROM exp LEFT JOIN obs ON obs.d = exp.d CROSS JOIN n),
       |t2 AS (SELECT *,
       |    ((o_permille - e_permille) * (o_permille - e_permille)
       |      * 1000000) // e_permille AS term_micro
       |  FROM terms),
       |tot AS (SELECT CAST(SUM(term_micro) AS BIGINT)
       |    AS divergence_micro FROM t2)
       |SELECT d, n_obs, n_rows, o_permille, e_permille, term_micro,
       |  divergence_micro
       |FROM t2 CROSS JOIN tot ORDER BY d""".stripMargin
  }

  // ------------------------------------------- q235 referential integrity
  /** Star-schema referential-integrity audit (q235) — the FK-coverage
    * matrix a warehouse publishes before anyone trusts a join: per edge
    * (lineitem→orders, orders→customer, customer→nation,
    * lineitem→part, lineitem→supplier), child rows, DISTINCT child
    * keys, orphan rows (no parent — a LEFT ANTI probe), coverage
    * permille, and a bit_xor digest of orphan keys so the gate pins the
    * offending keys, not just their count. Engines without enforced FK
    * constraints (Spark, most lakes) need exactly this audit as a
    * query.
    *
    * Scale shape: each edge is one anti-join of child keys against the
    * parent key set — the parent side is dimension-sized and broadcasts
    * for all but lineitem→orders, which shuffles on the key like any
    * fact-fact join; output is |edges| rows. */
  def q235_ri_audit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val c = child.select(col(key).cast("long").as("k"))
      val p = parent.select(col(pkey).cast("long").as("k")).distinct()
      val orphans = c.join(p, Seq("k"), "left_anti")
      val base = c.agg(count(lit(1)).as("n_child"),
        countDistinct(col("k")).as("n_keys"))
      val orph = orphans.agg(count(lit(1)).as("n_orphan_rows"),
        coalesce(expr("bit_xor(k)"), lit(0L)).as("orphan_sig"))
      base.crossJoin(orph).select(lit(name).as("edge"), col("n_child"),
        col("n_keys"), col("n_orphan_rows"),
        expr("(1000 * (n_child - n_orphan_rows)) div n_child")
          .as("coverage_permille"),
        col("orphan_sig"))
    }
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
      .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
      .unionByName(edge("customer->nation", c, "c_nationkey",
        Tables.nation(s, dir), "n_nationkey"))
      .unionByName(edge("lineitem->part", li, "l_partkey",
        Tables.part(s, dir), "p_partkey"))
      .unionByName(edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey"))
      .orderBy(col("edge"))
  }

  private lazy val riOracle: String = {
    def edge(name: String, child: String, key: String, parent: String,
        pkey: String): String =
      s"""SELECT '$name' AS edge,
         |    CAST(COUNT(*) AS BIGINT) AS n_child,
         |    CAST(COUNT(DISTINCT CAST($key AS BIGINT)) AS BIGINT)
         |      AS n_keys,
         |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_orphan_rows,
         |    CAST((1000 * (COUNT(*) - SUM(CASE WHEN p.k IS NULL THEN 1
         |      ELSE 0 END))) // COUNT(*) AS BIGINT) AS coverage_permille,
         |    CAST(COALESCE(bit_xor(CASE WHEN p.k IS NULL
         |      THEN CAST($key AS BIGINT) END), 0) AS BIGINT) AS orphan_sig
         |  FROM $child LEFT JOIN (SELECT DISTINCT CAST($pkey AS BIGINT)
         |    AS k FROM $parent) p ON p.k = CAST($key AS BIGINT)"""
        .stripMargin
    s"""WITH u AS (
       |${edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey")}
       |UNION ALL
       |${edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey")}
       |UNION ALL
       |${edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey")}
       |UNION ALL
       |${edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")})
       |SELECT * FROM u ORDER BY edge""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_expectations" -> (q146_expectations _),
    "q208_benford_audit" -> (q208_benford_audit _),
    "q235_ri_audit" -> (q235_ri_audit _))

  override val oracle: Map[String, String] = Map(
    "q146_expectations" -> expectationsOracle,
    "q208_benford_audit" -> benfordOracle,
    "q235_ri_audit" -> riOracle)
}
