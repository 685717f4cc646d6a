package graft.rel

import graft.{Memo, Tables}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}

/** splitmix64 finalizer (Steele, Lea & Flood 2014, "Fast splittable
  * pseudorandom number generators" — public domain) as the shared
  * key-sampling hash: a bijective 64-bit mixer, so sampling on
  * `pmod(mix(k), P) == 0` selects a uniform, CORRELATED 1/P of the key
  * domain — both join sides keep exactly the same keys, which is what
  * makes the q159 estimator unbiased (Vengerov et al., VLDB 2015,
  * "Join size estimation subject to filter conditions": correlated /
  * end-biased sampling). JVM Long arithmetic wraps natively; the DuckDB
  * twin replays the same steps in HUGEINT limbs (the q83 recipe). */
object SplitMix64Kernel {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** `splitmix64(key)` as a native codegen'd expression — stays inside
  * whole-stage codegen (same trade as Porter2Stem's static kernel call),
  * so the sampling predicate costs one fused scalar op per row. */
case class SplitMix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"
  override protected def nullSafeEval(input: Any): Any =
    SplitMix64Kernel.mix(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.rel.SplitMix64Kernel.mix($c)")
  override protected def withNewChildInternal(newChild: Expression): SplitMix64 =
    copy(child = newChild)
}

/** Join-cardinality estimation + the broadcast-planning loop it feeds
  * (q159/q159b) — the sketch a 100 TB planner consults BEFORE running a
  * join: |A ⋈_k B| = Σ_v n_A(v)·n_B(v), estimated from the correlated
  * key sample {v : pmod(splitmix64(v), P) = 0} as P·Σ_sampled
  * n_A(v)·n_B(v) (unbiased — both sides sample the SAME keys, so the
  * per-key product survives intact; Vengerov et al. 2015). The
  * estimator is BIFOCAL (Ganguly et al. 1996's split treatment of
  * sparse/dense domains): a key domain smaller than `SampleFloor·P`
  * would leave too few sampled keys for the variance bound, and is
  * exactly countable for less than the estimator costs — those pairs
  * report the exact product sum with p_inv = 1.
  *
  * Everything is BIGINT-exact end to end: per-key counts, the sampled
  * product sum, the P-scaled estimate, the permille error — no doubles,
  * so the DuckDB twin reproduces every row bit-for-bit (splitmix64
  * replayed in HUGEINT; 8 | 2^64 makes `pmod(signed, 8)` equal the
  * unsigned representative's `% 8`, so the twin never needs the
  * two's-complement conversion).
  *
  * Scale shape: the AUDIT computes per-key count frames (key-cardinality
  * sized, map-side combined) because it also reports the exact truth to
  * grade the estimator against. The DEPLOY path — `estimatedJoinRows` —
  * filters `pmod(splitmix64(k), P) = 0` BEFORE its aggregate, so the
  * shuffle carries ~1/P of the key domain and the joined sample frames
  * are sketch-sized; P is sized from the q54 KMV distinct sketch (one
  * constant-memory pass) when the domain cardinality is unknown. The
  * consumer decision (q159b) is ONE memoized scalar — metadata, never
  * corpus data — exactly the q153→q46 advisor→executor contract.
  */
object JoinCard extends graft.QueryModule {

  /** Sampling modulus: keep 1/8 of the key domain. */
  private val PInv = 8L
  /** Bifocal floor: sample only when BOTH domains keep ≥ this many keys
    * in expectation (1024/8 = 128 sampled keys → ~9 % RSE). */
  private val SampleFloor = 1024L
  /** Broadcast advice: a build side at or under this many rows is
    * broadcast-tiny (rows, not bytes, for integer-exactness; at deploy
    * the row bound is rows·avg_width vs autoBroadcastJoinThreshold). */
  private val BroadcastRows = 8192L

  def splitmix64(c: Column): Column =
    GraftSqlBridge.column(SplitMix64(GraftSqlBridge.expression(c)))

  /** The audited join pairs: FK chains plus the events self-join (the
    * quadratic-fan-out case a skew-blind estimator gets most wrong). */
  private def pairs(s: SparkSession, dir: String)
      : Seq[(String, DataFrame, String, DataFrame, String)] = Seq(
    ("events_events", Tables.events(s, dir), "user_id",
      Tables.events(s, dir), "user_id"),
    ("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir), "o_orderkey"),
    ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
      Tables.part(s, dir), "p_partkey"),
    ("lineitem_supplier", Tables.lineitem(s, dir), "l_suppkey",
      Tables.supplier(s, dir), "s_suppkey"),
    ("orders_customer", Tables.orders(s, dir), "o_custkey",
      Tables.customer(s, dir), "c_custkey"))

  def q159_join_cardinality(s: SparkSession, dir: String): DataFrame = {
    val keyed = pairs(s, dir).map { case (name, a, ka, b, kb) =>
      a.select(lit(name).as("join_name"), lit("a").as("side"),
          col(ka).cast("long").as("k"))
        .unionByName(b.select(lit(name).as("join_name"),
          lit("b").as("side"), col(kb).cast("long").as("k")))
    }.reduce(_ unionByName _)
    val perKey = keyed.groupBy(col("join_name"), col("k"))
      .agg(
        sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
      .withColumn("sampled", pmod(splitmix64(col("k")), lit(PInv)) === 0L)
    perKey.groupBy(col("join_name"))
      .agg(
        sum(col("ca")).as("a_rows"),
        sum(col("cb")).as("b_rows"),
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("n_keys_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("n_keys_b"),
        sum(col("ca") * col("cb")).as("true_rows"),
        sum(when(col("sampled"), col("ca") * col("cb")).otherwise(0L))
          .as("s_prod"),
        sum(when(col("sampled") && col("ca") > 0 && col("cb") > 0, 1L)
          .otherwise(0L)).as("s_keys"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("m_keys"))
      .withColumn("p_inv",
        when(least(col("n_keys_a"), col("n_keys_b")) >= SampleFloor,
          lit(PInv)).otherwise(lit(1L)))
      .withColumn("est_rows",
        when(col("p_inv") === PInv, lit(PInv) * col("s_prod"))
          .otherwise(col("true_rows")))
      .withColumn("sampled_keys",
        when(col("p_inv") === PInv, col("s_keys")).otherwise(col("m_keys")))
      .withColumn("err_permille",
        expr("(1000 * abs(est_rows - true_rows)) div true_rows"))
      .withColumn("broadcast_ok",
        least(col("a_rows"), col("b_rows")) <= BroadcastRows)
      .select(col("join_name"), col("a_rows"), col("b_rows"),
        col("n_keys_a"), col("n_keys_b"), col("p_inv"), col("sampled_keys"),
        col("est_rows"), col("true_rows"), col("err_permille"),
        col("broadcast_ok"))
      .orderBy(col("join_name"))
  }

  /** DEPLOY-shaped estimator: the sampling predicate runs BEFORE the
    * per-key aggregate (visible in the plan as a Filter under the first
    * Exchange), so the shuffled key frames carry ~1/P of each domain.
    * Returns the same P·Σ n_A·n_B integer the audit reports for sampled
    * pairs. Exposed for specs and for planners sizing unseen joins. */
  private[graft] def estimatorFrame(a: DataFrame, ka: String,
      b: DataFrame, kb: String): DataFrame = {
    def sampledCounts(df: DataFrame, key: String, out: String): DataFrame =
      df.select(col(key).cast("long").as("k"))
        .filter(pmod(splitmix64(col("k")), lit(PInv)) === 0L)
        .groupBy(col("k")).agg(count(lit(1)).as(out))
    sampledCounts(a, ka, "ca")
      .join(sampledCounts(b, kb, "cb"), "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("s"))
  }

  private[graft] def estimatedJoinRows(a: DataFrame, ka: String,
      b: DataFrame, kb: String): Long =
    PInv * estimatorFrame(a, ka, b, kb).head().getLong(0)

  // ---------------------------------------------------------------- q159b

  /** Advisor→executor loop: the broadcast decision q159b applies IS the
    * advisor's reported `broadcast_ok` for that join, computed once per
    * session and listing of the join's two tables through [[Memo]] (a
    * join is named `<a>_<b>` after them), so an in-place data change
    * re-advises instead of serving a stale plan. */
  private[graft] def recommendedBroadcast(s: SparkSession, dir: String,
      joinName: String): Boolean =
    Memo(s, dir, joinName.split('_').toSeq.distinct, s"broadcast-$joinName")(
      q159_join_cardinality(s, dir)
        .filter(col("join_name") === joinName)
        .select(col("broadcast_ok")).head().getBoolean(0))

  /** The advised physical form: hint the build side iff the advisor said
    * broadcast-tiny. Parameterized so specs can drive it with fixtures
    * where the decision flips; the RESULT is strategy-invariant (which
    * is exactly what the oracle certifies — the advice changes the plan,
    * never the rows). */
  private[graft] def advisedJoin(orders: DataFrame, customer: DataFrame,
      doBroadcast: Boolean): DataFrame = {
    val cust = customer.select(col("c_custkey"), col("c_nationkey"))
    val build = if (doBroadcast) broadcast(cust) else cust
    orders.select(col("o_custkey"), col("o_totalprice"))
      .join(build, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy(col("c_nationkey"))
  }

  def q159b_advised_join(s: SparkSession, dir: String): DataFrame =
    advisedJoin(Tables.orders(s, dir), Tables.customer(s, dir),
      recommendedBroadcast(s, dir, "orders_customer"))

  // ---------------------------------------------------------------- q165

  /** End-biased estimation (q165) — the upgrade the q159 scaling note
    * promises, implemented: plain correlated sampling fails on skew
    * because the hot key is a coin flip (in the 1/P sample: P×
    * overestimate; out: catastrophic underestimate — measured 974–999 ‰
    * error on the exponential fixture below at every SF). The published
    * fix (end-biased / bifocal sampling — Estan & Varghese 2002's
    * sample-and-hold insight; Ganguly et al. 1996's dense/sparse split)
    * carries heavy keys EXACTLY and samples only the light tail. Heavy
    * detection is a COUNT-MIN probe (Cormode & Muthukrishnan 2005, the
    * q104 sketch): cms_est(k) ≥ exact always, so the heavy tier is a
    * provable SUPERSET of the true-heavy keys — no hot key can slip
    * into the sampled tail (gated as `heavy_superset_ok`).
    *
    * The skewed fixture derives deterministically from real data:
    * k = length(bin(event_id)) gives key j a ~2^j population — the
    * exponential skew a uniform synthetic table otherwise lacks — and
    * replays exactly in both engines (no log2 doubles near power-of-2
    * knife edges; bin-string length is integer-exact).
    *
    * Scale shape: the sketch build is one map-side pass into d·w cells;
    * the per-row deploy predicate (heavy ∪ sampled) is 4 md5s against
    * the BROADCAST 4096-cell sketch plus one splitmix64 — so the
    * per-key aggregate downstream only sees heavy ∪ sampled keys. The
    * audit (this query) also computes the exact truth to grade both
    * estimators side by side. */
  def q165_endbiased_estimate(s: SparkSession, dir: String): DataFrame = {
    val wdt = 1024
    val ev = Tables.events(s, dir)
      .select(expr("length(bin(event_id))").cast("long").as("k"))
    val nTotal = ev.agg(count(lit(1)).as("n_rows"))
    def cellOf(j: Column, k: Column): Column =
      conv(substring(md5(concat(j.cast("string"), lit(" "),
        k.cast("string")).cast("binary")), 1, 12), 16, 10)
        .cast("long") % wdt
    val sketch = ev
      .select(explode(expr("sequence(0, 3)")).as("j"), col("k"))
      .select(col("j"), cellOf(col("j"), col("k")).as("cell"))
      .groupBy(col("j"), col("cell")).agg(count(lit(1)).as("cnt"))
    val perKey = ev.groupBy(col("k")).agg(count(lit(1)).as("c"))
    val probed = perKey
      .select(col("k"), col("c"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("cell", cellOf(col("j"), col("k")))
      .join(broadcast(sketch), Seq("j", "cell"))
      .groupBy(col("k"), col("c")).agg(min(col("cnt")).as("cms_est"))
    val flags = probed.crossJoin(broadcast(nTotal))
      .withColumn("t_heavy", expr("n_rows div 100"))
      .withColumn("heavy", col("cms_est") >= col("t_heavy"))
      .withColumn("sampled", pmod(splitmix64(col("k")), lit(PInv)) === 0L)
    flags.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("heavy"), 1L).otherwise(0L)).as("n_heavy"),
      sum(when(!col("heavy") && col("sampled"), 1L).otherwise(0L))
        .as("n_sampled_light"),
      sum(col("c") * col("c")).as("true_rows"),
      (sum(when(col("heavy"), col("c") * col("c")).otherwise(0L)) +
        lit(PInv) * sum(when(!col("heavy") && col("sampled"),
          col("c") * col("c")).otherwise(0L))).as("est_rows"),
      (lit(PInv) * sum(when(col("sampled"), col("c") * col("c"))
        .otherwise(0L))).as("corr_est_rows"),
      bool_and(col("heavy") || col("c") < col("t_heavy"))
        .as("heavy_superset_ok"))
      .withColumn("err_permille",
        expr("(1000 * abs(est_rows - true_rows)) div true_rows"))
      .withColumn("corr_err_permille",
        expr("(1000 * abs(corr_est_rows - true_rows)) div true_rows"))
      .withColumn("endbiased_no_worse",
        col("err_permille") <= col("corr_err_permille"))
      .select(col("n_keys"), col("n_heavy"), col("n_sampled_light"),
        col("est_rows"), col("true_rows"), col("err_permille"),
        col("corr_est_rows"), col("corr_err_permille"),
        col("heavy_superset_ok"), col("endbiased_no_worse"))
  }

  // ---------------------------------------------------------------- oracle

  /** splitmix64 replayed step-for-step in HUGEINT arithmetic (the q83
    * recipe): wrap-mod 2^64 add/multiply, shifts as floor division, xor
    * on nonnegative representatives. */
  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val joinCardOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH keys AS (
       |  SELECT 'events_events' AS join_name, 'a' AS side,
       |    CAST(user_id AS BIGINT) AS k FROM events
       |  UNION ALL SELECT 'events_events', 'b', CAST(user_id AS BIGINT)
       |    FROM events
       |  UNION ALL SELECT 'lineitem_orders', 'a', CAST(l_orderkey AS BIGINT)
       |    FROM lineitem
       |  UNION ALL SELECT 'lineitem_orders', 'b', CAST(o_orderkey AS BIGINT)
       |    FROM orders
       |  UNION ALL SELECT 'lineitem_part', 'a', CAST(l_partkey AS BIGINT)
       |    FROM lineitem
       |  UNION ALL SELECT 'lineitem_part', 'b', CAST(p_partkey AS BIGINT)
       |    FROM part
       |  UNION ALL SELECT 'lineitem_supplier', 'a', CAST(l_suppkey AS BIGINT)
       |    FROM lineitem
       |  UNION ALL SELECT 'lineitem_supplier', 'b', CAST(s_suppkey AS BIGINT)
       |    FROM supplier
       |  UNION ALL SELECT 'orders_customer', 'a', CAST(o_custkey AS BIGINT)
       |    FROM orders
       |  UNION ALL SELECT 'orders_customer', 'b', CAST(c_custkey AS BIGINT)
       |    FROM customer),
       |perkey AS (SELECT join_name, k,
       |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM keys GROUP BY 1, 2),
       |zs AS (SELECT *, CAST(k AS HUGEINT) AS z FROM perkey),
       |s1 AS (SELECT *, $z1 AS z1 FROM zs),
       |s2 AS (SELECT *, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT *, $m2 AS z2 FROM s2),
       |s4 AS (SELECT *, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT *, $m3 AS z3 FROM s4),
       |s6 AS (SELECT *, xor(z3, z3 // 2147483648) AS m FROM s5),
       |flagged AS (SELECT join_name, k, ca, cb, (m % 8) = 0 AS sampled
       |  FROM s6),
       |agg AS (SELECT join_name,
       |    CAST(SUM(ca) AS BIGINT) AS a_rows,
       |    CAST(SUM(cb) AS BIGINT) AS b_rows,
       |    CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_keys_a,
       |    CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_keys_b,
       |    CAST(SUM(ca * cb) AS BIGINT) AS true_rows,
       |    CAST(SUM(CASE WHEN sampled THEN ca * cb ELSE 0 END) AS BIGINT)
       |      AS s_prod,
       |    CAST(SUM(CASE WHEN sampled AND ca > 0 AND cb > 0 THEN 1
       |      ELSE 0 END) AS BIGINT) AS s_keys,
       |    CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS m_keys
       |  FROM flagged GROUP BY 1),
       |fin AS (SELECT *,
       |    CASE WHEN least(n_keys_a, n_keys_b) >= 1024 THEN 8
       |         ELSE 1 END AS p_inv
       |  FROM agg)
       |SELECT join_name, a_rows, b_rows, n_keys_a, n_keys_b,
       |  CAST(p_inv AS BIGINT) AS p_inv,
       |  CAST(CASE WHEN p_inv = 8 THEN s_keys ELSE m_keys END AS BIGINT)
       |    AS sampled_keys,
       |  CAST(CASE WHEN p_inv = 8 THEN 8 * s_prod ELSE true_rows END
       |    AS BIGINT) AS est_rows,
       |  true_rows,
       |  CAST((1000 * abs((CASE WHEN p_inv = 8 THEN 8 * s_prod
       |    ELSE true_rows END) - true_rows)) // true_rows AS BIGINT)
       |    AS err_permille,
       |  least(a_rows, b_rows) <= 8192 AS broadcast_ok
       |FROM fin ORDER BY join_name""".stripMargin
  }

  private val advisedJoinOracle: String =
    """SELECT c.c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Replays the fixture key, the CMS build+probe, the splitmix64 tail
    * sample, and the tiered arithmetic. */
  private lazy val endbiasedOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH ev AS (SELECT CAST(length(format('{:b}', event_id)) AS BIGINT)
       |    AS k FROM events),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM ev),
       |cells AS (SELECT j,
       |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ' ' ||
       |      CAST(k AS VARCHAR)), 1, 12) AS BIGINT) % 1024 AS cell,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM ev, unnest(range(0, 4)) AS u(j) GROUP BY 1, 2),
       |pk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1),
       |ph AS (SELECT pk.k, pk.c, j,
       |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ' ' ||
       |      CAST(pk.k AS VARCHAR)), 1, 12) AS BIGINT) % 1024 AS cell
       |  FROM pk, unnest(range(0, 4)) AS u(j)),
       |probe AS (SELECT k, c, MIN(cnt) AS cms_est
       |  FROM ph JOIN cells USING (j, cell) GROUP BY 1, 2),
       |zs AS (SELECT *, CAST(k AS HUGEINT) AS z FROM probe),
       |s1 AS (SELECT *, $z1 AS z1 FROM zs),
       |s2 AS (SELECT *, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT *, $m2 AS z2 FROM s2),
       |s4 AS (SELECT *, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT *, $m3 AS z3 FROM s4),
       |s6 AS (SELECT *, xor(z3, z3 // 2147483648) AS m FROM s5),
       |flags AS (SELECT k, c, cms_est,
       |    n_rows // 100 AS t_heavy,
       |    cms_est >= n_rows // 100 AS heavy,
       |    (m % 8) = 0 AS sampled
       |  FROM s6, nt),
       |agg AS (SELECT
       |    CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(CASE WHEN heavy THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_heavy,
       |    CAST(SUM(CASE WHEN NOT heavy AND sampled THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_sampled_light,
       |    CAST(SUM(c * c) AS BIGINT) AS true_rows,
       |    CAST(SUM(CASE WHEN heavy THEN c * c ELSE 0 END) +
       |      8 * SUM(CASE WHEN NOT heavy AND sampled THEN c * c
       |        ELSE 0 END) AS BIGINT) AS est_rows,
       |    CAST(8 * SUM(CASE WHEN sampled THEN c * c ELSE 0 END)
       |      AS BIGINT) AS corr_est_rows,
       |    bool_and(heavy OR c < t_heavy) AS heavy_superset_ok
       |  FROM flags)
       |SELECT n_keys, n_heavy, n_sampled_light, est_rows, true_rows,
       |  CAST((1000 * abs(est_rows - true_rows)) // true_rows AS BIGINT)
       |    AS err_permille,
       |  corr_est_rows,
       |  CAST((1000 * abs(corr_est_rows - true_rows)) // true_rows
       |    AS BIGINT) AS corr_err_permille,
       |  heavy_superset_ok,
       |  ((1000 * abs(est_rows - true_rows)) // true_rows) <=
       |    ((1000 * abs(corr_est_rows - true_rows)) // true_rows)
       |    AS endbiased_no_worse
       |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------------- q289

  /** The two candidate left-deep shapes of customer ⋈ orders ⋈
    * lineitem, parameterized so specs can drive both and assert (a) the
    * rows are order-invariant and (b) the deepest join really is the
    * chosen pair. */
  private[graft] def threeWayJoin(orders: DataFrame, customer: DataFrame,
      lineitem: DataFrame, coFirst: Boolean): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_custkey"))
    val c = customer.select(col("c_custkey"), col("c_nationkey"))
    val l = lineitem.select(col("l_orderkey"), col("l_extendedprice"))
    val joined =
      if (coFirst)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
      else
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
    joined.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
  }

  /** q289: cost-estimated JOIN ORDER across a 3-table chain (r16
    * verdict item 6 — the advisor rung above q159b's build-side pick):
    * the q159 correlated-sampling estimator (Vengerov et al., VLDB
    * 2015) prices BOTH left-deep orders of customer ⋈ orders ⋈
    * lineitem by their first intermediate — est(O⋈C) vs est(O⋈L) — and
    * the executed plan joins the cheaper pair first (Selinger et al.,
    * SIGMOD 1979, at its smallest useful instance: on a join chain the
    * first intermediate dominates the cost difference between
    * left-deep orders). Everything gates: the sampled estimates replay
    * exactly in DuckDB through the splitmix64 HUGEINT limb chain (the
    * q159 oracle recipe), so the CHOICE itself is oracle-certified —
    * not just the rows, which are order-invariant by construction (the
    * aggregate gate proves it).
    *
    * Scale shape: the advisor prices each join on a 1/P key sample —
    * two bounded aggregates collected as two scalars, plan-time
    * metadata — and the executed 3-way join shuffles each table once
    * on its join key. Here the choice saves riding |L| ≈ 4·|O| rows
    * into the second join; on a skewed lake the difference is
    * arbitrary, and the decision costs two sampled scans. */
  def q289_join_order(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val customer = Tables.customer(s, dir)
    val lineitem = Tables.lineitem(s, dir)
    val estCo =
      estimatedJoinRows(orders, "o_custkey", customer, "c_custkey")
    val estOl =
      estimatedJoinRows(orders, "o_orderkey", lineitem, "l_orderkey")
    val coFirst = estCo <= estOl
    threeWayJoin(orders, customer, lineitem, coFirst)
      .withColumn("est_co_rows", lit(estCo))
      .withColumn("est_ol_rows", lit(estOl))
      .withColumn("join_order", lit(
        if (coFirst) "customer_orders_first" else "orders_lineitem_first"))
      .orderBy(col("c_nationkey"))
  }

  /** The q159 sampled-estimate replay for one key pair, as CTEs ending
    * in `est_<tag>(est)`: per-key counts joined on the key, the
    * splitmix64 HUGEINT limb chain, est = P·Σ_{sampled} ca·cb. */
  private def sampledEstCtes(tag: String, aTable: String, aKey: String,
      bTable: String, bKey: String): String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""pa_$tag AS (SELECT CAST($aKey AS BIGINT) AS k,
       |    CAST(COUNT(*) AS BIGINT) AS ca FROM $aTable GROUP BY 1),
       |pb_$tag AS (SELECT CAST($bKey AS BIGINT) AS k,
       |    CAST(COUNT(*) AS BIGINT) AS cb FROM $bTable GROUP BY 1),
       |j_$tag AS (SELECT k, ca, cb FROM pa_$tag JOIN pb_$tag USING (k)),
       |zs_$tag AS (SELECT *, CAST(k AS HUGEINT) AS z FROM j_$tag),
       |s1_$tag AS (SELECT *, $z1 AS z1 FROM zs_$tag),
       |s2_$tag AS (SELECT *, xor(z1, z1 // 1073741824) AS x1
       |  FROM s1_$tag),
       |s3_$tag AS (SELECT *, $m2 AS z2 FROM s2_$tag),
       |s4_$tag AS (SELECT *, xor(z2, z2 // 134217728) AS x2
       |  FROM s3_$tag),
       |s5_$tag AS (SELECT *, $m3 AS z3 FROM s4_$tag),
       |s6_$tag AS (SELECT *, xor(z3, z3 // 2147483648) AS m
       |  FROM s5_$tag),
       |est_$tag AS (SELECT CAST(8 * COALESCE(SUM(CASE WHEN (m % 8) = 0
       |    THEN ca * cb ELSE 0 END), 0) AS BIGINT) AS est
       |  FROM s6_$tag)""".stripMargin
  }

  private lazy val joinOrderOracle: String =
    s"""WITH ${sampledEstCtes("co", "orders", "o_custkey",
          "customer", "c_custkey")},
       |${sampledEstCtes("ol", "orders", "o_orderkey",
          "lineitem", "l_orderkey")},
       |ag AS (SELECT c.c_nationkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS revenue
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |  GROUP BY 1)
       |SELECT ag.c_nationkey, ag.n_items, ag.revenue,
       |  e1.est AS est_co_rows, e2.est AS est_ol_rows,
       |  CASE WHEN e1.est <= e2.est THEN 'customer_orders_first'
       |       ELSE 'orders_lineitem_first' END AS join_order
       |FROM ag CROSS JOIN est_co e1 CROSS JOIN est_ol e2
       |ORDER BY ag.c_nationkey""".stripMargin

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_join_cardinality" -> (q159_join_cardinality _),
    "q159b_advised_join" -> (q159b_advised_join _),
    "q165_endbiased_estimate" -> (q165_endbiased_estimate _),
    "q289_join_order" -> (q289_join_order _))

  override val oracle: Map[String, String] = Map(
    "q159_join_cardinality" -> joinCardOracle,
    "q159b_advised_join" -> advisedJoinOracle,
    "q165_endbiased_estimate" -> endbiasedOracle,
    "q289_join_order" -> joinOrderOracle)
}
