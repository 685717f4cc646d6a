package graft.ml

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet & Meunier
  * 2007) — the THIRD rung of the repo's cardinality ladder and the one
  * every lake/telemetry stack actually stores: q_approx_distinct gates
  * Spark's built-in HLL++ within tolerance, q54 gates the native KMV
  * aggregate within tolerance, and q219 builds the textbook HLL REGISTERS
  * themselves in pure relational algebra so the whole sketch — registers,
  * raw estimate, small-range linear-counting correction — is BIT-EXACT
  * and replays in DuckDB (no tolerance contract at all).
  *
  * The float-free lift: with h = splitmix64(key), bucket = low 8 bits,
  * w = h >>> 8 (a 56-bit window), the rank is rho = 57 − bitlen(w)
  * (bitlen via length(bin(w)) — exact integers in both engines; w = 0 →
  * rho = 57). Registers M_j = max rho per bucket. The harmonic sum
  * Σ 2^(−M_j) becomes the integer S = Σ 2^(57−M_j) over the full
  * 256-bucket grid (absent buckets M = 0), and the estimate
  *   E = α_m·m²/Σ2^(−M_j) = (α_micro·m²·2^57) div (10⁶·S)
  * is one integral division of exact operands — DECIMAL(38,0) on the
  * Spark side, HUGEINT in DuckDB (S ≤ 256·2^57 ≈ 2^65 overflows BIGINT
  * by design; the term table does not). α_micro = round(10⁶·0.7213/
  * (1 + 1.079/m)) is a compile-time literal shared by both plans.
  * Small-range correction (V = zero registers > 0 and E ≤ 5m/2):
  * linear counting m·ln(m/V) in the house micro-nat quantization,
  * round(10⁶·ln m) − round(10⁶·ln V) of INTEGER arguments (q203 class).
  *
  * Why this is the 100 TB sketch: a register table is 256 BIGINTs per
  * group no matter how many rows stream through it, max() is a
  * commutative-idempotent merge (map-side partial combine, mergeable
  * across shards/days without rescanning), and the estimate is catalog
  * math over the register table. The register bit_xor signature gates
  * the sketch CONTENT, not just the estimate.
  */
object Hll extends graft.QueryModule {

  private val P = 8
  private val M = 1 << P // 256 registers
  private val MaxRho = 64 - P + 1 // 57
  private val AlphaMicro: Long =
    math.round(1e6 * 0.7213 / (1.0 + 1.079 / M)) // 718273
  /** α_micro · m² · 2^57 — the estimate numerator, shared literal. */
  private val Numer: BigInt =
    BigInt(AlphaMicro) * BigInt(M) * BigInt(M) * (BigInt(1) << MaxRho)
  // shared-formula ln (r18 verdict item 4): the same constant text both
  // engines derive, no libm in the definition
  private val LnMMicro: Long = math.round(1e6 * graft.functions.SharedLnUtil.ln(M.toLong))

  /** Pure register fold shared by the streaming twin's consumers and the
    * specs — the identical arithmetic to the q219 relational plan:
    * (zero registers, raw estimate, corrected estimate). Registers are a
    * max-semilattice, so folding partial register maps from any shard /
    * window / day split gives the same answer — merge with
    * `(a ++ b.map { case (k, v) => k -> math.max(v, a.getOrElse(k, 0L)) })`. */
  def estimate(regs: Map[Long, Long]): (Long, Long, Long) = {
    val full = (0L until M.toLong).map(b => regs.getOrElse(b, 0L))
    val vZero = full.count(_ == 0L).toLong
    val s = full.map(mj => BigInt(1) << (MaxRho - mj.toInt)).sum
    val raw = (Numer / (BigInt(1000000) * s)).toLong
    val est =
      if (vZero > 0 && raw * 2 <= 5L * M)
        (M * (LnMMicro - math.round(1e6 * graft.functions.SharedLnUtil.ln(vZero)))) /
          1000000L
      else raw
    (vZero, raw, est)
  }

  def q219_hll_distinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitemFanned(s, dir)
    // one pass, three sketch targets stacked as (name, key)
    val keyed = li.select(explode(array(
        struct(lit("orderkey").as("name"), col("l_orderkey").as("k")),
        struct(lit("partkey").as("name"), col("l_partkey").as("k")),
        struct(lit("suppkey").as("name"), col("l_suppkey").as("k"))))
        .as("t"))
      .select(col("t.name").as("name"),
        graft.rel.JoinCard.splitmix64(col("t.k")).as("h"))
      .select(col("name"), pmod(col("h"), lit(M.toLong)).as("bucket"),
        expr(s"shiftrightunsigned(h, $P)").as("w"))
      .select(col("name"), col("bucket"),
        when(col("w") === 0L, lit(MaxRho.toLong))
          .otherwise(lit(MaxRho.toLong) - length(bin(col("w"))))
          .as("rho"))
    val regs = keyed.groupBy(col("name"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
    // full 256-bucket grid per target: absent buckets are M = 0
    val grid = li.sparkSession.range(M.toLong).select(col("id").as("bucket"))
    val full = keyed.select(col("name")).distinct()
      .crossJoin(broadcast(grid))
      .join(regs, Seq("name", "bucket"), "left_outer")
      .withColumn("m_j", coalesce(col("m_j"), lit(0L)))
    val sketch = full.groupBy(col("name"))
      .agg(
        sum(when(col("m_j") === 0L, 1L).otherwise(0L)).as("v_zero"),
        sum(expr(s"CAST(shiftleft(1L, CAST($MaxRho - m_j AS INT)) " +
          "AS DECIMAL(38,0))")).as("s_dec"),
        expr("bit_xor(bucket * 64 + m_j)").as("reg_sig"))
      // the integral division's quotient must fit a BIGINT: S below
      // ~1.6e3 needs >1.8e16 distinct keys — fail loudly, never wrap
      .filter(coalesce(assert_true(
        expr("s_dec >= 4096"),
        lit("HLL estimate would overflow BIGINT: cardinality beyond " +
          "1.8e16 distinct needs the DECIMAL(38,0) estimate path")),
        lit(true)))
      .withColumn("raw_est", expr(
        s"CAST(CAST('$Numer' AS DECIMAL(38,0)) " +
          "div (CAST(1000000 AS DECIMAL(38,0)) * s_dec) AS BIGINT)"))
      .withColumn("est",
        when(col("v_zero") > 0L && col("raw_est") * 2 <= lit(5L * M),
          expr(s"(${M}L * (${LnMMicro}L - " +
            "CAST(round(1000000.0 * ln_shared(v_zero)) AS BIGINT))) div 1000000"))
          .otherwise(col("raw_est")))
    val exact = li.select(
        countDistinct(col("l_orderkey")).as("orderkey"),
        countDistinct(col("l_partkey")).as("partkey"),
        countDistinct(col("l_suppkey")).as("suppkey"))
      .select(explode(map(
        lit("orderkey"), col("orderkey"),
        lit("partkey"), col("partkey"),
        lit("suppkey"), col("suppkey"))).as(Seq("name", "exact")))
    sketch.join(broadcast(exact), Seq("name"))
      .select(col("name"), col("v_zero"), col("reg_sig"), col("raw_est"),
        col("est"), col("exact"),
        expr("(1000 * abs(est - exact)) div exact").as("err_permille"))
      .orderBy(col("name"))
  }

  // ------------------------------------------------- q226 merge contract
  /** HLL shard-merge invariance (q226) — the property the 100 TB story
    * rests on, promoted to an ORACLE-GATED contract: registers built
    * per shard (here: per document source) and merged with max() must
    * equal the registers of one direct pass, signature-for-signature
    * and estimate-for-estimate. In algebra this is just associativity/
    * commutativity/idempotence of max — but the gate pins that the
    * PLANS (a two-level aggregation vs a one-level one, different
    * shuffle keys, different combine orders) land on identical
    * integers in both engines, which is exactly what lets a lake keep
    * per-day register tables and answer "distinct over any date range"
    * without rescanning.
    *
    * Scale shape: the sharded path is groupBy(shard, bucket) then
    * groupBy(bucket) — both map-side-combining aggregates over
    * register-scale data; the contract output is 2 rows. */
  def q226_hll_merge(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("source"),
        graft.rel.JoinCard.splitmix64(col("doc_id")).as("h"))
      .select(col("source"), pmod(col("h"), lit(M.toLong)).as("bucket"),
        expr(s"shiftrightunsigned(h, $P)").as("w"))
      .select(col("source"), col("bucket"),
        when(col("w") === 0L, lit(MaxRho.toLong))
          .otherwise(lit(MaxRho.toLong) - length(bin(col("w"))))
          .as("rho"))
    val direct = keyed.groupBy(col("bucket")).agg(max(col("rho")).as("m_j"))
      .withColumn("side", lit("direct"))
    val merged = keyed.groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
      .groupBy(col("bucket")).agg(max(col("m_j")).as("m_j"))
      .withColumn("side", lit("merged"))
    val grid = s.range(M.toLong).select(col("id").as("bucket"))
    val sides = direct.unionByName(merged)
    val fullRegs = sides.select(col("side")).distinct()
      .crossJoin(broadcast(grid))
      .join(sides, Seq("side", "bucket"), "left_outer")
      .withColumn("m_j", coalesce(col("m_j"), lit(0L)))
    val sketch = fullRegs.groupBy(col("side"))
      .agg(
        sum(when(col("m_j") === 0L, 1L).otherwise(0L)).as("v_zero"),
        sum(expr(s"CAST(shiftleft(1L, CAST($MaxRho - m_j AS INT)) " +
          "AS DECIMAL(38,0))")).as("s_dec"),
        expr("bit_xor(bucket * 64 + m_j)").as("reg_sig"))
      .withColumn("raw_est", expr(
        s"CAST(CAST('$Numer' AS DECIMAL(38,0)) " +
          "div (CAST(1000000 AS DECIMAL(38,0)) * s_dec) AS BIGINT)"))
      .withColumn("est",
        when(col("v_zero") > 0L && col("raw_est") * 2 <= lit(5L * M),
          expr(s"(${M}L * (${LnMMicro}L - " +
            "CAST(round(1000000.0 * ln_shared(v_zero)) AS BIGINT))) div 1000000"))
          .otherwise(col("raw_est")))
    val contract = sketch.groupBy()
      .agg(
        (countDistinct(col("reg_sig")) === 1).as("sigs_equal"),
        (countDistinct(col("est")) === 1).as("ests_equal"))
    sketch.crossJoin(broadcast(contract))
      .select(col("side"), col("v_zero"), col("reg_sig"), col("raw_est"),
        col("est"), col("sigs_equal"), col("ests_equal"))
      .orderBy(col("side"))
  }

  private lazy val mergeOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH d0 AS (SELECT source, CAST(doc_id AS HUGEINT) AS z
       |  FROM documents),
       |s1 AS (SELECT source, $z1 AS z1 FROM d0),
       |s2 AS (SELECT source, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT source, $m2 AS z2 FROM s2),
       |s4 AS (SELECT source, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT source, $m3 AS z3 FROM s4),
       |s6 AS (SELECT source, xor(z3, z3 // 2147483648) AS h FROM s5),
       |rh AS (SELECT source, CAST(h % $M AS BIGINT) AS bucket,
       |    CAST(h // $M AS BIGINT) AS w FROM s6),
       |rho AS (SELECT source, bucket,
       |    CASE WHEN w = 0 THEN $MaxRho
       |         ELSE $MaxRho - length(bin(w)) END AS rho FROM rh),
       |direct AS (SELECT 'direct' AS side, bucket,
       |    CAST(MAX(rho) AS BIGINT) AS m_j FROM rho GROUP BY 2),
       |shard AS (SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS m_j
       |  FROM rho GROUP BY 1, 2),
       |merged AS (SELECT 'merged' AS side, bucket, MAX(m_j) AS m_j
       |  FROM shard GROUP BY 2),
       |sides AS (SELECT * FROM direct UNION ALL SELECT * FROM merged),
       |grid AS (SELECT sd.side, CAST(b AS BIGINT) AS bucket
       |  FROM (SELECT DISTINCT side FROM sides) sd,
       |    unnest(range(0, $M)) AS u(b)),
       |fr AS (SELECT g.side, g.bucket, COALESCE(s.m_j, 0) AS m_j
       |  FROM grid g LEFT JOIN sides s
       |    ON s.side = g.side AND s.bucket = g.bucket),
       |sk AS (SELECT side,
       |    CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v_zero,
       |    SUM(CAST(1 AS HUGEINT) << CAST($MaxRho - m_j AS INT)) AS s_h,
       |    CAST(bit_xor(bucket * 64 + m_j) AS BIGINT) AS reg_sig
       |  FROM fr GROUP BY 1),
       |est0 AS (SELECT side, v_zero, reg_sig,
       |    CAST(CAST('$Numer' AS HUGEINT)
       |      // (1000000 * s_h) AS BIGINT) AS raw_est FROM sk),
       |est AS (SELECT side, v_zero, reg_sig, raw_est,
       |    CASE WHEN v_zero > 0 AND raw_est * 2 <= ${5 * M}
       |      THEN ($M * ($LnMMicro -
       |        ${graft.functions.SharedLn.microSql("__lnvz")})) // 1000000
       |      ELSE raw_est END AS est FROM (${graft.functions.SharedLn
            .oracleLn("est0", Seq("side", "v_zero", "reg_sig", "raw_est"),
              Seq(("__lnvz", "v_zero")))})),
       |c AS (SELECT COUNT(DISTINCT reg_sig) = 1 AS sigs_equal,
       |    COUNT(DISTINCT est) = 1 AS ests_equal FROM est)
       |SELECT e.side, e.v_zero, e.reg_sig, e.raw_est, e.est,
       |  c.sigs_equal, c.ests_equal
       |FROM est e CROSS JOIN c ORDER BY e.side""".stripMargin
  }

  // --------------------------------------------- q228 KMV set operations
  private val KmvK = 128
  private val HBits = 60
  private val HMax: BigInt = BigInt(1) << HBits

  /** KMV/Theta set-operation estimates (q228) — what HLL cannot do:
    * bottom-k signatures support UNION and (via inclusion-exclusion)
    * INTERSECTION estimates from the signatures alone (Beyer et al.
    * 2007, "On synopses for distinct-value estimation"; the Theta
    * sketch of Dasgupta et al. 2016 systematizes it). Sets are the
    * distinct ORDER keys per return flag (partial overlap — the part
    * universe saturates every flag at both SFs, measured first); h is the 60-bit md5 prefix
    * (positive, engine-shared), a signature is the k smallest h per
    * set, and the estimator is exact integer arithmetic:
    * est = count if count < k (the sketch IS the set), else
    * ((k−1)·2⁶⁰) div θ with θ the k-th minimum — the product lives in
    * DECIMAL(38,0)/HUGEINT (127·2⁶⁰ > 2⁶³ by design). The union
    * estimate is computed FROM the two signatures (merge, re-take
    * bottom-k) — never from the base sets, which is the whole point at
    * scale; intersection = A + B − A∪B, reported beside the exact
    * values with permille errors. Deterministic end to end — the gate
    * is exact, no tolerance contract.
    *
    * Scale shape: per-set bottom-k is the rank ≤ k WindowGroupLimit
    * bounded heap over the distinct-key aggregate (map-side combine);
    * signatures are k rows each, so every set operation after the
    * first pass is sketch-sized. Per-day/per-source signatures merge
    * associatively like the HLL registers (q226's argument, with
    * bottom-k as the semilattice). */
  def q228_kmv_setops(s: SparkSession, dir: String): DataFrame = {
    val pairs = Seq(("A", "N"), ("A", "R"), ("N", "R"))
    val sets = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("f"), col("l_orderkey").as("pk"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("pk").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long"))
    val wF = Window.partitionBy(col("f")).orderBy(col("h"))
    val sig = sets.withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= KmvK)
      .select(col("f"), col("h"))
    val est1 = sig.groupBy(col("f"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("theta"))
      .withColumn("est", when(col("cnt") < KmvK, col("cnt")).otherwise(
        expr(s"CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) * $HMax) " +
          "div CAST(theta AS DECIMAL(38,0)) AS BIGINT)")))
      .select(col("f"), col("est"))
    val exact1 = sets.groupBy(col("f")).agg(count(lit(1)).as("exact"))
    import s.implicits._
    val pairDf = pairs.toDF("fa", "fb")
    // union estimate from the SIGNATURES alone: merge, distinct, bottom-k
    val merged = pairDf
      .join(sig.select(col("f").as("fa"), col("h")), Seq("fa"))
      .unionByName(pairDf
        .join(sig.select(col("f").as("fb"), col("h")), Seq("fb"))
        .select(col("fa"), col("fb"), col("h")))
      .select(col("fa"), col("fb"), col("h")).distinct()
    val wP = Window.partitionBy(col("fa"), col("fb")).orderBy(col("h"))
    val estU = merged.withColumn("rnk", row_number().over(wP))
      .filter(col("rnk") <= KmvK)
      .groupBy(col("fa"), col("fb"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("theta"))
      .withColumn("est_union", when(col("cnt") < KmvK, col("cnt"))
        .otherwise(expr(
          s"CAST((CAST(${KmvK - 1} AS DECIMAL(38,0)) * $HMax) " +
            "div CAST(theta AS DECIMAL(38,0)) AS BIGINT)")))
      .select(col("fa"), col("fb"), col("est_union"))
    val exactU = pairDf
      .join(sets.select(col("f").as("fa"), col("pk")), Seq("fa"))
      .unionByName(pairDf
        .join(sets.select(col("f").as("fb"), col("pk")), Seq("fb"))
        .select(col("fa"), col("fb"), col("pk")))
      .select(col("fa"), col("fb"), col("pk")).distinct()
      .groupBy(col("fa"), col("fb")).agg(count(lit(1)).as("exact_union"))
    pairDf
      .join(broadcast(est1.select(col("f").as("fa"), col("est").as("est_a"))),
        Seq("fa"))
      .join(broadcast(est1.select(col("f").as("fb"), col("est").as("est_b"))),
        Seq("fb"))
      .join(broadcast(exact1.select(col("f").as("fa"),
        col("exact").as("exact_a"))), Seq("fa"))
      .join(broadcast(exact1.select(col("f").as("fb"),
        col("exact").as("exact_b"))), Seq("fb"))
      .join(broadcast(estU), Seq("fa", "fb"))
      .join(broadcast(exactU), Seq("fa", "fb"))
      .withColumn("est_inter",
        col("est_a") + col("est_b") - col("est_union"))
      .withColumn("exact_inter",
        col("exact_a") + col("exact_b") - col("exact_union"))
      .select(col("fa"), col("fb"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("exact_union"),
        col("exact_inter"),
        expr("(1000 * abs(est_union - exact_union)) div exact_union")
          .as("err_union_permille"),
        expr("(1000 * abs(est_inter - exact_inter)) " +
          "div greatest(exact_inter, 1L)").as("err_inter_permille"))
      .orderBy(col("fa"), col("fb"))
  }

  private lazy val setopsOracle: String = {
    val estExpr = (cnt: String, theta: String) =>
      s"CASE WHEN $cnt < $KmvK THEN $cnt ELSE " +
        s"CAST((CAST(${KmvK - 1} AS HUGEINT) * $HMax) // $theta AS BIGINT) END"
    s"""WITH sets AS (SELECT DISTINCT l_returnflag AS f, l_orderkey AS pk
       |  FROM lineitem),
       |hs AS (SELECT f, pk,
       |    CAST('0x' || substr(md5(CAST(pk AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS h FROM sets),
       |sig AS (SELECT f, h FROM (SELECT f, h, ROW_NUMBER() OVER (
       |    PARTITION BY f ORDER BY h) AS rnk FROM hs) WHERE rnk <= $KmvK),
       |est1 AS (SELECT f, ${estExpr("COUNT(*)", "MAX(h)")} AS est
       |  FROM sig GROUP BY f),
       |ex1 AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS exact
       |  FROM sets GROUP BY f),
       |pr(fa, fb) AS (VALUES ('A','N'), ('A','R'), ('N','R')),
       |mg AS (SELECT DISTINCT pr.fa, pr.fb, s.h
       |  FROM pr JOIN sig s ON s.f = pr.fa OR s.f = pr.fb),
       |mgk AS (SELECT fa, fb, h FROM (SELECT fa, fb, h, ROW_NUMBER()
       |    OVER (PARTITION BY fa, fb ORDER BY h) AS rnk FROM mg)
       |  WHERE rnk <= $KmvK),
       |eu AS (SELECT fa, fb, ${estExpr("COUNT(*)", "MAX(h)")} AS est_union
       |  FROM mgk GROUP BY fa, fb),
       |xu AS (SELECT fa, fb, CAST(COUNT(*) AS BIGINT) AS exact_union
       |  FROM (SELECT DISTINCT pr.fa, pr.fb, s.pk
       |    FROM pr JOIN sets s ON s.f = pr.fa OR s.f = pr.fb)
       |  GROUP BY fa, fb)
       |SELECT pr.fa, pr.fb, ea.est AS est_a, eb.est AS est_b,
       |  eu.est_union,
       |  ea.est + eb.est - eu.est_union AS est_inter,
       |  xu.exact_union,
       |  xa.exact + xb.exact - xu.exact_union AS exact_inter,
       |  (1000 * abs(eu.est_union - xu.exact_union)) // xu.exact_union
       |    AS err_union_permille,
       |  (1000 * abs(ea.est + eb.est - eu.est_union
       |    - (xa.exact + xb.exact - xu.exact_union)))
       |    // greatest(xa.exact + xb.exact - xu.exact_union, 1)
       |    AS err_inter_permille
       |FROM pr
       |JOIN est1 ea ON ea.f = pr.fa JOIN est1 eb ON eb.f = pr.fb
       |JOIN ex1 xa ON xa.f = pr.fa JOIN ex1 xb ON xb.f = pr.fb
       |JOIN eu USING (fa, fb) JOIN xu USING (fa, fb)
       |ORDER BY pr.fa, pr.fb""".stripMargin
  }

  // ---------------------------------------------------------------- oracle

  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val hllOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH keyed AS (
       |  SELECT 'orderkey' AS name, CAST(l_orderkey AS HUGEINT) AS z
       |    FROM lineitem
       |  UNION ALL
       |  SELECT 'partkey', CAST(l_partkey AS HUGEINT) FROM lineitem
       |  UNION ALL
       |  SELECT 'suppkey', CAST(l_suppkey AS HUGEINT) FROM lineitem),
       |s1 AS (SELECT name, $z1 AS z1 FROM keyed),
       |s2 AS (SELECT name, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT name, $m2 AS z2 FROM s2),
       |s4 AS (SELECT name, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT name, $m3 AS z3 FROM s4),
       |s6 AS (SELECT name, xor(z3, z3 // 2147483648) AS h FROM s5),
       |rh AS (SELECT name, CAST(h % $M AS BIGINT) AS bucket,
       |    CAST(h // $M AS BIGINT) AS w FROM s6),
       |rho AS (SELECT name, bucket,
       |    CASE WHEN w = 0 THEN $MaxRho
       |         ELSE $MaxRho - length(bin(w)) END AS rho FROM rh),
       |regs AS (SELECT name, bucket, CAST(MAX(rho) AS BIGINT) AS m_j
       |  FROM rho GROUP BY 1, 2),
       |grid AS (SELECT n.name, CAST(b AS BIGINT) AS bucket
       |  FROM (SELECT DISTINCT name FROM keyed) n,
       |    unnest(range(0, $M)) AS u(b)),
       |full_regs AS (SELECT g.name, g.bucket, COALESCE(r.m_j, 0) AS m_j
       |  FROM grid g LEFT JOIN regs r
       |    ON r.name = g.name AND r.bucket = g.bucket),
       |sk AS (SELECT name,
       |    CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS v_zero,
       |    SUM(CAST(1 AS HUGEINT) << CAST($MaxRho - m_j AS INT)) AS s_h,
       |    CAST(bit_xor(bucket * 64 + m_j) AS BIGINT) AS reg_sig
       |  FROM full_regs GROUP BY 1),
       |est0 AS (SELECT name, v_zero, reg_sig,
       |    CAST(CAST('$Numer' AS HUGEINT)
       |      // (1000000 * s_h) AS BIGINT) AS raw_est
       |  FROM sk),
       |est AS (SELECT name, v_zero, reg_sig, raw_est,
       |    CASE WHEN v_zero > 0 AND raw_est * 2 <= ${5 * M}
       |      THEN ($M * ($LnMMicro -
       |        ${graft.functions.SharedLn.microSql("__lnvz")})) // 1000000
       |      ELSE raw_est END AS est FROM (${graft.functions.SharedLn
            .oracleLn("est0", Seq("name", "v_zero", "reg_sig", "raw_est"),
              Seq(("__lnvz", "v_zero")))})),
       |ex AS (
       |  SELECT 'orderkey' AS name,
       |      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact
       |    FROM lineitem
       |  UNION ALL
       |  SELECT 'partkey', CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
       |    FROM lineitem
       |  UNION ALL
       |  SELECT 'suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
       |    FROM lineitem)
       |SELECT e.name, s.v_zero, s.reg_sig, s.raw_est, s.est, e.exact,
       |  (1000 * abs(s.est - e.exact)) // e.exact AS err_permille
       |FROM est s JOIN ex e USING (name) ORDER BY e.name""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q219_hll_distinct" -> (q219_hll_distinct _),
    "q226_hll_merge" -> (q226_hll_merge _),
    "q228_kmv_setops" -> (q228_kmv_setops _))

  override val oracle: Map[String, String] = Map(
    "q219_hll_distinct" -> hllOracle,
    "q226_hll_merge" -> mergeOracle,
    "q228_kmv_setops" -> setopsOracle)
}
