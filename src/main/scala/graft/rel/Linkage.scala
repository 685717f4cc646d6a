package graft.rel

import graft.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Record linkage + privacy governance over the relational tables — the
  * data-stewardship operators a training-data platform runs beside the
  * corpus pipeline. Reference scope: the wrangler has no fuzzy matching
  * at all (its only string search is exact `str.contains`,
  * `wrangler.py:331-340`); these are engine-grade generalizations of
  * published methods.
  *
  *  - q137: entity resolution by blocking + Jaro-Winkler scoring
  *    (Fellegi & Sunter 1969 decision model; Winkler 1990 comparator) —
  *    the native `jaro_winkler` codegen expression does the scoring.
  *  - q141: k-anonymity generalization ladder (Sweeney 2002,
  *    "k-anonymity: a model for protecting privacy"; full-domain
  *    generalization à la Samarati) over quasi-identifiers.
  */
object Linkage extends graft.QueryModule {

  // ------------------------------------------------ q137 fuzzy entity match
  /** Minimum Jaro-Winkler (micro-units) for a fuzzy neighbor. */
  private val JwFloor = 900000L

  /** q137: for every part record, the best fuzzy-matching DISTINCT other
    * name (JW ≥ 0.9) plus its exact-duplicate group size — the two halves
    * of entity resolution (exact grouping, fuzzy neighboring) in one
    * gated output.
    *
    * Scale shape: similarity never runs over record pairs. The
    * distinct-name CATALOG (Heaps-law bounded — 64 names under 20k
    * records here; `vocab ≪ corpus` at any SF) is what gets token-blocked
    * and scored, so the JW work is O(|catalog-pairs-sharing-a-token|)
    * regardless of record count, and record assignment is a broadcast
    * hash join back. This is standard blocking discipline: candidates
    * are pairs sharing ≥ 1 name token — the DECLARED recall contract of
    * blocking ER (a pair sharing zero tokens is not scored; at JW ≥ 0.9
    * over multi-token names such pairs are vanishingly rare, and the
    * oracle applies the identical contract). */
  def q137_fuzzy_match(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
    val names = parts.groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_same"))
    val toks = names.select(col("p_name"),
      explode(split(col("p_name"), " ")).as("tok"))
    val cand = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.p_name") =!= col("b.p_name"))
      .select(col("a.p_name").as("p_name"), col("b.p_name").as("cand"))
      .distinct()
    // threshold on the raw comparator (JaroPrefilter rewrites this to
    // length-guard ∧ jw — LinkageSpec asserts the rewrite in THIS plan);
    // the gated output column is the micro-quantized score
    val scored = cand
      .filter(TextFunctions.jaro_winkler(col("p_name"), col("cand")) >=
        lit(JwFloor.toDouble / 1e6))
      .withColumn("jw_u",
        round(TextFunctions.jaro_winkler(col("p_name"), col("cand")) * 1e6)
          .cast("long"))
    val w = Window.partitionBy(col("p_name"))
      .orderBy(col("jw_u").desc, col("cand"))
    val best = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("p_name"), col("cand").as("best_match"), col("jw_u"))
    parts
      .join(broadcast(names), Seq("p_name"))
      .join(broadcast(best), Seq("p_name")) // inner: records with a neighbor
      .select(col("p_partkey"), col("p_name"), col("n_same"),
        col("best_match"), col("jw_u"))
      .orderBy(col("p_partkey"))
  }

  private lazy val fuzzyOracle: String =
    s"""WITH names AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_same
       |  FROM part GROUP BY 1),
       |t AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS tok
       |  FROM names),
       |cand AS (SELECT DISTINCT a.p_name AS p_name, b.p_name AS cand
       |  FROM t a JOIN t b ON a.tok = b.tok AND a.p_name <> b.p_name),
       |sc AS (SELECT p_name, cand,
       |    CAST(round(jaro_winkler_similarity(p_name, cand) * 1000000)
       |      AS BIGINT) AS jw_u
       |  FROM cand
       |  WHERE jaro_winkler_similarity(p_name, cand) >= 0.9),
       |best AS (SELECT p_name, cand AS best_match, jw_u,
       |    ROW_NUMBER() OVER (PARTITION BY p_name
       |      ORDER BY jw_u DESC, cand) AS rk
       |  FROM sc)
       |SELECT p.p_partkey, p.p_name, n.n_same, b.best_match, b.jw_u
       |FROM part p JOIN names n USING (p_name)
       |JOIN best b ON b.p_name = p.p_name AND b.rk = 1
       |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------- q141 k-anonymity ladder
  private val AnonK = 10
  /** Offset making balance-cents non-negative before bucketing, so
    * integer division floors identically in Spark (`div` truncates
    * toward zero) and DuckDB (`//` floors) — they differ on negatives. */
  private val BalOffset = 1000000000L

  /** q141: the full-domain generalization ladder for quasi-identifiers
    * (mktsegment, geography, account-balance bucket) — per level:
    * group count, minimum group size, and the rows that would need
    * suppression under k=10; `chosen` marks the FIRST level that is
    * k-anonymous outright (Samarati's minimal full-domain
    * generalization). Levels coarsen one axis at a time:
    * $100 buckets → $1000 buckets → nation→region → drop balance →
    * segment only.
    *
    * Scale shape: each level is one hash aggregate on a shrinking key
    * (the level-k key is a function of the level-(k−1) key, so at 100 TB
    * you'd compute L0 once and re-aggregate the GROUPS, never rescanning
    * the base — here each level's scan is one map-side-combined pass);
    * the audit output is O(levels) rows. */
  def q141_k_anonymity(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        (round(col("c_acctbal") * 100).cast("long") + BalOffset).as("bal"))
    def level(lv: Int, geo: Column, bucket: Column): DataFrame =
      cust.groupBy(col("seg"), geo.as("geo"), bucket.as("bb"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("sz")).as("min_group"),
          sum(when(col("sz") < AnonK, col("sz")).otherwise(0L))
            .as("n_suppressed"))
        .select(lit(lv).as("level"), col("n_groups"), col("min_group"),
          col("n_suppressed"), (col("min_group") >= AnonK).as("k_ok"))
    val ladder =
      level(0, col("nat"), expr("bal div 10000")) // $100 buckets
        .unionByName(level(1, col("nat"), expr("bal div 100000"))) // $1000
        .unionByName(level(2, col("reg"), expr("bal div 100000")))
        .unionByName(level(3, col("reg"), lit(0L)))
        .unionByName(level(4, lit(0L), lit(0L)))
    val all = Window.partitionBy() // 5-row global frame: the ladder itself
    ladder
      .withColumn("chosen", col("level") ===
        min(when(col("k_ok"), col("level"))).over(all))
      .orderBy(col("level"))
  }

  private lazy val anonOracle: String = {
    def lvl(lv: Int, geo: String, bucket: String): String =
      s"""SELECT $lv AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |    CAST(MIN(sz) AS BIGINT) AS min_group,
         |    CAST(SUM(CASE WHEN sz < $AnonK THEN sz ELSE 0 END) AS BIGINT)
         |      AS n_suppressed,
         |    MIN(sz) >= $AnonK AS k_ok
         |  FROM (SELECT seg, $geo AS geo, $bucket AS bb,
         |      COUNT(*) AS sz FROM cust GROUP BY 1, 2, 3) g$lv""".stripMargin
    s"""WITH cust AS (SELECT c_mktsegment AS seg,
       |    CAST(c_nationkey AS BIGINT) AS nat,
       |    CAST(n_regionkey AS BIGINT) AS reg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) + $BalOffset AS bal
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
       |ladder AS (
       |${lvl(0, "nat", "bal // 10000")}
       |UNION ALL
       |${lvl(1, "nat", "bal // 100000")}
       |UNION ALL
       |${lvl(2, "reg", "bal // 100000")}
       |UNION ALL
       |${lvl(3, "reg", "0")}
       |UNION ALL
       |${lvl(4, "0", "0")})
       |SELECT level, n_groups, min_group, n_suppressed, k_ok,
       |  level = (SELECT MIN(level) FROM ladder WHERE k_ok) AS chosen
       |FROM ladder ORDER BY level""".stripMargin
  }

  // ------------------------------------------------- q216 l-diversity ladder
  private val DivL = 3

  /** q216: l-diversity audit over the same generalization ladder as q141 —
    * k-anonymity bounds group SIZE but a uniform group still leaks its
    * sensitive value; distinct l-diversity (Machanavajjhala et al. 2007,
    * "l-diversity: privacy beyond k-anonymity") requires every
    * quasi-identifier group to contain ≥ l distinct sensitive values.
    * The released fact here is the order row (sensitive = order
    * priority) keyed by the customer quasi-identifiers; per ladder level
    * the audit reports the minimum group diversity, the groups below
    * l = 3 and the rows they expose, and `chosen` marks Samarati-style
    * the first level that is l-diverse outright.
    *
    * Scale shape: same as q141 — per level one hash aggregate on a
    * shrinking key (count + count-distinct with map-side partials), an
    * O(levels)-row audit output; at 100 TB compute the L0 groups once
    * and re-aggregate the group table per level instead of rescanning. */
  def q216_l_diversity(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        (round(col("c_acctbal") * 100).cast("long") + BalOffset).as("bal"),
        col("o_orderpriority").as("sens"))
    def level(lv: Int, geo: Column, bucket: Column): DataFrame =
      fact.groupBy(col("seg"), geo.as("geo"), bucket.as("bb"))
        .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("l"))
        .agg(count(lit(1)).as("n_groups"), min(col("l")).as("min_l"),
          sum(when(col("l") < DivL, lit(1L)).otherwise(0L))
            .as("groups_below"),
          sum(when(col("l") < DivL, col("sz")).otherwise(0L))
            .as("rows_at_risk"))
        .select(lit(lv).as("level"), col("n_groups"), col("min_l"),
          col("groups_below"), col("rows_at_risk"),
          (col("min_l") >= DivL).as("l_ok"))
    val ladder =
      level(0, col("nat"), expr("bal div 10000"))
        .unionByName(level(1, col("nat"), expr("bal div 100000")))
        .unionByName(level(2, col("reg"), expr("bal div 100000")))
        .unionByName(level(3, col("reg"), lit(0L)))
        .unionByName(level(4, lit(0L), lit(0L)))
    val all = Window.partitionBy()
    ladder
      .withColumn("chosen", col("level") ===
        min(when(col("l_ok"), col("level"))).over(all))
      .orderBy(col("level"))
  }

  private lazy val ldivOracle: String = {
    def lvl(lv: Int, geo: String, bucket: String): String =
      s"""SELECT $lv AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |    CAST(MIN(l) AS BIGINT) AS min_l,
         |    CAST(SUM(CASE WHEN l < $DivL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS groups_below,
         |    CAST(SUM(CASE WHEN l < $DivL THEN sz ELSE 0 END) AS BIGINT)
         |      AS rows_at_risk,
         |    MIN(l) >= $DivL AS l_ok
         |  FROM (SELECT seg, $geo AS geo, $bucket AS bb,
         |      COUNT(*) AS sz, COUNT(DISTINCT sens) AS l
         |    FROM fact GROUP BY 1, 2, 3) g$lv""".stripMargin
    s"""WITH fact AS (SELECT c_mktsegment AS seg,
       |    CAST(c_nationkey AS BIGINT) AS nat,
       |    CAST(n_regionkey AS BIGINT) AS reg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) + $BalOffset AS bal,
       |    o_orderpriority AS sens
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  JOIN orders ON o_custkey = c_custkey),
       |ladder AS (
       |${lvl(0, "nat", "bal // 10000")}
       |UNION ALL
       |${lvl(1, "nat", "bal // 100000")}
       |UNION ALL
       |${lvl(2, "reg", "bal // 100000")}
       |UNION ALL
       |${lvl(3, "reg", "0")}
       |UNION ALL
       |${lvl(4, "0", "0")})
       |SELECT level, n_groups, min_l, groups_below, rows_at_risk, l_ok,
       |  level = (SELECT MIN(level) FROM ladder WHERE l_ok) AS chosen
       |FROM ladder ORDER BY level""".stripMargin
  }

  // ------------------------------------------------------------- registry
  // ------------------------------------------------- q241 t-closeness
  /** t bound in permille (t = 0.1): measured max-EMD ladders [500, 500,
    * 350, 24, 9] at sf0.01 and [500, 183, 59, 9, 2] at sf0.1 — the
    * chosen level sits ≥ 40‰ from the bound on both sides at both SFs,
    * no knife edge. */
  private val TClosePermille = 100L

  /** q241: t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007)
    * over the q141/q216 generalization ladder — the third rung of the
    * privacy ladder: k-anonymity bounds group SIZE, l-diversity bounds
    * sensitive CARDINALITY, t-closeness bounds the DISTANCE between
    * each group's sensitive distribution and the global one, killing
    * the skewness/similarity attacks l-diversity admits. The sensitive
    * attribute (order priority) is ORDERED, so the paper's distance is
    * the ordered-ground EMD: (1/(m−1))·Σᵢ\|Σ_{j≤i}(p_j − q_j)\| over
    * the m = 5 priority ranks.
    *
    * Exact integer lift: per group of size g against global (N, Q_i),
    * the prefix difference P_i/g − Q_i/N cross-multiplies to
    * (P_i·N − Q_i·g)/(g·N), so
    * emd_permille = (1000·Σᵢ\|P_i·N − Q_i·g\|) div (4·g·N) — every
    * product in DECIMAL(38,0) (P_i·N is corpus² at lake scale; the
    * q214/q238 lesson applied up front), the quotient ≤ 1000 lands in
    * BIGINT. Prefix counts P₁..P₄ are conditional sums in the SAME
    * group aggregate — no per-rank explode, no second pass.
    *
    * Scale shape: one fact aggregate per ladder level keyed by the
    * level's quasi-identifiers (the q141 shape), global marginals
    * broadcast, per-level rollup to 5 rows. */
  def q241_t_closeness(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        (round(col("c_acctbal") * 100).cast("long") + BalOffset).as("bal"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("rk"))
    def prefixes(prefix: String): Seq[Column] = (1 to 4).map(i =>
      sum(when(col("rk") <= i, 1L).otherwise(0L)).as(s"$prefix$i"))
    val glob = fact.agg(count(lit(1)).as("nn"),
      prefixes("q"): _*)
    def level(lv: Int, geo: Column, bucket: Column): DataFrame =
      fact.groupBy(col("seg"), geo.as("geo"), bucket.as("bb"))
        .agg(count(lit(1)).as("g"), prefixes("p"): _*)
        .crossJoin(broadcast(glob))
        .withColumn("emd", expr(
          "CAST((CAST(1000 AS DECIMAL(38,0)) * (" +
            (1 to 4).map(i =>
              s"abs(CAST(p$i AS DECIMAL(38,0)) * nn - " +
                s"CAST(q$i AS DECIMAL(38,0)) * g)").mkString(" + ") +
            ")) div (CAST(4 AS DECIMAL(38,0)) * g * nn) AS BIGINT)"))
        .agg(count(lit(1)).as("n_groups"), max(col("emd")).as("max_emd"),
          sum(when(col("emd") > TClosePermille, 1L).otherwise(0L))
            .as("groups_above"),
          sum(when(col("emd") > TClosePermille, col("g")).otherwise(0L))
            .as("rows_at_risk"))
        .select(lit(lv).as("level"), col("n_groups"),
          col("max_emd").as("max_emd_permille"), col("groups_above"),
          col("rows_at_risk"),
          (col("max_emd") <= TClosePermille).as("t_ok"))
    val ladder =
      level(0, col("nat"), expr("bal div 10000"))
        .unionByName(level(1, col("nat"), expr("bal div 100000")))
        .unionByName(level(2, col("reg"), expr("bal div 100000")))
        .unionByName(level(3, col("reg"), lit(0L)))
        .unionByName(level(4, lit(0L), lit(0L)))
    val all = Window.partitionBy()
    ladder
      .withColumn("chosen", col("level") ===
        min(when(col("t_ok"), col("level"))).over(all))
      .orderBy(col("level"))
  }

  private lazy val tcloseOracle: String = {
    val pf = (1 to 4).map(i =>
      s"CAST(SUM(CASE WHEN rk <= $i THEN 1 ELSE 0 END) AS BIGINT)")
    def lvl(lv: Int, geo: String, bucket: String): String =
      s"""SELECT $lv AS level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |    CAST(MAX(emd) AS BIGINT) AS max_emd_permille,
         |    CAST(SUM(CASE WHEN emd > $TClosePermille THEN 1 ELSE 0 END)
         |      AS BIGINT) AS groups_above,
         |    CAST(SUM(CASE WHEN emd > $TClosePermille THEN g ELSE 0 END)
         |      AS BIGINT) AS rows_at_risk,
         |    MAX(emd) <= $TClosePermille AS t_ok
         |  FROM (SELECT g.g,
         |      CAST((1000 * (${(1 to 4).map(i =>
                   s"abs(CAST(p$i AS HUGEINT) * nn - CAST(q$i AS HUGEINT) * g)")
                   .mkString(" + ")})) // (4 * CAST(g AS HUGEINT) * nn)
         |        AS BIGINT) AS emd
         |    FROM (SELECT seg, $geo AS geo, $bucket AS bb,
         |        CAST(COUNT(*) AS BIGINT) AS g,
         |        ${(1 to 4).map(i => s"${pf(i - 1)} AS p$i").mkString(", ")}
         |      FROM fact GROUP BY 1, 2, 3) g CROSS JOIN gl) e$lv""".stripMargin
    s"""WITH fact AS (SELECT c_mktsegment AS seg,
       |    CAST(c_nationkey AS BIGINT) AS nat,
       |    CAST(n_regionkey AS BIGINT) AS reg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) + $BalOffset AS bal,
       |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS rk
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  JOIN orders ON o_custkey = c_custkey),
       |gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
       |    ${(1 to 4).map(i => s"${pf(i - 1)} AS q$i").mkString(", ")}
       |  FROM fact),
       |ladder AS (
       |${lvl(0, "nat", "bal // 10000")}
       |UNION ALL
       |${lvl(1, "nat", "bal // 100000")}
       |UNION ALL
       |${lvl(2, "reg", "bal // 100000")}
       |UNION ALL
       |${lvl(3, "reg", "0")}
       |UNION ALL
       |${lvl(4, "0", "0")}),
       |ch AS (SELECT MIN(CASE WHEN t_ok THEN level END) AS c FROM ladder)
       |SELECT l.level, l.n_groups, l.max_emd_permille, l.groups_above,
       |  l.rows_at_risk, l.t_ok, l.level = ch.c AS chosen
       |FROM ladder l CROSS JOIN ch ORDER BY l.level""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_fuzzy_match" -> (q137_fuzzy_match _),
    "q141_k_anonymity" -> (q141_k_anonymity _),
    "q216_l_diversity" -> (q216_l_diversity _),
    "q241_t_closeness" -> (q241_t_closeness _))

  override val oracle: Map[String, String] = Map(
    "q137_fuzzy_match" -> fuzzyOracle,
    "q141_k_anonymity" -> anonOracle,
    "q216_l_diversity" -> ldivOracle,
    "q241_t_closeness" -> tcloseOracle)
}
