package graft.rel

import graft.{Pins, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iterative graph analytics on the relational tables — PageRank (Page,
  * Brin, Motwani & Winograd 1999) over the customer↔supplier trade graph,
  * done in SCALED-INTEGER arithmetic so a distributed power iteration is
  * bit-reproducible and cross-engine gateable.
  *
  * Why integers: float PageRank sums per-node contributions in
  * shuffle-arrival order — a 1000-executor run and a laptop run disagree
  * in ulps, and ranks near ties flip. Here ranks live in 10^-12 units of
  * total mass (BIGINT); per-edge contribution is `r div deg` (one integer
  * division per SOURCE, constant across its edges) and the damped update
  * is `base + (85·Σcontrib) div 100` — every operation exact, so
  * summation order is irrelevant. Floor truncation leaks ≤ deg units of
  * mass per node per round: deterministic, identical in both engines,
  * and ~10^-9 of total mass — irrelevant to ranking.
  *
  * Scale shape: edges materialize ONCE (localCheckpoint — read by the
  * node count and the loop's adjacency build, which also yields each
  * node's degree). Each round is one message per arc and a per-node sum
  * ([[Fixpoint.propagate]]: one job per round over an adjacency built
  * once); driver state is two scalars (N, base). At most five rounds —
  * the gated variant of a convergence loop.
  */
object Graph extends graft.QueryModule {

  private val Mass = 1000000000000L // 10^12: total rank mass, integer units
  private val Iters = 5
  private val TopK = 25

  /** q138: PageRank over the bipartite customer↔supplier graph (an edge
    * per distinct trading pair from orders ⋈ lineitem, symmetrized).
    * Node encoding: customer c → 2c, supplier s → 2s+1. Damping 0.85 in
    * exact rational form. Returns the top-25 nodes by final rank. */
  def q138_pagerank(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val (ranks, _, converged) = pagerankRanks(pins, tradeEdges(pins, s, dir), Iters)
    ranks.withColumn("rk", row_number().over(Window.orderBy(col("value").desc, col("node"))))
      .filter(col("rk") <= TopK)
      .select(col("rk").cast("int").as("rank"),
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("node div 2").as("orig_id"),
        col("degree"), col("value").as("rank_u"),
        lit(converged).as("converged"))
      .orderBy(col("rank"))
      // the TopK result, pinned before the scope releases the
      // corpus-scale edge list and the ranks
      .localCheckpoint()
  }

  /** q138's symmetric (src, dst) trade graph, pinned by `pins`: two
    * readers (the node count, the loop's adjacency). */
  private[rel] def tradeEdges(pins: Pins, s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cn"),
        (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    pins.pin(e0.select(col("cn").as("src"), col("sn").as("dst"))
      .unionByName(e0.select(col("sn").as("src"), col("cn").as("dst"))))
  }

  /** The exact-integer power iteration over a SYMMETRIC (src, dst) edge
    * list of LONG node ids (every node must appear as a src — symmetry
    * guarantees it and rules out dangling mass; duplicated edges count
    * as often as they appear, in the degree and in the sums), run by
    * [[Fixpoint.propagate]] up to `maxIters` rounds. It stops at the
    * first EXACT integer fixpoint (which the integer arithmetic makes
    * reachable: regular components land on
    * `r = base + (85·deg·(r div deg)) div 100` exactly). A fixpoint
    * persists under the deterministic update, so early-exit values equal
    * the oracle's round-`maxIters` values bit-for-bit. Exposed for
    * GraphSpec's hand-computed fixture.
    *
    * Returns ((node, degree, value) out-degrees and ranks, pinned by
    * `pins`; rounds run; converged): one job counts the nodes, then one
    * per round and one for the pin; the loop's RDDs are released before
    * returning. */
  private[graft] def pagerankRanks(pins: Pins, edges: DataFrame, maxIters: Int)
      : (DataFrame, Int, Boolean) = {
    val arcs = edges.select(col("src"), col("dst"))
    // one job (an RDD distinct; the DataFrame form runs three under AQE)
    val init = Mass / arcs.queryExecution.toRdd.map(_.getLong(0)).distinct().count()
    val base = (15L * init) / 100L
    Fixpoint.propagate(pins, arcs, maxIters)((_, _) => init, (r, d) => r / d, rankUpdate(base, _))
  }

  /** One node's new rank from the `r div deg` contributions it
    * received: `base + (85·Σ) div 100`. */
  private[rel] def rankUpdate(base: Long, contribs: Array[Long]): Long =
    base + (85L * contribs.sum) / 100L

  /** Edge cap for [[pagerankRanksDriver]] — compute-derived and
    * re-asserted on the collected rows (the LinkPred DriverClosureCap
    * discipline): the kernel is O(maxIters·E) long ops
    * plus two ≤V-entry hash maps, so at the cap (2¹⁷ edges × ≤10 rounds ≈
    * 1.3·10⁶ map updates, ~4 MB of collected rows) it runs in single-digit
    * milliseconds on one core. Callers may take this path ONLY for
    * budget-bounded graphs (q246's TrV-vocabulary co-occurrence graph:
    * ≤ TrV·(TrV−1) = 89,700 symmetric edges at ANY corpus scale); a
    * corpus-scaled graph (q138) runs the distributed [[pagerankRanks]]. */
  private[graft] val PagerankDriverCap = 1 << 17

  /** Driver-side twin of [[pagerankRanks]] for budget-bounded edge lists
    * (q246; GraphSpec asserts both kernels bit-identical). Same
    * exact-integer update, same first-exact-fixpoint early exit; returns
    * (node, r) ranks, (src, deg) degrees, rounds and converged — ranks/deg
    * come back as LOCAL relations, so a 300-node graph's rounds cost driver
    * microseconds instead of one Spark job each. Node type is whatever
    * the edge columns carry (q246: strings). */
  private[graft] def pagerankRanksDriver(edges: DataFrame, maxIters: Int)
      : (DataFrame, DataFrame, Int, Boolean) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val s = edges.sparkSession
    val rows = edges.select(col("src"), col("dst")).collect()
    require(rows.length <= PagerankDriverCap,
      s"pagerankRanksDriver: ${rows.length} edges exceed the compute cap " +
        s"$PagerankDriverCap — use the distributed pagerankRanks")
    val deg = new scala.collection.mutable.HashMap[Any, Long]()
    rows.foreach(r => deg.update(r.get(0), deg.getOrElse(r.get(0), 0L) + 1L))
    val n = deg.size.toLong
    val init = Mass / n
    val base = (15L * init) / 100L
    var ranks: scala.collection.Map[Any, Long] =
      deg.map { case (node, _) => node -> init }
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val acc = new scala.collection.mutable.HashMap[Any, Long]()
      rows.foreach { r =>
        val src = r.get(0)
        // after round 1 the rank map holds only DESTINATION nodes, so an
        // edge whose src never appears as a dst contributes nothing (the
        // oracle's inner join drops it too); pagerankRanks rejects such a
        // non-symmetric graph instead — the two agree wherever both run
        ranks.get(src).foreach { rk =>
          val contrib = rk / deg(src) // floor div, both positive —
          acc.update(r.get(1), acc.getOrElse(r.get(1), 0L) + contrib)
        } // identical to the distributed kernel's `r div deg`
      }
      val next: scala.collection.Map[Any, Long] =
        acc.map { case (node, sum) => node -> (base + (85L * sum) / 100L) }
      if (next == ranks) converged = true // the exact integer fixpoint
      ranks = next
      rounds += 1
    }
    val nodeType = edges.schema("src").dataType
    val rankRows = ranks.toSeq.map { case (node, r) => Row(node, r) }
    val degRows = deg.toSeq.map { case (node, d) => Row(node, d) }
    import scala.jdk.CollectionConverters._
    val ranksDf = s.createDataFrame(rankRows.asJava,
      StructType(Seq(StructField("node", nodeType, nullable = false),
        StructField("r", LongType, nullable = false))))
    val degDf = s.createDataFrame(degRows.asJava,
      StructType(Seq(StructField("src", nodeType, nullable = false),
        StructField("deg", LongType, nullable = false))))
    (ranksDf, degDf, rounds, converged)
  }

  private lazy val pagerankOracle: String = {
    def round(k: Int): String =
      s"""it$k AS (SELECT e.dst AS node,
         |    (SELECT base FROM params) +
         |      (85 * SUM(r.r // d.deg)) // 100 AS r
         |  FROM edges e JOIN it${k - 1} r ON e.src = r.node
         |  JOIN deg d ON d.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS cn,
       |    l_suppkey * 2 + 1 AS sn
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT cn AS src, sn AS dst FROM e0
       |  UNION ALL SELECT sn, cn FROM e0),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |params AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $Mass // COUNT(*) AS init,
       |    (15 * ($Mass // COUNT(*))) // 100 AS base FROM deg),
       |it0 AS (SELECT node, (SELECT init FROM params) AS r FROM deg),
       |${(1 to Iters).map(round).mkString(",\n")},
       |conv AS (SELECT MAX(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) = 0
       |    AS converged
       |  FROM it$Iters a JOIN it${Iters - 1} b USING (node)),
       |ranked AS (SELECT r.node, r.r, d.deg,
       |    ROW_NUMBER() OVER (ORDER BY r.r DESC, r.node) AS rk
       |  FROM it$Iters r JOIN deg d USING (node))
       |SELECT CAST(rk AS INTEGER) AS rank,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  node // 2 AS orig_id, deg AS degree, CAST(r AS BIGINT) AS rank_u,
       |  converged
       |FROM ranked, conv WHERE rk <= $TopK ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q138_pagerank" -> (q138_pagerank _))

  override val oracle: Map[String, String] = Map(
    "q138_pagerank" -> pagerankOracle)
}
