package graft.rel

import graft.Pins
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Label-propagation communities (q166) over the supplier
  * co-occurrence graph — Raghavan, Albert & Kumara 2007 ("Near linear
  * time algorithm to detect community structures in large-scale
  * networks"), in the SYNCHRONOUS deterministic form: every node
  * simultaneously adopts the most frequent label among its neighbors,
  * ties broken toward the SMALLEST label (the published fix for the
  * random tie-break's nondeterminism). A fixed R=4 rounds is part of
  * the operator contract, so the state is fully determined and the
  * DuckDB twin replays the rounds UNROLLED — join + count + windowed
  * argmax per round — making this (unusually for a graph kernel) a
  * rows+schema+hash oracle gate, not a spec-only fixpoint.
  *
  * The report also carries the exact modularity numerator: with
  * m = |E|, e_c = intra-community edges and d_c = Σ degrees, Newman's
  * Q = Σ_c (e_c/m − (d_c/2m)²) scales to the INTEGER
  * Q·4m² = Σ_c (4·m·e_c − d_c²) — summation-order-proof, no doubles.
  *
  * Scale shape: each round is one message per arc, shuffled to its
  * target node, and a per-node plurality ([[Fixpoint.propagate]]: one
  * job per round, the labels pinned once at the end), and the loop exits
  * at the first round that changes no label — at stability every
  * remaining synchronous round is a no-op, so early exit and the
  * unrolled twin agree by induction. */
object Lpa extends graft.QueryModule {

  private val Rounds = 4
  private val TopK = 25

  /** The synchronous propagation loop on an explicit `(sa, sb)` edge
    * frame — exposed so specs drive it on handcrafted graphs. Returns
    * the final (node, degree, value) labeling, pinned by `pins`; the
    * rounds run (≤ [[Rounds]]); and whether the last round changed no
    * label. */
  private[graft] def propagateLabels(pins: Pins, edges: DataFrame): (DataFrame, Int, Boolean) =
    Fixpoint.propagate(pins, Triangles.arcsOf(edges), Rounds)(
      (node, _) => node, (label, _) => label, plurality)

  /** The most frequent of `labels`, ties going to the smallest. */
  private[rel] def plurality(labels: Array[Long]): Long = {
    val l = labels.clone()
    java.util.Arrays.sort(l)
    var best = l(0)
    var bestCount = 0
    var i = 0
    while (i < l.length) {
      var j = i
      while (j < l.length && l(j) == l(i)) j += 1
      if (j - i > bestCount) { best = l(i); bestCount = j - i }
      i = j
    }
    best
  }

  def q166_lpa_communities(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val edges = Triangles.significantEdges(pins, s, dir) // (sa < sb)
    val (labels, _, _) = propagateLabels(pins, edges)
    val m = edges.count()
    val byLbl = labels.groupBy(col("value").as("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("d_c"))
    val intra = edges
      .join(labels.select(col("node").as("sa"), col("value").as("la")), "sa")
      .join(labels.select(col("node").as("sb"), col("value").as("lb")), "sb")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    val wAll = Window.partitionBy()
    byLbl.join(intra, Seq("lbl"), "left")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      .withColumn("q_term", lit(4L) * lit(m) * col("e_c") -
        col("d_c") * col("d_c"))
      .withColumn("n_communities", count(lit(1)).over(wAll))
      .withColumn("q_4m2", sum(col("q_term")).over(wAll))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_nodes").desc, col("lbl"))))
      .filter(col("rk") <= TopK)
      .select(col("rk"), col("lbl"), col("n_nodes"), col("e_c"),
        col("d_c"), col("n_communities"), lit(m).as("m_edges"),
        col("q_4m2"))
      .orderBy(col("rk"))
      .localCheckpoint()
  }

  // ---------------------------------------------------------------- oracle

  /** One unrolled synchronous round: neighbor-label counts → windowed
    * min-tie argmax. */
  private def roundSql(prev: String, out: String): String =
    s"""$out AS (SELECT v AS n, nl AS lbl FROM (
       |  SELECT b.v, p.lbl AS nl, COUNT(*) AS cnt,
       |    ROW_NUMBER() OVER (PARTITION BY b.v
       |      ORDER BY COUNT(*) DESC, p.lbl) AS rk
       |  FROM bidir b JOIN $prev p ON b.u = p.n
       |  GROUP BY b.v, p.lbl) WHERE rk = 1)""".stripMargin

  private lazy val lpaOracle: String = {
    val mco = Triangles.MinCoOrders
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |edges AS (SELECT a.sk AS sa, b.sk AS sb
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $mco),
       |bidir AS (SELECT sa AS u, sb AS v FROM edges
       |  UNION ALL SELECT sb, sa FROM edges),
       |l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM bidir),
       |${roundSql("l0", "l1")},
       |${roundSql("l1", "l2")},
       |${roundSql("l2", "l3")},
       |${roundSql("l3", "l4")},
       |deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM bidir GROUP BY 1),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM edges),
       |byl AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg) AS BIGINT) AS d_c
       |  FROM l4 JOIN deg USING (n) GROUP BY lbl),
       |intra AS (SELECT la.lbl AS lbl, CAST(COUNT(*) AS BIGINT) AS e_c
       |  FROM edges e
       |  JOIN l4 la ON e.sa = la.n
       |  JOIN l4 lb ON e.sb = lb.n
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |fin AS (SELECT byl.lbl, n_nodes,
       |    COALESCE(e_c, 0) AS e_c, d_c,
       |    4 * m_edges * COALESCE(e_c, 0) - d_c * d_c AS q_term, m_edges
       |  FROM byl LEFT JOIN intra ON byl.lbl = intra.lbl, m),
       |rk AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_nodes DESC, lbl)
       |      AS INTEGER) AS rk,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n_communities,
       |    CAST(SUM(q_term) OVER () AS BIGINT) AS q_4m2
       |  FROM fin)
       |SELECT rk, lbl, n_nodes, CAST(e_c AS BIGINT) AS e_c, d_c,
       |  n_communities, m_edges, q_4m2
       |FROM rk WHERE rk <= $TopK ORDER BY rk""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_lpa_communities" -> (q166_lpa_communities _))

  override val oracle: Map[String, String] = Map(
    "q166_lpa_communities" -> lpaOracle)
}
