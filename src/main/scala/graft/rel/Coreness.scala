package graft.rel

import graft.Pins
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Node coreness / k-core decomposition (q148) by the distributed
  * H-index iteration (Lü, Zhou, Zhang & Stanley, PNAS 2016, "The
  * H-index of a network node and its relation to degree and coreness"):
  * initialize c₀(v) = deg(v); each round, c(v) becomes the H-index of
  * its neighbors' current values (the largest h with ≥ h neighbors at
  * c ≥ h). The sequence is monotone NON-INCREASING per node and
  * converges to the classical peeling coreness — turning the inherently
  * sequential min-degree peel into a fixed number of embarrassingly
  * parallel rounds.
  *
  * Why this shape at 100 TB: peeling is a serial frontier algorithm
  * (remove the global min-degree node, repeat) — unusable distributed.
  * The H-index round is one message per arc and a per-node H-index
  * ([[Fixpoint.propagate]]: one job per round), and the H-index is a
  * function of the multiset of neighbor values alone, so message order
  * cannot perturb results: everything is exact integers.
  *
  * Rounds are CAPPED at [[Rounds]] (the depth the oracle replays in SQL)
  * and the loop exits at the first round that changes no value (an
  * exact per-partition comparison). Because the H-index
  * iterate is a deterministic function of the previous round, a fixpoint
  * PERSISTS: the early-exit values equal the oracle's round-[[Rounds]]
  * values exactly, and the gated `converged` column is the same
  * c(R) = c(R−1) predicate the SQL twin computes. If the cap were ever
  * too small for a corpus, both engines report false and the gate fails
  * loudly rather than shipping a wrong coreness (measured: this graph
  * family converges in ≤ 4 rounds at every bench SF).
  */
object Coreness extends graft.QueryModule {

  private val Rounds = 6
  private val TopK = 25

  /** The H-index iteration over the symmetric `(u, v)` arc list `arcs`
    * from c₀ = degree, up to `maxRounds` rounds, exiting at the first
    * exact fixpoint. Returns (the (node, degree, value) coreness values,
    * pinned by `pins`; rounds run; converged); the loop's RDDs are
    * released before returning. */
  private[rel] def hIndexWithRounds(pins: Pins, arcs: DataFrame,
      maxRounds: Int): (DataFrame, Int, Boolean) =
    Fixpoint.propagate(pins, arcs, maxRounds)((_, degree) => degree, (c, _) => c, hIndex)

  /** The H-index of a multiset of values: max over i of min(i, the i-th
    * largest value), i from 1 — the largest h with ≥ h values ≥ h. */
  private[rel] def hIndex(values: Array[Long]): Long = {
    val v = values.clone()
    java.util.Arrays.sort(v)
    var h = Long.MinValue
    var i = 1
    while (i <= v.length) {
      h = math.max(h, math.min(i.toLong, v(v.length - i)))
      i += 1
    }
    h
  }

  def q148_coreness(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val edges = Triangles.significantEdges(pins, s, dir)
    val (c, _, converged) = hIndexWithRounds(pins, Triangles.arcsOf(edges), Rounds)
    c.withColumn("rk", row_number().over(Window.orderBy(col("value").desc, col("node"))))
      .filter(col("rk") <= TopK)
      .select(col("rk").cast("int").as("rank"), col("node").as("s_suppkey"),
        col("degree"), col("value").as("coreness"), lit(converged).as("converged"))
      .orderBy(col("rank"))
      .localCheckpoint() // the TopK result, pinned before the scope releases edges and c
  }

  private lazy val corenessOracle: String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "c0" else s"c${k - 1}"
      s"""nb$k AS (SELECT a.v, p.c AS cn FROM adj a
         |  JOIN $prev p ON p.n = a.u),
         |rk$k AS (SELECT v, cn, ROW_NUMBER() OVER (PARTITION BY v
         |    ORDER BY cn DESC) AS i FROM nb$k),
         |c$k AS (SELECT v AS n, CAST(MAX(least(i, cn)) AS BIGINT) AS c
         |  FROM rk$k GROUP BY v)""".stripMargin
    }
    s"""WITH ${Triangles.coGraphCtes},
       |adj AS (SELECT sa AS u, sb AS v FROM edges
       |  UNION ALL SELECT sb, sa FROM edges),
       |c0 AS (SELECT n, deg AS c FROM deg),
       |${(1 to Rounds).map(round).mkString(",\n")},
       |conv AS (SELECT MAX(CASE WHEN a.c <> b.c THEN 1 ELSE 0 END) = 0
       |    AS converged
       |  FROM c$Rounds a JOIN c${Rounds - 1} b USING (n)),
       |ranked AS (SELECT c.n, c.c, d.deg,
       |    ROW_NUMBER() OVER (ORDER BY c.c DESC, c.n) AS rk
       |  FROM c$Rounds c JOIN deg d USING (n))
       |SELECT CAST(rk AS INTEGER) AS rank, n AS s_suppkey, deg AS degree,
       |  c AS coreness, converged
       |FROM ranked, conv WHERE rk <= $TopK ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q148_coreness" -> (q148_coreness _))

  override val oracle: Map[String, String] = Map(
    "q148_coreness" -> corenessOracle)
}
