package graft.rel

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
  * The H-index round is ONE join (neighbor values) + ONE window (rank
  * within node) + ONE aggregate (max of min(rank, value)), all keyed on
  * the node — the partitioning is reused round over round. The H-index
  * is tie-order-insensitive, so the window's tie behavior cannot perturb
  * results: everything is exact integers.
  *
  * Rounds are CAPPED at [[Rounds]] (the depth the oracle replays in SQL)
  * with a fingerprint-probe early exit (`hIndexWithRounds` below): each
  * round's lazy checkpoint is materialized by a map-side
  * (count, bit_xor(xxhash64)) probe, and a probe match — confirmed by
  * one exact set-equality job, so a 64-bit collision can only cost an
  * extra round, never a wrong exit — stops the loop. Because the H-index
  * iterate is a deterministic function of the previous round, a fixpoint
  * PERSISTS: the early-exit values equal the oracle's round-[[Rounds]]
  * values exactly, and the gated `converged` column is the same
  * c(R) = c(R−1) predicate the SQL twin computes. If the cap were ever
  * too small for a corpus, both engines report false and the gate fails
  * loudly rather than shipping a wrong coreness (measured: this graph
  * family converges in ≤ 4 rounds at every bench SF — the probe saves
  * the wasted tail rounds AND adapts to graphs that need every round).
  */
object Coreness {

  private val Rounds = 6
  private val TopK = 25

  /** H-index iteration with convergence probe: runs `hRound` up to
    * `maxRounds` times from `c0`, exiting early at the first exact
    * fixpoint. Returns (final values pinned, rounds executed, converged).
    * All per-round checkpoints (and c0's) are released before returning;
    * only the returned frame stays pinned (pin-and-release — the
    * round-14 advice item: the old loop left every round's |V|-frame
    * pinned for the session). */
  private[rel] def hIndexWithRounds(adj: DataFrame, c0: DataFrame,
      maxRounds: Int): (DataFrame, Int, Boolean) = {
    val loopRdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def tracked(df: DataFrame): DataFrame = {
      loopRdds ++= graft.ml.Similarity.pinnedRdds(df); df
    }
    // commutative set fingerprint — map-side-partial only (no shuffle of
    // both rounds); the probe job doubles as the lazy checkpoint's
    // materialization job (one Spark job per round)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(n, c))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var c = tracked(c0.localCheckpoint())
    var prevFp = fingerprint(c)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = tracked(hRound(adj, c).localCheckpoint(eager = false))
      val fp = fingerprint(next)
      if (fp == prevFp) {
        // exact set equality in one job: tag +1/-1, any nonzero group is
        // a difference either way (both sides are one-row-per-node)
        converged = c.select(col("n"), col("c"), lit(1).as("tag"))
          .union(next.select(col("n"), col("c"), lit(-1).as("tag")))
          .groupBy(col("n"), col("c")).agg(sum(col("tag")).as("d"))
          .filter(col("d") =!= 0).isEmpty
      }
      prevFp = fp
      c = next
      rounds += 1
    }
    val pinned = c.localCheckpoint()
    loopRdds.foreach(_.unpersist(blocking = false))
    (pinned, rounds, converged)
  }

  private[rel] def hRoundForTest(adj: DataFrame, c: DataFrame): DataFrame =
    hRound(adj, c)

  /** One H-index round over the adjacency: c'(v) = H(c(u) : u ~ v). */
  private def hRound(adj: DataFrame, c: DataFrame): DataFrame = {
    val nb = adj.join(c.withColumnRenamed("n", "u"), Seq("u"))
      .select(col("v"), col("c").as("cn"))
    val w = Window.partitionBy(col("v")).orderBy(col("cn").desc)
    nb.withColumn("i", row_number().over(w))
      .groupBy(col("v"))
      .agg(max(least(col("i").cast("long"), col("cn"))).as("c"))
      .select(col("v").as("n"), col("c"))
  }

  def q148_coreness(s: SparkSession, dir: String): DataFrame = {
    val edges = Triangles.significantEdges(s, dir)
    val adj = edges.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(edges.select(col("sb").as("u"), col("sa").as("v")))
      .localCheckpoint() // reused every round
    val deg = Triangles.degreesOf(edges)
    val c0 = deg.select(col("n"), col("deg").as("c"))
    val (c, _, converged) = hIndexWithRounds(adj, c0, Rounds)
    val w = Window.orderBy(col("c").desc, col("n"))
    val out = c.join(deg, Seq("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopK)
      .select(col("rk").cast("int").as("rank"), col("n").as("s_suppkey"),
        col("deg").as("degree"), col("c").as("coreness"),
        lit(converged).as("converged"))
      .orderBy(col("rank"))
      // pin the TopK result, release the adjacency + edge checkpoints
      // (deg's lineage runs through edges, so release follows the pin)
      .localCheckpoint()
    (graft.ml.Similarity.pinnedRdds(adj) ++
      graft.ml.Similarity.pinnedRdds(edges) ++
      graft.ml.Similarity.pinnedRdds(c))
      .foreach(_.unpersist(blocking = false))
    out
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

  val oracle: Map[String, String] = Map(
    "q148_coreness" -> corenessOracle)
}
