package graft.rel

import graft.Pins
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q138 integer PageRank: the distributed power iteration must equal an
  * in-memory reference running the IDENTICAL scaled-integer update rule,
  * and structural symmetries must come out exact (the point of integer
  * arithmetic — float PageRank only matches such symmetries to ulps). */
class GraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val Mass = 1000000000000L

  /** In-memory twin of Graph.pagerankRanks' update rule. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val n = deg.size
    val init = Mass / n
    val base = (15L * init) / 100L
    var r = deg.keys.map(_ -> init).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = in.map { case (node, s) => node -> (base + (85L * s) / 100L) }
    }
    r
  }

  /** Runs the distributed kernel, checks its (rounds, converged) against
    * `expected`, and returns its ranks. */
  private def run(edges: Seq[(Long, Long)], iters: Int,
      expected: (Int, Boolean)): Map[Long, Long] = {
    import spark.implicits._
    Pins.scoped { pins =>
      val (ranks, rounds, converged) = Graph.pagerankRanks(pins, edges.toDF("src", "dst"), iters)
      assert((rounds, converged) == expected)
      values(ranks)
    }
  }

  /** (node → value) of a (node, degree, value) frame. */
  private def values(ranks: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    ranks.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("path graph A-B-C: distributed == in-memory reference, ends symmetric") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val got = run(edges, 5, ParentRounds("path"))
    assert(got == reference(edges, 5))
    assert(got(1L) == got(3L), "symmetric endpoints must tie EXACTLY")
    assert(got(2L) > got(1L), "the hub must outrank the leaves")
  }

  test("star graph: hub dominates, leaves tie exactly, mass bounded") {
    val leaves = (2L to 6L)
    val edges = leaves.flatMap(l => Seq((1L, l), (l, 1L)))
    val got = run(edges, 4, ParentRounds("star"))
    assert(got == reference(edges, 4))
    assert(leaves.map(got).toSet.size == 1, "all leaves identical")
    assert(got(1L) > got(2L))
    // floors only ever LEAK mass: total never exceeds the initial mass
    assert(got.values.sum <= Mass)
  }

  test("two disconnected pairs rank identically (no cross-component leakage)") {
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
    val got = run(edges, 5, ParentRounds("two pairs"))
    assert(got == reference(edges, 5))
    assert(got.values.toSet.size == 1, "four symmetric nodes, one rank value")
  }

  test("a duplicated arc counts twice, as the reference counts it") {
    import spark.implicits._
    // path 1-2-3 with the arc 1→2 listed twice: node 1 has out-degree 2
    // and node 2 hears node 1 twice
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val got = run(edges, 5, (5, false))
    assert(got == reference(edges, 5))
    assert(got != reference(edges.distinct, 5), "the duplicate must matter")
    val (dr, dd, drounds, dconv) = Graph.pagerankRanksDriver(edges.toDF("src", "dst"), 5)
    assert(dr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
    assert(dd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    assert((drounds, dconv) == (5, false))
  }

  test("rank rule: base plus 85 % of the contributions, floored") {
    assert(Graph.rankUpdate(150L, Array(100L)) == 235L)
    assert(Graph.rankUpdate(0L, Array(1L, 1L)) == 1L, "170 div 100")
    assert(Graph.rankUpdate(7L, Array(33L, 33L, 34L)) == 92L, "7 + 8500 div 100")
    assert(Graph.rankUpdate(10L, Array(99L)) == 94L, "10 + 8415 div 100")
  }

  test("one call runs at most rounds + 3 jobs and leaves only its result pinned") {
    import graft.ml.JobCount
    import spark.implicits._
    val sc = spark.sparkContext
    val in = (2L to 6L).flatMap(l => Seq((1L, l), (l, 1L))).toDF("src", "dst")
    Pins.scoped { pins =>
      val before = sc.getPersistentRDDs.keySet
      var out: (org.apache.spark.sql.DataFrame, Int, Boolean) = null
      val jobs = JobCount.of(spark) { out = Graph.pagerankRanks(pins, in, 4) }
      assert(jobs <= out._2 + 3, s"$jobs jobs for ${out._2} rounds")
      val pinned = Set(Pins.rddOf(out._1).id)
      assert(pinned.size == 1)
      assert(sc.getPersistentRDDs.keySet -- before == pinned, "the loop left RDDs persisted")
    }
  }

  test("q138's loop takes the pinned rounds at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) Pins.scoped { pins =>
      val (_, rounds, converged) = Graph.pagerankRanks(pins, Graph.tradeEdges(pins, spark, dir), 5)
      assert((rounds, converged) == ParentRounds(dir), dir)
    }
  }

  test("convergence probe: 1-regular graph hits its exact fixpoint round 1") {
    import spark.implicits._
    // every node deg 1 and Mass/4 divides cleanly: r1 = base + 85·r0 div
    // 100 = r0 exactly, so the first probe must match and exit — and the
    // early-exit values must STILL equal the full-depth reference (a
    // fixpoint persists under the deterministic update)
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
    Pins.scoped { pins =>
      val (ranks, rounds, converged) = Graph.pagerankRanks(pins, edges.toDF("src", "dst"), 5)
      assert(converged, "exact integer fixpoint must be detected")
      assert(rounds == 1, s"expected exit after round 1, ran $rounds")
      val got = values(ranks)
      assert(got == reference(edges, 5), "early exit == full-depth values")
    }
  }

  test("driver kernel ≡ distributed fixpoint (ranks, deg, rounds, converged)") {
    import spark.implicits._
    // irregular star + a disconnected regular pair: exercises both the
    // no-fixpoint and fixpoint-adjacent behaviors in one graph
    val leaves = (2L to 6L)
    val edges = leaves.flatMap(l => Seq((1L, l), (l, 1L))) ++
      Seq((10L, 11L), (11L, 10L))
    for (iters <- Seq(1, 4)) Pins.scoped { pins =>
      val (dr, dd, drounds, dconv) =
        Graph.pagerankRanksDriver(edges.toDF("src", "dst"), iters)
      val (x, xrounds, xconv) =
        Graph.pagerankRanks(pins, edges.toDF("src", "dst"), iters)
      val (xr, xd) = (x.select("node", "value"), x.select("node", "degree"))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(dr) == m(xr), s"ranks diverge at iters=$iters")
      assert(m(dd) == m(xd), s"degrees diverge at iters=$iters")
      assert(drounds == xrounds && dconv == xconv,
        s"loop contract diverges at iters=$iters: " +
          s"driver ($drounds,$dconv) vs distributed ($xrounds,$xconv)")
      assert((xrounds, xconv) == ParentRounds(s"star+pair $iters"))
      assert(m(dr) == reference(edges, xrounds))
    }
  }

  test("driver kernel handles string node ids (the q246 vocabulary graph)") {
    import spark.implicits._
    val edges = Seq(("alpha", "beta"), ("beta", "alpha"),
      ("beta", "gamma"), ("gamma", "beta"))
    val (ranks, deg, _, _) =
      Graph.pagerankRanksDriver(edges.toDF("src", "dst"), 5)
    val got = ranks.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val longEdges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val ref = reference(longEdges, 5)
    assert(got("alpha") == ref(1L) && got("beta") == ref(2L) &&
      got("gamma") == ref(3L), "string graph must rank like its long twin")
    val dm = deg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dm == Map("alpha" -> 1L, "beta" -> 2L, "gamma" -> 1L))
  }

  test("driver kernel refuses an edge list past the compute cap") {
    import spark.implicits._
    // don't build 2^17 real rows — assert the require fires via a small
    // cap stand-in is impossible (cap is a val), so drive the real cap
    // boundary from the count contract instead: the guard must name it
    val e = intercept[IllegalArgumentException] {
      val big = spark.range(0, Graph.PagerankDriverCap + 1L)
        .selectExpr("id AS src", "id AS dst")
      Graph.pagerankRanksDriver(big, 1)
    }
    assert(e.getMessage.contains("compute cap"))
  }

  test("convergence probe: irregular graph runs every round, reports false") {
    import spark.implicits._
    // star is irregular: hub/leaf values keep sliding by truncation for
    // many rounds — no exact fixpoint within 4
    val leaves = (2L to 6L)
    val edges = leaves.flatMap(l => Seq((1L, l), (l, 1L)))
    Pins.scoped { pins =>
      val (ranks, rounds, converged) = Graph.pagerankRanks(pins, edges.toDF("src", "dst"), 4)
      assert(!converged, "no exact fixpoint expected within 4 rounds")
      assert(rounds == 4, "late case must use the full round budget")
      val got = values(ranks)
      assert(got == reference(edges, 4))
    }
  }

  /** (rounds, converged) of the fingerprint-probe loop before the loop
    * moved onto RDDs; the RDD loop must match them exactly. */
  private val ParentRounds: Map[String, (Int, Boolean)] = Map(
    "path" -> (5, false), "star" -> (4, false), "two pairs" -> (1, true),
    "star+pair 1" -> (1, false), "star+pair 4" -> (4, false),
    "/root/testdata/sf0.001" -> (5, false), "/root/testdata/sf0.01" -> (5, false))
}
