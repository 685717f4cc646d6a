package graft.rel

import graft.Pins
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q148: the H-index iteration must land on TRUE peeling coreness
  * (Batagelj-Zaversnik semantics, brute-forced by repeated k-core
  * removal) and must report convergence. */
class CorenessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** True coreness by definition: max k such that v survives in the
    * k-core (repeatedly delete nodes with degree < k). */
  private def peelCoreness(adj0: Map[Long, Set[Long]]): Map[Long, Long] = {
    val core = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val maxDeg = adj0.values.map(_.size).max
    (1 to maxDeg).foreach { k =>
      var adj = adj0
      var changed = true
      while (changed) {
        val drop = adj.collect { case (v, ns) if ns.size < k => v }.toSet
        changed = drop.nonEmpty
        if (changed) adj = (adj -- drop).map { case (v, ns) =>
          v -> (ns -- drop)
        }
      }
      adj.keys.foreach(v => core(v) = k.toLong)
    }
    core.toMap
  }

  test("H-index fixpoint equals peeling coreness; convergence reported") {
    // the same thresholded edge set the query builds
    val edges = Pins.scoped(Triangles.significantEdges(_, spark, sf).collect())
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val expected = peelCoreness(adj)

    val out = Coreness.q148_coreness(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(4)), "must report convergence")
    out.foreach { r =>
      val (n, degree, c) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(c == expected(n), s"node $n coreness")
      assert(degree == adj(n).size)
      assert(c <= degree, "coreness never exceeds degree")
    }
  }

  /** K4 on {1,2,3,4} plus path 4-5-6: coreness 3 for the clique, 1 for
    * the path. */
  private val k4Path = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
    (3L, 4L), (4L, 5L), (5L, 6L))

  private def arcs(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.flatMap(p => Seq(p, p.swap)).toDF("u", "v")
  }

  test("hand-built graph: clique + pendant path peels correctly") {
    val adj = k4Path.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val expected = peelCoreness(adj)
    assert(expected == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L), "peeling reference is itself correct")
    // the per-node rule, iterated on the driver from c0 = degree
    var c = adj.map { case (n, ns) => n -> ns.size.toLong }
    (1 to 6).foreach { _ =>
      c = adj.map { case (n, ns) => n -> Coreness.hIndex(ns.toArray.map(c)) }
    }
    assert(c == expected)
  }

  test("H-index rule: repeated neighbour values count once per arc") {
    assert(Coreness.hIndex(Array(3L, 3L, 3L)) == 3)
    assert(Coreness.hIndex(Array(2L, 2L, 2L, 2L)) == 2)
    assert(Coreness.hIndex(Array(5L, 1L, 5L)) == 2)
    assert(Coreness.hIndex(Array(1L, 1L, 1L, 1L)) == 1)
    assert(Coreness.hIndex(Array(4L)) == 1)
    assert(Coreness.hIndex(Array(0L, 0L)) == 0)
    // order-insensitive, and the argument is left as it was
    val v = Array(1L, 9L, 2L, 9L, 9L)
    assert(Coreness.hIndex(v) == 3 && v.sameElements(Array(1L, 9L, 2L, 9L, 9L)))
  }

  test("convergence probe: K4+path exits early, values equal peeling") {
    // round 1 already lands on the coreness; round 2 changes nothing
    Pins.scoped { pins =>
      val (c, rounds, converged) = Coreness.hIndexWithRounds(pins, arcs(k4Path), 6)
      assert(converged, "fixpoint must be detected")
      assert(rounds < 6, s"expected early exit, ran $rounds rounds")
      assert(rounds == ParentRounds("k4+path"))
      val got = c.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
        5L -> 1L, 6L -> 1L))
      val degree = c.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(degree == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 2L, 6L -> 1L))
    }
  }

  test("convergence probe: starved round budget reports NOT converged") {
    // c1 ≠ c0 (degrees are not the coreness here), so one round cannot
    // confirm a fixpoint — the late case must gate loudly, not lie
    val (_, rounds, converged) = Pins.scoped(Coreness.hIndexWithRounds(_, arcs(k4Path), 1))
    assert(!converged, "one round cannot certify this graph")
    assert(rounds == 1)
  }

  test("q148's loop takes the pinned rounds at sf0.001 and sf0.01") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) Pins.scoped { pins =>
      val edges = Triangles.significantEdges(pins, spark, dir)
      val (_, rounds, converged) = Coreness.hIndexWithRounds(pins, Triangles.arcsOf(edges), 6)
      assert((rounds, converged) == (ParentRounds(dir), true), dir)
    }
  }

  test("one call runs at most rounds + 3 jobs and leaves only its result pinned") {
    import graft.ml.JobCount
    val sc = spark.sparkContext
    val in = arcs(k4Path)
    Pins.scoped { pins =>
      val before = sc.getPersistentRDDs.keySet
      var out: (org.apache.spark.sql.DataFrame, Int, Boolean) = null
      val jobs = JobCount.of(spark) { out = Coreness.hIndexWithRounds(pins, in, 6) }
      assert(jobs <= out._2 + 3, s"$jobs jobs for ${out._2} rounds")
      val pinned = Set(Pins.rddOf(out._1).id)
      assert(pinned.size == 1)
      assert(sc.getPersistentRDDs.keySet -- before == pinned, "the loop left RDDs persisted")
    }
  }

  /** Rounds the fingerprint-probe loop took before the loop moved onto
    * RDDs; the RDD loop must take exactly as many. */
  private val ParentRounds: Map[String, Int] = Map(
    "k4+path" -> 2, sf -> 1, "/root/testdata/sf0.01" -> 1)
}
