package graft.rel

import graft.Pins
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q166: the synchronous min-tie LPA semantics on handcrafted graphs
  * (the oracle hash-gates the 4-round state on the real graph). */
class LpaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def labelsOf(edges: Seq[(Long, Long)]): (Map[Long, Long], Int, Boolean) = {
    import spark.implicits._
    Pins.scoped { pins =>
      val (df, rounds, converged) = Lpa.propagateLabels(pins, edges.toDF("sa", "sb"))
      (df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap, rounds, converged)
    }
  }

  test("two cliques with a bridge resolve to two communities") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),       // clique A
      (10L, 11L), (10L, 12L), (11L, 12L), // clique B
      (3L, 10L))                          // bridge
    val (lbl, rounds, converged) = labelsOf(edges)
    assert(Set(lbl(1L), lbl(2L), lbl(3L)).size == 1, "clique A one label")
    assert(Set(lbl(10L), lbl(11L), lbl(12L)).size == 1, "clique B one label")
    assert(lbl(1L) != lbl(10L), "bridge must not merge the cliques")
    assert((rounds, converged) == ParentRounds("two cliques"))
  }

  test("a triangle stabilizes and probe-exits before the round cap") {
    val (lbl, rounds, converged) = labelsOf(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(lbl.values.toSet.size == 1)
    assert(rounds < 4, s"expected early probe-exit, ran $rounds rounds")
    assert((rounds, converged) == ParentRounds("triangle"))
  }

  test("plurality rule: most frequent label, ties to the smallest") {
    assert(Lpa.plurality(Array(7L, 3L, 7L)) == 7)
    assert(Lpa.plurality(Array(9L, 3L, 9L, 3L, 5L)) == 3, "two-way tie")
    assert(Lpa.plurality(Array(4L, 2L, 8L)) == 2, "all tied")
    assert(Lpa.plurality(Array(6L)) == 6)
    val v = Array(5L, 1L, 5L)
    assert(Lpa.plurality(v) == 5 && v.sameElements(Array(5L, 1L, 5L)), "argument untouched")
  }

  test("path 1-2-3: the centre's tied labels resolve to the smaller one") {
    // round 1: node 2 hears {1, 3} and takes 1 (the larger tie-break would
    // take 3 and end at {1→3, 2→2, 3→3}); the labels then alternate with
    // period 2, so the cap ends the loop unconverged
    val (lbl, rounds, converged) = labelsOf(Seq((1L, 2L), (2L, 3L)))
    assert(lbl == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert((rounds, converged) == (4, false))
  }

  test("q166's loop takes the pinned rounds at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) Pins.scoped { pins =>
      val edges = Triangles.significantEdges(pins, spark, dir)
      val (_, rounds, converged) = Lpa.propagateLabels(pins, edges)
      assert((rounds, converged) == ParentRounds(dir), dir)
    }
  }

  test("one call runs at most rounds + 3 jobs and leaves only its result pinned") {
    import graft.ml.JobCount
    import spark.implicits._
    val sc = spark.sparkContext
    val in = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 10L), (10L, 11L)).toDF("sa", "sb")
    Pins.scoped { pins =>
      val before = sc.getPersistentRDDs.keySet
      var out: (org.apache.spark.sql.DataFrame, Int, Boolean) = null
      val jobs = JobCount.of(spark) { out = Lpa.propagateLabels(pins, in) }
      assert(jobs <= out._2 + 3, s"$jobs jobs for ${out._2} rounds")
      val pinned = Set(Pins.rddOf(out._1).id)
      assert(pinned.size == 1)
      assert(sc.getPersistentRDDs.keySet -- before == pinned, "the loop left RDDs persisted")
    }
  }

  test("q166 report: modularity identity and community accounting hold") {
    import org.apache.spark.sql.functions.col
    val rows = Lpa.q166_lpa_communities(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val m = rows.head.getAs[Long]("m_edges")
    rows.foreach { r =>
      // every community's d_c counts each intra edge twice plus the cut
      assert(r.getAs[Long]("d_c") >= 2 * r.getAs[Long]("e_c"))
      assert(r.getAs[Long]("e_c") <= m)
    }
    // Q·4m² is bounded by its definition: Q ≤ 1
    assert(rows.head.getAs[Long]("q_4m2") <= 4L * m * m)
  }

  /** (rounds, converged) of the fingerprint-probe loop before the loop
    * moved onto RDDs; the RDD loop must match them exactly. */
  private val ParentRounds: Map[String, (Int, Boolean)] = Map(
    "two cliques" -> (4, true), "triangle" -> (3, true),
    "/root/testdata/sf0.001" -> (3, true), "/root/testdata/sf0.01" -> (3, true))
}
