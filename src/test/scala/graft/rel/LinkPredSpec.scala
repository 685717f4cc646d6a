package graft.rel

import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q191/q192: predicted pairs are genuine non-edges at distance 2 with
  * bounded Adamic-Adar mass; the power-law fit is internally coherent. */
class LinkPredSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  // sf0.001's 45-pair graph is complete (zero non-adjacent wedges, a
  // measured property) — invariants run at sf0.01 where candidates exist
  private val sf = "/root/testdata/sf0.01"

  /** The budgeted co-occurrence graph q191, q201 and q239 read: the
    * top-4000 supplier pairs by co-order count, (w desc, sa, sb). */
  private def budgetGraph(dir: String): Array[(Long, Long)] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_orderkey AS ok", "l_suppkey AS sk").distinct()
    li.alias("a").join(li.alias("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("sa"), col("b.sk").as("sb"))
      .agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("sa"), col("sb")).limit(4000)
      .select("sa", "sb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  private val MaxDist = 8

  /** Brute-force BFS: for every node, the hop distance of each node it
    * reaches within MaxDist hops (itself at 0). */
  private def distances(edges: Seq[(Long, Long)]): Map[Long, Map[Long, Int]] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    adj.keys.map { s0 =>
      val seen = scala.collection.mutable.Map(s0 -> 0)
      var fr = List(s0); var d = 0
      while (fr.nonEmpty && d < MaxDist) {
        d += 1
        fr = fr.flatMap(adj(_)).distinct.filterNot(seen.contains)
        fr.foreach(seen(_) = d)
      }
      s0 -> seen.toMap
    }.toMap
  }

  /** Unordered pairs per hop distance ≥ 1. */
  private def histogram(dists: Map[Long, Map[Long, Int]]): Map[Int, Long] =
    dists.toSeq.flatMap { case (s0, seen) => seen.collect { case (v, d) if v > s0 => d } }
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  /** N(d) for d = 0..MaxDist: the operator's hash/register/estimate
    * arithmetic replayed on every BFS ball. */
  private def anfNs(dists: Map[Long, Map[Long, Int]]): IndexedSeq[Long] = {
    def smix(v: Long): Long = {
      var z = v + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def reg(v: Long): (Long, Long) = {
      val h = smix(v)
      val w = h >>> 8
      val rho = if (w == 0L) 57L
        else 57L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      (h & 255L, rho)
    }
    def estOf(ball: Iterable[Long]): Long = {
      val regs = ball.map(reg).groupBy(_._1).map { case (b, rs) =>
        b -> rs.map(_._2).max
      }
      val np = regs.size
      val s = regs.values.map(mj => BigInt(1) << (57 - mj.toInt)).sum +
        BigInt(256 - np) * (BigInt(1) << 57)
      val raw = (BigInt(718273L) * 256 * 256 * (BigInt(1) << 57) /
        (BigInt(1000000) * s)).toLong
      val vz = 256L - np
      if (vz > 0 && raw * 2 <= 1280)
        (256L * (5545177L -
          math.round(1e6 * graft.functions.SharedLnUtil.ln(vz)))) /
          1000000L
      else raw
    }
    (0 to MaxDist).map { d =>
      dists.values.map(seen => estOf(seen.collect { case (v, dv) if dv <= d => v })).sum
    }
  }

  test("predictions are non-edges with bounded AA mass (q191)") {
    val rows = LinkPred.q191_link_prediction(spark, sf).collect()
    assert(rows.length == 20)
    val edges = budgetGraph(sf).toSet
    rows.foreach { r =>
      val (u, w, cn, aa) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(u < w, "canonical pair order")
      assert(!edges.contains((u, w)), "predicted pair must be a non-edge")
      assert(cn >= 1, "distance-2 requires a common neighbor")
      // each wedge contributes at most 1e9 div round(1e6 ln 2) = 1442
      assert(aa >= 1 && aa <= cn * 1442L, s"AA mass $aa vs cn=$cn")
    }
  }

  test("power-law MLE is coherent (q192)") {
    val r = LinkPred.q192_powerlaw_fit(spark, sf).head()
    val (n, dmin, dmax) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 0 && dmin >= 1 && dmax >= dmin)
    assert(r.getLong(3) >= 1 && r.getLong(3) <= n, "n_at_dmin in [1, n]")
    if (!r.isNullAt(5)) {
      assert(r.getLong(5) > 1000, "alpha > 1 whenever some deg > dmin")
    } else {
      assert(dmin == dmax, "null alpha only for a degree-regular graph")
    }
  }

  test("q201 distance profile: brute-force BFS agrees, identities hold") {
    val rows = LinkPred.q201_distance_histogram(spark, sf).collect()
    val dists = distances(budgetGraph(sf).toSeq)
    val hist = histogram(dists)
    val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == hist, s"histogram $got vs brute $hist")
    val n = dists.size.toLong
    val reach = hist.values.sum
    rows.foreach { r =>
      assert(r.getLong(3) == n, "n_nodes")
      assert(r.getLong(4) == n * (n - 1) / 2, "total_pairs")
      assert(r.getLong(5) == reach, "reachable_pairs")
      assert(r.getBoolean(8), "converged at this SF (measured diam 2)")
      assert(r.getLong(7) ==
        1000L * hist.map { case (d, c) => d * c }.sum / reach, "avg milli")
    }
    // cum_pairs staircase + effective diameter definition
    val byDist = rows.sortBy(_.getInt(0))
    var cum = 0L
    var eff = Int.MaxValue
    byDist.foreach { r =>
      cum += r.getLong(1)
      assert(r.getLong(2) == cum, "cum_pairs")
      if (10 * cum >= 9 * reach && eff == Int.MaxValue) eff = r.getInt(0)
    }
    byDist.foreach(r => assert(r.getInt(6) == eff, "eff_diam_p90"))
  }

  test("driver kernels on an early-converging graph agree with the brute-force references") {
    import spark.implicits._
    val tiny = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val edges = tiny.toDF("sa", "sb")
    val dists = distances(tiny)
    val expected = Map(1 -> 3L, 2 -> 1L)
    assert(histogram(dists) == expected)
    val rows = LinkPred.distanceHistogramDriver(spark, edges).collect()
    assert(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == expected)
    rows.foreach { r =>
      assert(r.getLong(3) == 5L, "n_nodes")
      assert(r.getBoolean(8), "diameter-2 components converge inside the horizon")
    }
    val (ns, nNodes, converged) = LinkPred.anfNsDriver(spark, edges)
    assert(nNodes == 5L && converged)
    assert(ns.size < MaxDist + 1, "the register loop stops at convergence")
    val padded = ns ++ Seq.fill(MaxDist + 1 - ns.size)(ns.last)
    assert(padded == anfNs(dists), s"N(d) $ns vs replay ${anfNs(dists)}")
  }

  test("driver kernels refuse an edge list past the compute cap") {
    val big = spark.range(0, LinkPred.DriverClosureCap + 1L)
      .selectExpr("id AS sa", "id + 1 AS sb")
    val e1 = intercept[IllegalArgumentException] {
      LinkPred.distanceHistogramDriver(spark, big)
    }
    assert(e1.getMessage.contains("compute cap"))
    val e2 = intercept[IllegalArgumentException] {
      LinkPred.anfNsDriver(spark, big)
    }
    assert(e2.getMessage.contains("compute cap"))
  }

  test("q239 HyperANF: driver replay of registers, N(d), envelope") {
    val rows = LinkPred.q239_distance_approx(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 8)
    val dists = distances(budgetGraph(sf).toSeq)
    val hist = histogram(dists)
    val ns = anfNs(dists)
    val nMono = ns.scanLeft(Long.MinValue)(math.max).drop(1)
    val cumHat = (1 to MaxDist).map(k => (nMono(k) - nMono(0)) / 2L)
    val reachHat = cumHat.last
    val effHat = (1 to MaxDist)
      .find(k => 10L * cumHat(k - 1) >= 9L * reachHat)
      .map(_.toLong).getOrElse(-1L)
    val reachExact = hist.values.sum
    rows.zipWithIndex.foreach { case (r, i) =>
      val k = i + 1
      assert(r.getLong(2) == cumHat(k - 1), s"cum_pairs_hat at $k")
      assert(r.getLong(1) == cumHat(k - 1) -
        (if (k == 1) 0L else cumHat(k - 2)), s"n_pairs_hat at $k")
      assert(r.getLong(3) == hist.getOrElse(k, 0L), s"n_pairs_exact at $k")
      assert(r.getLong(5) == dists.size.toLong, "n_nodes")
      assert(r.getLong(6) == reachHat, "reach_hat")
      assert(r.getLong(7) == reachExact, "reach_exact")
      assert(r.getLong(8) == 1000L * math.abs(reachHat - reachExact) /
        math.max(reachExact, 1L), "err permille")
      assert(r.getLong(9) == effHat, "eff_diam_hat")
      assert(r.getBoolean(11) == (r.getLong(8) <= 150L &&
        math.abs(r.getLong(9) - r.getLong(10)) <= 1L), "envelope rule")
      assert(r.getBoolean(11), "within envelope at this SF (58 permille " +
        "measured at sf0.1, 0 at sf0.01 - bound 150 has clear margin)")
    }
  }
}
