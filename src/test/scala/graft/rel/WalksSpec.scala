package graft.rel

import graft.Pins
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q167: the hop rule against an independent sequential reference (the
  * oracle hash-gates the full corpus on the real graph). */
class WalksSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("walks follow the (s,w,t)-hashed hop rule exactly") {
    val rows = Walks.q167_deepwalk_corpus(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // rebuild the graph's adjacency the same way and replay each walk
    // with a plain Scala loop
    val edges = Pins.scoped(Triangles.significantEdges(_, spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).sorted.toIndexedSeq }
    def refWalk(s: Long, w: Long): String = {
      var cur = s
      val path = new StringBuilder(s.toString)
      (1 to 4).foreach { t =>
        val nbrs = adj(cur)
        val h = SplitMix64Kernel.mix(s * 131L + w * 17L + t)
        val idx = ((h % nbrs.length) + nbrs.length) % nbrs.length
        cur = nbrs(idx.toInt)
        path.append("-").append(cur)
      }
      path.toString
    }
    rows.foreach { r =>
      val (s, w, path) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(path == refWalk(s, w), s"walk ($s, $w)")
      assert(r.getLong(3) ==
        path.split("-").distinct.length.toLong)
    }
    // every node contributes exactly WalksPerNode walks
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length == 2))
  }

  test("q223 node2vec: biased hops replay sequentially; the p/q weights " +
    "actually divert walks from the uniform rule") {
    val sf = "/root/testdata/sf0.001"
    val rows = Walks.q223_node2vec_walks(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Pins.scoped(Triangles.significantEdges(_, spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1)
      .map { case (u, vs) => u -> vs.map(_._2).sorted.toIndexedSeq }
    var diverted = 0
    def refWalk(s: Long, w: Long): String = {
      val path = new StringBuilder(s.toString)
      var prev = s
      var cur = {
        val nbrs = adj(s)
        val h = SplitMix64Kernel.mix(s * 257L + w * 29L + 1L)
        nbrs((((h % nbrs.length) + nbrs.length) % nbrs.length).toInt)
      }
      path.append("-").append(cur)
      (2 to 4).foreach { t =>
        val nbrs = adj(cur)
        val pn = adj(prev).toSet
        val ws = nbrs.map(x =>
          if (x == prev) 1L else if (pn(x)) 4L else 2L)
        val tot = ws.sum
        val h = SplitMix64Kernel.mix(s * 257L + w * 29L + t)
        val r = ((h % tot) + tot) % tot
        var cum = 0L; var idx = 0
        while (cum + ws(idx) <= r) { cum += ws(idx); idx += 1 }
        val uniformIdx = (((h % nbrs.length) + nbrs.length)
          % nbrs.length).toInt
        if (idx != uniformIdx) diverted += 1
        prev = cur
        cur = nbrs(idx)
        path.append("-").append(cur)
      }
      path.toString
    }
    rows.foreach { r =>
      val (s, w, path) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(path == refWalk(s, w), s"node2vec walk ($s, $w)")
      // every hop is a real edge
      val hops = path.split("-").map(_.toLong)
      hops.sliding(2).foreach { case Array(a, b) =>
        assert(adj(a).contains(b), s"($a,$b) not an edge")
      }
      assert(r.getLong(3) == hops.distinct.length.toLong)
    }
    assert(diverted > 0,
      "the bias never changed a selection - weights are dead code")
  }
}
