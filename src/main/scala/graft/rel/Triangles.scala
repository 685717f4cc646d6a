package graft.rel

import graft.{Pins, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Triangle counting + local clustering coefficients (q145) over the
  * supplier co-occurrence network (suppliers appearing in the same
  * order), by the degree-oriented compact-forward algorithm (Latapy
  * 2008, "Main-memory triangle computations for very large (sparse)
  * graphs"; the MapReduce adaptation is Suri & Vassilvitskii WWW 2011,
  * "Counting Triangles and the Curse of the Last Reducer").
  *
  * Why orientation matters at 100 TB: the naive wedge join fans out as
  * Σ deg(v)² — the "curse of the last reducer" on hub nodes. Orienting
  * every edge from its (degree, id)-SMALLER endpoint bounds per-node
  * fan-out by the arboricity (out-degree ≤ O(√|E|) for any graph), so
  * the wedge join is Σ outdeg(v)² ≪ Σ deg(v)² and no reducer owns a
  * hub. The wedge→edge closure is a semi-join keyed on the (v, w) pair
  * — hash-partitioned, no driver state.
  *
  * Graph hygiene: co-occurrence graphs densify, so the edge set is
  * SIGNIFICANCE-THRESHOLDED — an edge requires ≥ [[MinCoOrders]]
  * co-occurrences (the standard co-occurrence-network sparsification;
  * also what keeps C(n,3) from exploding on a near-complete graph).
  * Everything is exact integer arithmetic; the clustering coefficient
  * reports as permille `2000·tri div (deg·(deg−1))`.
  */
object Triangles extends graft.QueryModule {

  /** Minimum co-orders for a significant edge (sparsifies the
    * co-occurrence graph; see scaladoc). 6 keeps the bench graph sparse
    * where the co-order distribution thins (sf0.1: 454k raw pairs →
    * 17.8k significant edges, avg degree ~36) while the smaller SFs'
    * saturated graphs (every pair far above threshold) are unaffected —
    * measured before fixing the constant, per the recall-gate rule. */
  private[graft] val MinCoOrders = 6
  private val TopK = 25

  /** The significance-thresholded supplier co-occurrence edge set
    * (sa < sb), pinned by the caller's `pins` — shared by q145, q148's
    * coreness, q166, q167, q192 and q223. */
  private[graft] def significantEdges(pins: Pins, s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    pins.pin(li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("sa"), col("b.sk").as("sb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= MinCoOrders)
      .select(col("sa"), col("sb"))) // multiple consumers in every caller
  }

  /** Both orientations of each (sa, sb) edge, as (u, v) arcs. */
  private[graft] def arcsOf(edges: DataFrame): DataFrame =
    edges.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(edges.select(col("sb").as("u"), col("sa").as("v")))

  /** Undirected degree of [[significantEdges]]. */
  private[graft] def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col("sa").as("n")).unionByName(
        edges.select(col("sb").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  def q145_triangle_count(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val edges = significantEdges(pins, s, dir)
    val deg = degreesOf(edges)
    // orientation key: degree-then-id, packed (deg < 2^20 and id < 2^20
    // at any bench SF; the pack is just a total order both engines share)
    val ordOf = deg.select(col("n"), (col("deg") * 1048576L + col("n")).as("ord"))
    // three consumers (both wedge legs + the closure probe): materialize
    // once or the degree/orientation joins re-execute per consumer
    val oe = pins.pin(edges
      .join(ordOf.select(col("n").as("sa"), col("ord").as("orda")), Seq("sa"))
      .join(ordOf.select(col("n").as("sb"), col("ord").as("ordb")), Seq("sb"))
      .select(
        when(col("orda") < col("ordb"), col("sa")).otherwise(col("sb")).as("src"),
        when(col("orda") < col("ordb"), col("ordb")).otherwise(col("orda")).as("dstord"),
        when(col("orda") < col("ordb"), col("sb")).otherwise(col("sa")).as("dst")))
    // wedges from the small endpoint; close with an oriented-edge probe
    val tri = oe.as("e1").join(oe.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dstord") < col("e2.dstord"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(oe.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("triangles"))
    val total = tri.agg(count(lit(1)).as("total_triangles"))
    val rankW = Window.orderBy(col("triangles").desc, col("n"))
    perNode.join(deg, Seq("n"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= TopK)
      .crossJoin(broadcast(total))
      .select(col("rk").cast("int").as("rank"),
        col("n").as("s_suppkey"), col("deg").as("degree"), col("triangles"),
        expr("(2000 * triangles) div (deg * (deg - 1))")
          .as("clustering_permille"),
        col("total_triangles"))
      .orderBy(col("rank"))
      // pin the TopK result before the scope releases the edge and
      // oriented-edge pins (bench median-of-5 repeats a query 5×)
      .localCheckpoint()
  }

  /** The li→edges→deg CTE chain both graph oracles share. */
  private[graft] lazy val coGraphCtes: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |edges AS (SELECT a.sk AS sa, b.sk AS sb
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOrders),
       |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT sa AS n FROM edges UNION ALL SELECT sb FROM edges) t
       |  GROUP BY 1)""".stripMargin

  private lazy val triangleOracle: String =
    s"""WITH $coGraphCtes,
       |ordv AS (SELECT n, deg * 1048576 + n AS ord FROM deg),
       |oe AS (SELECT
       |    CASE WHEN oa.ord < ob.ord THEN e.sa ELSE e.sb END AS src,
       |    CASE WHEN oa.ord < ob.ord THEN ob.ord ELSE oa.ord END AS dstord,
       |    CASE WHEN oa.ord < ob.ord THEN e.sb ELSE e.sa END AS dst
       |  FROM edges e JOIN ordv oa ON oa.n = e.sa
       |  JOIN ordv ob ON ob.n = e.sb),
       |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |  FROM oe e1 JOIN oe e2
       |    ON e1.src = e2.src AND e1.dstord < e2.dstord
       |  WHERE EXISTS (SELECT 1 FROM oe e3
       |    WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
       |pern AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
       |    SELECT u AS n FROM tri UNION ALL SELECT v FROM tri
       |    UNION ALL SELECT w FROM tri) t GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tri),
       |ranked AS (SELECT p.n, p.triangles, d.deg,
       |    ROW_NUMBER() OVER (ORDER BY p.triangles DESC, p.n) AS rk
       |  FROM pern p JOIN deg d USING (n))
       |SELECT CAST(rk AS INTEGER) AS rank, n AS s_suppkey, deg AS degree,
       |  triangles,
       |  CAST((2000 * triangles) // (deg * (deg - 1)) AS BIGINT)
       |    AS clustering_permille,
       |  total_triangles
       |FROM ranked, tot WHERE rk <= $TopK ORDER BY rank""".stripMargin

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q145_triangle_count" -> (q145_triangle_count _))

  override val oracle: Map[String, String] = Map(
    "q145_triangle_count" -> triangleOracle)
}
