package graft.rel

import graft.Pins
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Random-walk corpus generation (q167) — the DeepWalk/node2vec
  * preprocessing step (Perozzi, Al-Rfou & Skiena 2014, "DeepWalk:
  * online learning of social representations"): emit W truncated
  * random walks of length L from every node; the walk corpus then
  * feeds a skip-gram trainer exactly like sentences feed word2vec
  * (which is why it belongs in a training-data engine — it converts a
  * graph into the engine's text-pipeline food).
  *
  * Determinism: the t-th hop of walk w from start s draws
  * h = splitmix64(s·131 + w·17 + t) and steps to
  * sortedNeighbors(cur)[pmod(h, deg(cur))] — no RNG object, every hop
  * recomputable from (s, w, t) alone, so the DuckDB twin replays the
  * ENTIRE corpus: one splitmix64 HUGEINT pass over the (s, w, t) grid
  * (with the signed two's-complement conversion before pmod — degree
  * moduli aren't powers of two), then L unrolled hops indexing the
  * same sorted adjacency lists. Hash-gated end to end.
  *
  * Scale shape: the adjacency-list frame is catalog-sized (sparsified
  * degrees) and BROADCASTS; each hop is then a map-side join — the
  * walk frontier never shuffles. At web-graph scale the adjacency side
  * exceeds broadcast and the hops become shuffle joins keyed by the
  * frontier's current node — still L bounded passes, no driver state;
  * walk count per node is the knob that sizes the corpus against the
  * downstream trainer's budget. */
object Walks extends graft.QueryModule {

  private val WalksPerNode = 2
  private val WalkLen = 4

  def q167_deepwalk_corpus(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import s.implicits._
    val edges = Triangles.significantEdges(pins, s, dir)
    val both = edges.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(edges.select(col("sb").as("u"), col("sa").as("v")))
    val adj = both.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val starts = adj.select(col("u").as("s"))
      .crossJoin((0 until WalksPerNode).toDF("w"))
    var walk = starts
      .withColumn("cur", col("s"))
      .withColumn("path", col("s").cast("string"))
    (1 to WalkLen).foreach { t =>
      val h = JoinCard.splitmix64(
        col("s") * lit(131L) + col("w") * lit(17L) + lit(t.toLong))
      walk = walk
        .join(broadcast(adj), col("cur") === col("u"))
        .withColumn("nxt",
          element_at(col("nbrs"), (pmod(h, size(col("nbrs"))) + 1)
            .cast("int")))
        .select(col("s"), col("w"),
          col("nxt").as("cur"),
          concat(col("path"), lit("-"), col("nxt").cast("string"))
            .as("path"))
    }
    walk
      .select(col("s"), col("w").cast("long").as("w"), col("path"),
        (size(array_distinct(split(col("path"), "-")))).cast("long")
          .as("n_distinct"))
      .orderBy(col("s"), col("w"))
      .localCheckpoint() // the walk corpus, pinned before the scope releases the edges
  }

  // ---------------------------------------------------------------- oracle

  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val walksOracle: String = {
    val mco = Triangles.MinCoOrders
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    // one hop: look up cur's adjacency, index with the precomputed
    // signed hash for step t
    def hop(prev: String, out: String, t: Int): String =
      s"""$out AS (SELECT p.s, p.w, p.path || '-' || CAST(
         |    a.nbrs[CAST(((h.x % len(a.nbrs)) + len(a.nbrs))
         |      % len(a.nbrs) AS BIGINT) + 1] AS VARCHAR) AS path,
         |    a.nbrs[CAST(((h.x % len(a.nbrs)) + len(a.nbrs))
         |      % len(a.nbrs) AS BIGINT) + 1] AS cur
         |  FROM $prev p
         |  JOIN adj a ON p.cur = a.u
         |  JOIN hs h ON h.s = p.s AND h.w = p.w AND h.t = $t)""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |edges AS (SELECT a.sk AS sa, b.sk AS sb
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $mco),
       |bidir AS (SELECT sa AS u, sb AS v FROM edges
       |  UNION ALL SELECT sb, sa FROM edges),
       |adj AS (SELECT u, list(v ORDER BY v) AS nbrs
       |  FROM bidir GROUP BY u),
       |grid AS (SELECT u AS s, w, t
       |  FROM adj, (SELECT unnest(range(0, $WalksPerNode)) AS w),
       |    (SELECT unnest(range(1, ${WalkLen + 1})) AS t)),
       |zs AS (SELECT s, w, t,
       |    CAST(CAST(s AS HUGEINT) * 131 + w * 17 + t AS HUGEINT) AS z
       |  FROM grid),
       |s1 AS (SELECT s, w, t, $z1 AS z1 FROM zs),
       |s2 AS (SELECT s, w, t, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT s, w, t, $m2 AS z2 FROM s2),
       |s4 AS (SELECT s, w, t, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT s, w, t, $m3 AS z3 FROM s4),
       |s6 AS (SELECT s, w, t, xor(z3, z3 // 2147483648) AS m FROM s5),
       |hs AS (SELECT s, w, t,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |w0 AS (SELECT u AS s, w, CAST(u AS VARCHAR) AS path, u AS cur
       |  FROM adj, (SELECT unnest(range(0, $WalksPerNode)) AS w)),
       |${hop("w0", "w1", 1)},
       |${hop("w1", "w2", 2)},
       |${hop("w2", "w3", 3)},
       |${hop("w3", "w4", 4)}
       |SELECT s, CAST(w AS BIGINT) AS w, path,
       |  CAST(len(list_distinct(string_split(path, '-'))) AS BIGINT)
       |    AS n_distinct
       |FROM w4 ORDER BY s, w""".stripMargin
  }

  // --------------------------------------------- q223 node2vec walks
  /** Second-order (node2vec) biased walks — Grover & Leskovec 2016: the
    * t-th hop weighs each neighbor x of cur by the return/BFS/DFS bias
    * α(prev, x) ∈ {1/p, 1, 1/q}; with p = 4, q = 2 the weights scale to
    * the integers {1, 4, 2} (return, common-neighbor, outward), so the
    * weighted choice is r = pmod(h, Σw) walked down the sorted-neighbor
    * prefix sums — EXACT, no float sampling, every hop recomputable from
    * (s, walk, t) like q167. The first hop (no prev) is uniform. The
    * walk corpus then feeds the same skip-gram stage as q167's; the p/q
    * knobs are what tune BFS-ness (structural roles) vs DFS-ness
    * (communities) of the learned embedding.
    *
    * Scale shape: identical to q167 — broadcast adjacency, frontier
    * never shuffles, L bounded map-side passes — plus one extra
    * broadcast lookup per hop (prev's neighbor list, for the α classes)
    * and per-candidate prefix sums bounded by the sparsified degree.
    * At web scale the per-hop O(deg²) prefix scan is replaced by
    * precomputed per-(prev,cur) alias tables — a table change, not a
    * plan change. */
  def q223_node2vec_walks(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import s.implicits._
    val edges = Triangles.significantEdges(pins, s, dir)
    val both = edges.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(edges.select(col("sb").as("u"), col("sa").as("v")))
    val adj = both.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val adjP = adj.select(col("u").as("u2"), col("nbrs").as("pnbrs"))
    val starts = adj.select(col("u").as("s"))
      .crossJoin((0 until WalksPerNode).toDF("w"))
    def h(t: Int) = JoinCard.splitmix64(
      col("s") * lit(257L) + col("w") * lit(29L) + lit(t.toLong))
    // hop 1: uniform (no prev yet)
    var walk = starts
      .join(broadcast(adj), col("s") === col("u"))
      .withColumn("nxt", element_at(col("nbrs"),
        (pmod(h(1), size(col("nbrs"))) + 1).cast("int")))
      .select(col("s"), col("w"), col("nxt").as("cur"),
        col("s").as("prev"),
        concat(col("s").cast("string"), lit("-"),
          col("nxt").cast("string")).as("path"))
    (2 to WalkLen).foreach { t =>
      walk = walk
        .join(broadcast(adj), col("cur") === col("u"))
        .join(broadcast(adjP), col("prev") === col("u2"))
        .withColumn("ws", expr(
          "transform(nbrs, x -> CASE WHEN x = prev THEN 1L " +
            "WHEN array_contains(pnbrs, x) THEN 4L ELSE 2L END)"))
        .withColumn("r",
          pmod(h(t), expr("aggregate(ws, 0L, (a, x) -> a + x)")))
        // first index with running cumsum > r, in ONE O(deg) fold (the
        // slice-per-index form re-aggregated prefixes O(deg²) and cost
        // q223 2x q167's time at sf0.1 — measured)
        .withColumn("idx", expr(
          "aggregate(ws, struct(0L AS cum, 0 AS i, -1 AS idx), " +
            "(a, x) -> struct(a.cum + x AS cum, a.i + 1 AS i, " +
            "CASE WHEN a.idx = -1 AND a.cum + x > r THEN a.i + 1 " +
            "ELSE a.idx END AS idx), a -> a.idx)"))
        .withColumn("nxt", element_at(col("nbrs"), col("idx").cast("int")))
        .select(col("s"), col("w"), col("nxt").as("cur"),
          col("cur").as("prev"),
          concat(col("path"), lit("-"), col("nxt").cast("string"))
            .as("path"))
    }
    walk
      .select(col("s"), col("w").cast("long").as("w"), col("path"),
        size(array_distinct(split(col("path"), "-"))).cast("long")
          .as("n_distinct"))
      .orderBy(col("s"), col("w"))
      .localCheckpoint() // the walk corpus, pinned before the scope releases the edges
  }

  private lazy val node2vecOracle: String = {
    val mco = Triangles.MinCoOrders
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    def hopB(prev: String, t: Int): String =
      s"""x$t AS (SELECT p.s, p.w, p.path, p.cur, p.prev, a.nbrs,
         |    list_transform(a.nbrs, x -> CASE WHEN x = p.prev THEN 1
         |      WHEN list_contains(pa.nbrs, x) THEN 4 ELSE 2 END) AS ws,
         |    h.x AS hx
         |  FROM $prev p
         |  JOIN adj a ON a.u = p.cur
         |  JOIN adj pa ON pa.u = p.prev
         |  JOIN hs h ON h.s = p.s AND h.w = p.w AND h.t = $t),
         |y$t AS (SELECT *, CAST(((hx % ls) + ls) % ls AS BIGINT) AS r
         |  FROM (SELECT *, CAST(list_sum(ws) AS BIGINT) AS ls FROM x$t)),
         |w$t AS (SELECT s, w,
         |    path || '-' || CAST(nbrs[idx] AS VARCHAR) AS path,
         |    nbrs[idx] AS cur, cur AS prev
         |  FROM (SELECT *, CAST(len(list_filter(
         |      list_transform(range(1, len(ws) + 1), i ->
         |        CASE WHEN CAST(list_sum(ws[1 : CAST(i AS INT)]) AS BIGINT)
         |          <= r THEN 1 END), v -> v IS NOT NULL)) AS INT) + 1
         |      AS idx FROM y$t))""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |edges AS (SELECT a.sk AS sa, b.sk AS sb
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $mco),
       |bidir AS (SELECT sa AS u, sb AS v FROM edges
       |  UNION ALL SELECT sb, sa FROM edges),
       |adj AS (SELECT u, list(v ORDER BY v) AS nbrs
       |  FROM bidir GROUP BY u),
       |grid AS (SELECT u AS s, w, t
       |  FROM adj, (SELECT unnest(range(0, $WalksPerNode)) AS w),
       |    (SELECT unnest(range(1, ${WalkLen + 1})) AS t)),
       |zs AS (SELECT s, w, t,
       |    CAST(CAST(s AS HUGEINT) * 257 + w * 29 + t AS HUGEINT) AS z
       |  FROM grid),
       |s1 AS (SELECT s, w, t, $z1 AS z1 FROM zs),
       |s2 AS (SELECT s, w, t, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT s, w, t, $m2 AS z2 FROM s2),
       |s4 AS (SELECT s, w, t, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT s, w, t, $m3 AS z3 FROM s4),
       |s6 AS (SELECT s, w, t, xor(z3, z3 // 2147483648) AS m FROM s5),
       |hs AS (SELECT s, w, t,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |w1 AS (SELECT g.s, g.w,
       |    CAST(g.s AS VARCHAR) || '-' || CAST(a.nbrs[CAST(
       |      ((h.x % len(a.nbrs)) + len(a.nbrs)) % len(a.nbrs)
       |      AS BIGINT) + 1] AS VARCHAR) AS path,
       |    a.nbrs[CAST(((h.x % len(a.nbrs)) + len(a.nbrs)) % len(a.nbrs)
       |      AS BIGINT) + 1] AS cur,
       |    g.s AS prev
       |  FROM (SELECT u AS s, w
       |    FROM adj, (SELECT unnest(range(0, $WalksPerNode)) AS w)) g
       |  JOIN adj a ON a.u = g.s
       |  JOIN hs h ON h.s = g.s AND h.w = g.w AND h.t = 1),
       |${hopB("w1", 2)},
       |${hopB("w2", 3)},
       |${hopB("w3", 4)}
       |SELECT s, CAST(w AS BIGINT) AS w, path,
       |  CAST(len(list_distinct(string_split(path, '-'))) AS BIGINT)
       |    AS n_distinct
       |FROM w4 ORDER BY s, w""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_deepwalk_corpus" -> (q167_deepwalk_corpus _),
    "q223_node2vec_walks" -> (q223_node2vec_walks _))

  override val oracle: Map[String, String] = Map(
    "q167_deepwalk_corpus" -> walksOracle,
    "q223_node2vec_walks" -> node2vecOracle)
}
