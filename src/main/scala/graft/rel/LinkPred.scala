package graft.rel

import graft.{Memo, Pins, Tables}
import graft.functions.{SharedLn, SharedLnUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Graph analytics over the supplier co-occurrence graph, part 3 (after
  * q138/q145/q148/q166/q167): link prediction and the degree-law fit —
  * the graph-side profiling a curation platform runs on entity/citation
  * graphs before using them for retrieval or sampling.
  *
  * q191 — Adamic-Adar link prediction (Adamic & Adar 2003; the standard
  * common-neighbor baseline of Liben-Nowell & Kleinberg 2003): for
  * non-adjacent pairs at distance 2, score Σ_v 1/ln(deg v) over common
  * neighbors v. Integerized per CENTER: each wedge contributes
  * 10⁹ div round(10⁶·ln deg_v) (a floor-divided reciprocal micro-nat —
  * wedge centers have deg ≥ 2 so the divisor is ≥ ln 2·10⁶, never 0),
  * and the pair score is an exact BIGINT sum — summation-order-proof,
  * like q183's RRF.
  *
  * q192 — discrete power-law MLE for the degree distribution (Clauset,
  * Shalizi & Newman 2009's α̂ = 1 + n/Σ ln(dᵢ/d_min), the continuous
  * approximation): the sum runs in micro-nats over the DEGREE TABLE
  * (node-cardinality, not edges), and α̂ emits in milli units by floor
  * division.
  *
  * Scale: wedges are the only super-linear object — bounded by Σ deg²
  * of the BUDGETED graph (see [[LinkPred.EdgeBudget]]: top-K edges by
  * weight, so the wedge bound is a constant of the budget, not of the
  * corpus), generated by one self-join of the adjacency keyed by
  * center. Degrees/fits are catalog-sized. q192 fits the q145/q148
  * MinCoOrders graph, the one the other graph kernels share. */
object LinkPred extends graft.QueryModule {
  private val TopK = 20
  /** Fixed edge BUDGET (top pairs by co-order weight, deterministic
    * (w desc, sa, sb) order): a threshold constant can't serve two
    * corpus scales (measured: MinCoOrders ≥ 14 leaves sf0.1 with zero
    * edges while ≤ 10 leaves sf0.01 with zero non-adjacent wedges), but
    * a budget decouples graph size from corpus size — the 100 TB
    * posture: the prediction graph is a bounded-heap top-K at any
    * scale, never corpus-coupled. */
  private val EdgeBudget = 4000

  /** The budgeted co-occurrence graph (sa < sb), pinned by `pins`. */
  private def budgetEdges(pins: Pins, s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    pins.pin(li.alias("a").join(li.alias("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("sa"), col("b.sk").as("sb"))
      .agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("sa"), col("sb"))
      .limit(EdgeBudget)
      .select(col("sa"), col("sb"))) // three consumers (two wedge legs + anti probe)
  }

  def q191_link_prediction(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val edges = budgetEdges(pins, s, dir)
    val lnd = Triangles.degreesOf(edges)
      .selectExpr("n AS v",
        // shared ln (r18 verdict item 4): the micro-nat is DEFINED by the
        // engine-neutral formula, so the gate has no libm knife edge
        "CAST(round(1000000.0 * ln_shared(deg)) AS BIGINT) AS lnd")
    val bidir = edges.select(col("sa").as("v"), col("sb").as("u"))
      .unionByName(edges.select(col("sb").as("v"), col("sa").as("u")))
    val wedges = bidir.alias("l")
      .join(bidir.select(col("v"), col("u").as("w")).alias("r"), Seq("v"))
      .filter(col("u") < col("w"))
      .join(lnd, Seq("v"))
      .selectExpr("u", "w", "1000000000 div lnd AS contrib")
    wedges
      .join(edges, wedges("u") === edges("sa") && wedges("w") === edges("sb"),
        "left_anti")
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"), sum(col("contrib")).as("aa_u"))
      .orderBy(col("aa_u").desc, col("u"), col("w"))
      .limit(TopK)
      .orderBy(col("u"), col("w"))
      .localCheckpoint() // TopK rows, pinned before the scope releases the edges
  }

  /** Shared sparsified-edge CTEs (the q145/q167 graph). */
  private lazy val EdgeCtes: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |edges AS (SELECT a.sk AS sa, b.sk AS sb
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= ${Triangles.MinCoOrders}),
       |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT sa AS n FROM edges UNION ALL SELECT sb FROM edges)
       |  GROUP BY n)""".stripMargin

  private lazy val BudgetCtes: String =
    s"""li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |pw AS (SELECT a.sk AS sa, b.sk AS sb, COUNT(*) AS w
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2),
       |edges AS (SELECT sa, sb FROM pw
       |  ORDER BY w DESC, sa, sb LIMIT $EdgeBudget),
       |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT sa AS n FROM edges UNION ALL SELECT sb FROM edges)
       |  GROUP BY n)""".stripMargin

  private lazy val linkPredOracle: String =
    s"""WITH $BudgetCtes,
       |lnd AS (SELECT n AS v, ${SharedLn.microSql("__lnd")} AS lnd
       |  FROM (${SharedLn.oracleLn("deg", Seq("n"), Seq(("__lnd", "deg")))})),
       |bidir AS (SELECT sa AS v, sb AS u FROM edges
       |  UNION ALL SELECT sb, sa FROM edges),
       |wedges AS (SELECT l.u AS u, r.u AS w,
       |    1000000000 // lnd.lnd AS contrib
       |  FROM bidir l JOIN bidir r ON l.v = r.v AND l.u < r.u
       |  JOIN lnd ON lnd.v = l.v),
       |cand AS (SELECT u, w, CAST(COUNT(*) AS BIGINT) AS cn,
       |    CAST(SUM(contrib) AS BIGINT) AS aa_u
       |  FROM wedges wg
       |  WHERE NOT EXISTS (SELECT 1 FROM edges e
       |    WHERE e.sa = wg.u AND e.sb = wg.w)
       |  GROUP BY u, w),
       |top AS (SELECT * FROM cand ORDER BY aa_u DESC, u, w LIMIT $TopK)
       |SELECT u, w, cn, aa_u FROM top ORDER BY u, w""".stripMargin

  // --------------------------------------------- q201 distance profile
  /** Max recorded hop distance — the oracle unrolls exactly this many
    * BFS closure rounds, so both engines share the "within
    * [[MaxDist]] hops" semantics whether or not the graph converges
    * sooner (measured diameters: 2 at sf0.01, 7 at sf0.1). */
  private val MaxDist = 8

  /** Hop-distance profile + effective diameter (q201) of the budgeted
    * co-occurrence graph — the neighborhood-function summary (the exact
    * small-graph form of what HyperANF approximates at web scale:
    * Boldi, Rosa & Vigna WWW 2011; avg distance / effective-diameter
    * definitions per Palmer et al. KDD 2002's ANF): all-pairs shortest
    * hop counts by a BFS from every node of the collected adjacency
    * ([[distanceHistogramDriver]]), first discovery = shortest distance
    * (unweighted BFS invariant), with a `converged` flag (no pair at
    * distance exactly [[MaxDist]] — the oracle derives the same flag as
    * r8 == r7). Output: one row per distance with exact pair counts,
    * cumulative ECDF, the 90 % effective diameter (min d with
    * 10·cum ≥ 9·reachable), and the exact mean-distance milli units
    * ((1000·Σ d·n_d) div reachable).
    *
    * Scale shape: the graph is a top-[[EdgeBudget]] BUDGET, a
    * corpus-independent constant, so nodes ≤ 2·[[EdgeBudget]] and the
    * pair closure is ≤ (2·budget)² regardless of corpus size (the 100 TB
    * posture inherited from q191: the corpus only contributes edge
    * weights through one aggregate). The BFS therefore runs on the
    * driver, guarded by [[DriverClosureCap]]; q239 is the register-merge
    * form for graphs whose closure is too big — same output schema,
    * approximate counts. */
  def q201_distance_histogram(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    distanceHistogramDriver(s, budgetEdges(pins, s, dir))
  }

  /** Edge cap of the driver kernels ([[distanceHistogramDriver]],
    * [[anfNsDriver]]). Sized from COMPUTE, not just memory (ADVICE r19):
    * the all-sources BFS is O(V·(V+E)) and V ≤ 2E, so worst-case work ≈
    * 2E·3E = 6E² integer ops — at the former 2²⁰-edge memory-derived cap
    * that is ~6·10¹², a silent driver hang if EdgeBudget were ever raised
    * near it. 2¹³ edges bound the kernel at ~4·10⁸ ops (sub-second on one
    * core) while staying 2× above [[EdgeBudget]]. Each kernel re-asserts
    * the bound on the ACTUAL collected graph, so raising the budget past
    * it fails loudly instead of hanging. */
  private[graft] val DriverClosureCap = 1 << 13

  /** Exact all-pairs hop histogram of a SMALL edge list
    * (≤ [[DriverClosureCap]] edges). BFS from every node over an
    * adjacency map, depths capped at [[MaxDist]]; emits q201's schema. */
  private[graft] def distanceHistogramDriver(s: SparkSession,
      edges: DataFrame): DataFrame = {
    import scala.collection.mutable
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    // compute-bound guard (ADVICE r19): V·(V+E) must stay affordable on
    // one driver core — with V ≤ 2E and E ≤ DriverClosureCap (2¹³) this
    // is ≤ ~4·10⁸ integer ops. Fail loudly on a graph the cap's sizing
    // never contemplated rather than hang the driver.
    require(es.length <= DriverClosureCap,
      s"driver BFS kernel got ${es.length} edges, past its compute cap " +
        s"$DriverClosureCap; it serves only the $EdgeBudget-edge budget graph")
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val nodes = adj.keys.toArray.sorted
    val nNodes = nodes.length.toLong
    val histPairs = new Array[Long](MaxDist + 1)
    val distOf = mutable.HashMap.empty[Long, Int]
    val queue = mutable.ArrayDeque.empty[Long]
    nodes.foreach { src =>
      distOf.clear(); queue.clear()
      distOf(src) = 0; queue += src
      while (queue.nonEmpty) {
        val v = queue.removeHead()
        val dv = distOf(v)
        if (dv < MaxDist) adj(v).foreach { w =>
          if (!distOf.contains(w)) {
            distOf(w) = dv + 1
            queue += w
          }
        }
      }
      // count each unordered pair once, from its smaller endpoint
      distOf.foreach { case (w, dw) =>
        if (dw >= 1 && src < w) histPairs(dw) += 1
      }
    }
    // converged ⇔ the pair frontier emptied by round MaxDist ⇔ no pair
    // sits at distance exactly MaxDist (the oracle's r8 == r7)
    val converged = histPairs(MaxDist) == 0L
    val present = (1 to MaxDist).filter(histPairs(_) > 0L)
    val reachable = present.map(histPairs(_)).sum
    val dsum = present.map(d => d.toLong * histPairs(d)).sum
    var cum = 0L
    val cums = present.map { d => cum += histPairs(d); d -> cum }.toMap
    val effDiam = present.find(d => cums(d) * 10 >= reachable * 9)
      .getOrElse(0)
    val avgMilli = (1000L * dsum) / math.max(reachable, 1L)
    val rows = present.map { d =>
      (d, histPairs(d), cums(d), nNodes, nNodes * (nNodes - 1L) / 2L,
        reachable, effDiam, avgMilli, converged)
    }
    import s.implicits._
    rows.toDF("dist", "n_pairs", "cum_pairs", "n_nodes", "total_pairs",
      "reachable_pairs", "eff_diam_p90", "avg_dist_milli", "converged")
      .orderBy(col("dist"))
  }

  private lazy val distanceOracle: String = {
    // unrolled BFS closure: r_k = pairs within k hops (UNION dedups);
    // first-discovery distance recovered as MIN over the tagged rounds.
    // AS MATERIALIZED is load-bearing: each r_k is referenced twice, so
    // DuckDB's default CTE inlining would expand the chain 2^MaxDist
    // times (measured: minutes inlined, 0.8 s materialized)
    val rounds = (2 to MaxDist).map { k =>
      s"""r$k AS MATERIALIZED (SELECT a, b FROM r${k - 1}
         |  UNION
         |  SELECT p.a, e.b FROM r${k - 1} p JOIN r1 e ON p.b = e.a
         |  WHERE e.b <> p.a)""".stripMargin
    }.mkString(",\n")
    val tagged = (1 to MaxDist)
      .map(k => s"SELECT a, b, $k AS d FROM r$k")
      .mkString(" UNION ALL ")
    s"""WITH $BudgetCtes,
       |r1 AS MATERIALIZED (SELECT sa AS a, sb AS b FROM edges
       |  UNION SELECT sb, sa FROM edges),
       |$rounds,
       |dmin AS (SELECT a, b, CAST(MIN(d) AS INTEGER) AS dist
       |  FROM ($tagged) GROUP BY a, b),
       |nn AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS n_nodes FROM r1),
       |conv AS (SELECT (SELECT COUNT(*) FROM r$MaxDist) =
       |    (SELECT COUNT(*) FROM r${MaxDist - 1}) AS converged),
       |hist AS (SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM dmin WHERE a < b GROUP BY dist),
       |h2 AS (SELECT *, CAST(SUM(n_pairs) OVER (ORDER BY dist
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs FROM hist),
       |summ AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS reachable_pairs,
       |    CAST(SUM(dist * n_pairs) AS BIGINT) AS dsum FROM h2),
       |eff AS (SELECT MIN(CASE WHEN cum_pairs * 10 >=
       |      reachable_pairs * 9 THEN dist END) AS eff_diam_p90
       |  FROM h2 CROSS JOIN summ)
       |SELECT dist, n_pairs, cum_pairs, n_nodes,
       |  n_nodes * (n_nodes - 1) // 2 AS total_pairs,
       |  reachable_pairs, eff_diam_p90,
       |  (1000 * dsum) // reachable_pairs AS avg_dist_milli, converged
       |FROM h2 CROSS JOIN summ CROSS JOIN eff CROSS JOIN nn
       |CROSS JOIN conv ORDER BY dist""".stripMargin
  }

  def q192_powerlaw_fit(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val deg = Triangles.degreesOf(Triangles.significantEdges(pins, s, dir))
    val base = deg.agg(min(col("deg")).as("dmin"))
    deg.crossJoin(broadcast(base))
      .selectExpr("deg", "dmin",
        "CAST(round(1000000.0 * ln_shared(deg)) AS BIGINT) - " +
          "CAST(round(1000000.0 * ln_shared(dmin)) AS BIGINT) AS dl")
      .agg(count(lit(1)).as("n_nodes"), max(col("dmin")).as("dmin"),
        max(col("deg")).as("dmax"),
        sum(when(col("deg") === col("dmin"), 1L).otherwise(0L))
          .as("n_at_dmin"),
        sum(col("dl")).as("denom_u"))
      .selectExpr("n_nodes", "dmin", "dmax", "n_at_dmin", "denom_u",
        "CASE WHEN denom_u = 0 THEN NULL ELSE " +
          "1000 + (1000 * n_nodes * 1000000) div denom_u END AS alpha_milli")
      .localCheckpoint() // one row, pinned before the scope releases the edges
  }

  private lazy val powerlawOracle: String =
    s"""WITH $EdgeCtes,
       |base AS (SELECT MIN(deg) AS dmin FROM deg),
       |dl AS (SELECT deg, dmin,
       |    ${SharedLn.microSql("__l1")} - ${SharedLn.microSql("__l2")} AS dl
       |  FROM (${SharedLn.oracleLn("(SELECT deg, dmin FROM deg CROSS JOIN base)",
            Seq("deg", "dmin"), Seq(("__l1", "deg"), ("__l2", "dmin")))})),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    MAX(dmin) AS dmin, MAX(deg) AS dmax,
       |    CAST(SUM(CASE WHEN deg = dmin THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_at_dmin,
       |    CAST(SUM(dl) AS BIGINT) AS denom_u
       |  FROM dl)
       |SELECT n_nodes, dmin, dmax, n_at_dmin, denom_u,
       |  CASE WHEN denom_u = 0 THEN NULL ELSE
       |    1000 + (1000 * n_nodes * 1000000) // denom_u END AS alpha_milli
       |FROM m""".stripMargin

  // ------------------------------------ q239 HyperANF distance profile
  // HLL parameters mirrored from ml.Hll's q219 ladder (p = 8, 256
  // registers): same α, same rho construction, same micro-nat linear
  // counting — the register machinery the verdict asked this swap to
  // stand on.
  private val AnfM = 256L
  private val AnfP = 8
  private val AnfMaxRho = 57L
  private val AnfAlphaMicro: Long =
    math.round(1e6 * 0.7213 / (1.0 + 1.079 / AnfM)) // 718273
  private val AnfNumer: BigInt =
    BigInt(AnfAlphaMicro) * AnfM * AnfM * (BigInt(1) << AnfMaxRho.toInt)
  private val AnfLnMMicro: Long = math.round(1e6 * SharedLnUtil.ln(AnfM))
  /** Envelope bound for the reachable-pairs estimate, permille — fixed
    * after measuring the real error at both SFs (sf0.01 and sf0.1
    * measured below 70‰; the bound leaves >2× margin against the
    * ~6.5 % theoretical RSE of a 256-register counter). */
  private val AnfReachBound = 150L

  /** The exact q201 histogram, collected once per session and
    * `lineitem.parquet` listing (the table q201's budget edges read)
    * through [[Memo]]: q239's contract columns consume the exact kernel
    * without re-running the pair-closure BFS per call. Rows: (dist,
    * n_pairs, cum_pairs, eff_diam_p90). */
  private[graft] def exactDistance(s: SparkSession, dir: String)
      : Seq[(Long, Long, Long, Long)] =
    Memo(s, dir, Seq("lineitem"), "q201")(
      q201_distance_histogram(s, dir)
        .select(col("dist").cast("long"), col("n_pairs"),
          col("cum_pairs"), col("eff_diam_p90").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq)

  /** HyperANF approximate distance profile (q239) — the register-merge
    * swap the q201 scaladoc promises for graphs whose pair closure
    * won't fit (Boldi, Rosa & Vigna, "HyperANF: approximating the
    * neighbourhood function of very large graphs", WWW 2011): each node
    * carries an HLL counter of its d-ball, one round max-merges every
    * neighbor's counter (registers are a max-semilattice, so the merge
    * is arrival-order- and shard-split-invariant — the q226 contract),
    * and the neighborhood function N(d) = Σ_v |B_d(v)| falls out of the
    * per-node estimates. State is nodes×256 BIGINT registers per round
    * — NOT pairs — which is the whole point: at web scale the exact
    * closure is |V|²-shaped while this is |V|·m.
    *
    * Everything is the house integer arithmetic, so the WHOLE fit
    * replays bit-for-bit in DuckDB (splitmix64 via HUGEINT limb mulmod,
    * rho = 57 − bitlen, per-node estimates as one integral division in
    * DECIMAL(38,0)/HUGEINT, micro-nat linear counting): the approximate
    * counts themselves are hash-gated, and the CONTRACT against the
    * exact q201 kernel (consumed through the session memo) is the
    * tolerance boolean — the q54-vs-q219 ladder pattern. N(d) is
    * monotonized with a running max exactly as Boldi et al. §4
    * prescribe (the lc→raw correction seam can dip), pair counts are
    * half-differences of the monotone N, and the effective diameter
    * uses q201's 10·cum ≥ 9·reach rule on the estimated ECDF.
    *
    * The register rounds run on the driver ([[anfNsDriver]]): the graph
    * is the same [[EdgeBudget]] budget as q201's, so its state is a
    * constant of the budget. Convergence probe: (register count, Σ mj) —
    * both monotone under max-merge, so equality round-over-round is
    * EXACT convergence (no fingerprint collision), and the loop exits
    * early; post-convergence rounds would be no-ops, so the padded N
    * tail equals the oracle's unconditionally-unrolled rounds. */
  def q239_distance_approx(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import s.implicits._
    // converged ⇔ some round up to the horizon changed nothing (the
    // oracle's regs8-vs-regs7 comparison)
    val (nsRaw, nNodes, converged) = anfNsDriver(s, budgetEdges(pins, s, dir))
    val ns = scala.collection.mutable.ArrayBuffer[Long](nsRaw: _*)
    // stable before the horizon ⇒ remaining rounds are no-ops: pad N
    while (ns.size < MaxDist + 1) ns += ns.last
    // monotonize (running max), then pair counts as half-differences
    val nMono = ns.scanLeft(Long.MinValue)(math.max).drop(1)
    val cumHat = (1 to MaxDist).map(k => (nMono(k) - nMono(0)) / 2L)
    val pairsHat = (1 to MaxDist)
      .map(k => cumHat(k - 1) - (if (k == 1) 0L else cumHat(k - 2)))
    val reachHat = cumHat.last
    val effHat = (1 to MaxDist)
      .find(k => 10L * cumHat(k - 1) >= 9L * reachHat)
      .map(_.toLong).getOrElse(-1L)
    // the exact q201 histogram, through the memo
    val exact = exactDistance(s, dir)
    val exactByDist = exact.map(t => t._1 -> (t._2, t._3)).toMap
    val reachExact = exact.map(_._3).max
    val effExact = exact.head._4
    val errPermille =
      (1000L * math.abs(reachHat - reachExact)) / math.max(reachExact, 1L)
    val within = errPermille <= AnfReachBound &&
      math.abs(effHat - effExact) <= 1L
    val rows = (1 to MaxDist).map { k =>
      val cumExact = exact.filter(_._1 <= k).map(_._3)
        .foldLeft(0L)(math.max)
      (k.toLong, pairsHat(k - 1), cumHat(k - 1),
        exactByDist.get(k.toLong).map(_._1).getOrElse(0L), cumExact,
        nNodes, reachHat, reachExact, errPermille, effHat, effExact,
        within, converged)
    }
    rows.toDF("dist", "n_pairs_hat", "cum_pairs_hat", "n_pairs_exact",
      "cum_pairs_exact", "n_nodes", "reach_hat", "reach_exact",
      "reach_err_permille", "eff_diam_hat", "eff_diam_exact",
      "within_envelope", "converged")
      .orderBy(col("dist"))
  }

  /** The HyperANF register rounds of q239 over a SMALL edge list
    * (≤ [[DriverClosureCap]] edges): splitmix64 register init, max-merge
    * rounds, DECIMAL-exact per-node estimates and the (n_regs, Σmj)
    * convergence ladder, run over byte arrays on one core. Returns
    * (N-sequence up to convergence, node count, converged). Compute at
    * the cap: rounds·E·m ≈ 8·2¹³·2·256 ≈ 3·10⁷ byte maxes plus V·58
    * BigInt terms per stats pass — milliseconds. Every operation is
    * integer or IEEE-deterministic double (SharedLnUtil.ln is the
    * ln_shared kernel itself), so q239's DuckDB oracle replays it
    * exactly. */
  private[graft] def anfNsDriver(s: SparkSession, edges: DataFrame)
      : (Seq[Long], Long, Boolean) = {
    val m = AnfM.toInt
    val es = edges.select(col("sa"), col("sb")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(es.length <= DriverClosureCap,
      s"driver ANF kernel got ${es.length} edges, past its compute cap " +
        s"$DriverClosureCap; it serves only the $EdgeBudget-edge budget graph")
    val bidir = es ++ es.map(e => (e._2, e._1)) // (receiver, owner)
    val nodes = bidir.map(_._1).distinct
    val nV = nodes.length
    val idx = nodes.zipWithIndex.toMap
    val nbrs = Array.fill(nV)(scala.collection.mutable.ArrayBuffer.empty[Int])
    bidir.foreach { case (a, b) => nbrs(idx(a)) += idx(b) }
    val regs = Array.ofDim[Byte](nV, m)
    var i = 0
    while (i < nV) {
      val h = SplitMix64Kernel.mix(nodes(i))
      val bucket = (((h % AnfM) + AnfM) % AnfM).toInt // pmod(h, 256)
      val w = h >>> AnfP
      val mj = // 57 − length(bin(w)): bin(w>0) has 64 − nlz(w) digits
        if (w == 0L) AnfMaxRho
        else AnfMaxRho - (64L - java.lang.Long.numberOfLeadingZeros(w))
      regs(i)(bucket) = mj.toByte
      i += 1
    }
    // (Σ present, Σ mj, Σ per-node est) with s_dec built from an mj
    // histogram (≤57 BigInt terms per node, exact)
    def stats(rg: Array[Array[Byte]]): (Long, Long, Long) = {
      var nRegs = 0L; var sumMj = 0L; var nHat = 0L
      var v = 0
      while (v < nV) {
        val row = rg(v)
        val cnt = new Array[Int](AnfMaxRho.toInt + 1)
        var np = 0L; var smj = 0L
        var b = 0
        while (b < m) {
          val x = row(b)
          if (x > 0) { np += 1L; smj += x; cnt(x) += 1 }
          b += 1
        }
        var sDec = BigInt(AnfM - np) << AnfMaxRho.toInt
        var j = 1
        while (j <= AnfMaxRho.toInt) {
          if (cnt(j) > 0) sDec += BigInt(cnt(j)) << (AnfMaxRho.toInt - j)
          j += 1
        }
        val rawEst = (AnfNumer / (BigInt(1000000) * sDec)).toLong
        val vz = AnfM - np
        val est =
          if (vz > 0L && rawEst * 2 <= 5L * AnfM)
            (AnfM * (AnfLnMMicro -
              math.round(1000000.0 * SharedLnUtil.ln(vz)))) / 1000000L
          else rawEst
        nRegs += np; sumMj += smj; nHat += est
        v += 1
      }
      (nRegs, sumMj, nHat)
    }
    val (nr0, sm0, nh0) = stats(regs)
    val nNodes = nr0 // one register per node at d = 0
    var prev = (nr0, sm0)
    val ns = scala.collection.mutable.ArrayBuffer[Long](nh0)
    var converged = false
    var d = 0
    var cur = regs
    while (!converged && d < MaxDist) {
      val next = Array.ofDim[Byte](nV, m)
      var v = 0
      while (v < nV) {
        System.arraycopy(cur(v), 0, next(v), 0, m)
        val out = next(v)
        nbrs(v).foreach { u =>
          val src = cur(u)
          var b = 0
          while (b < m) { if (src(b) > out(b)) out(b) = src(b); b += 1 }
        }
        v += 1
      }
      val (nr, sm, nh) = stats(next)
      d += 1
      if ((nr, sm) == prev) converged = true
      else { ns += nh; cur = next; prev = (nr, sm) }
    }
    (ns.toSeq, nNodes, converged)
  }

  private lazy val distanceApproxOracle: String = {
    // exact closure: the distanceOracle CTE text (AS MATERIALIZED is
    // load-bearing — see that oracle's comment)
    val rounds = (2 to MaxDist).map { k =>
      s"""r$k AS MATERIALIZED (SELECT a, b FROM r${k - 1}
         |  UNION
         |  SELECT p.a, e.b FROM r${k - 1} p JOIN r1 e ON p.b = e.a
         |  WHERE e.b <> p.a)""".stripMargin
    }.mkString(",\n")
    val tagged = (1 to MaxDist)
      .map(k => s"SELECT a, b, $k AS d FROM r$k")
      .mkString(" UNION ALL ")
    // register fixpoint: splitmix64 seeds (the mergeOracle limb chain),
    // then MaxDist unconditional max-merge rounds
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    def mulmod(x: String, c: BigInt): String = {
      val base = BigInt(4294967296L)
      val lo = c % base
      val hi = c / base
      s"((($x % 4294967296) * $lo + " +
        s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
        s" * 4294967296) % 18446744073709551616)"
    }
    val m2 = mulmod("x1", BigInt("13787848793156543929"))
    val m3 = mulmod("x2", BigInt("10723151780598845931"))
    val regRounds = (1 to MaxDist).map { k =>
      s"""regs$k AS MATERIALIZED (SELECT v, bucket,
         |    CAST(MAX(mj) AS BIGINT) AS mj FROM (
         |    SELECT v, bucket, mj FROM regs${k - 1}
         |    UNION ALL
         |    SELECT e.a AS v, r.bucket, r.mj
         |    FROM r1 e JOIN regs${k - 1} r ON r.v = e.b)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    // per-round neighborhood function: per-node estimate (no 256-grid —
    // absent-bucket harmonic mass added arithmetically), summed exact
    def nOf(k: Int): String = {
      val inner =
        s"""(SELECT $AnfM - COUNT(*) AS vz,
           |      CAST(CAST('$AnfNumer' AS HUGEINT) // (1000000 *
           |        (SUM(CAST(1 AS HUGEINT) <<
           |           CAST($AnfMaxRho - mj AS INT)) +
           |         ($AnfM - COUNT(*)) *
           |           (CAST(1 AS HUGEINT) << $AnfMaxRho))) AS BIGINT) AS raw
           |    FROM regs$k GROUP BY v)""".stripMargin
      s"""(SELECT CAST(SUM(CASE WHEN vz > 0 AND raw * 2 <= ${5 * AnfM}
         |    THEN ($AnfM * ($AnfLnMMicro -
         |      ${SharedLn.microSql("__lnvz")})) // 1000000
         |    ELSE raw END) AS BIGINT)
         |  FROM (${SharedLn.oracleLn(inner, Seq("vz", "raw"),
                Seq(("__lnvz", "vz")))}))""".stripMargin
    }
    val ndUnion = (0 to MaxDist)
      .map(k => s"SELECT $k AS d, ${nOf(k)} AS n")
      .mkString("\nUNION ALL\n")
    s"""WITH $BudgetCtes,
       |r1 AS MATERIALIZED (SELECT sa AS a, sb AS b FROM edges
       |  UNION SELECT sb, sa FROM edges),
       |$rounds,
       |nodes AS (SELECT DISTINCT a AS v FROM r1),
       |z0 AS (SELECT v, CAST(v AS HUGEINT) AS z FROM nodes),
       |s1 AS (SELECT v, $z1 AS z1 FROM z0),
       |s2 AS (SELECT v, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT v, $m2 AS z2 FROM s2),
       |s4 AS (SELECT v, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT v, $m3 AS z3 FROM s4),
       |s6 AS (SELECT v, xor(z3, z3 // 2147483648) AS h FROM s5),
       |regs0 AS MATERIALIZED (SELECT v, CAST(h % $AnfM AS BIGINT) AS bucket,
       |    CAST(CASE WHEN h // $AnfM = 0 THEN $AnfMaxRho
       |      ELSE $AnfMaxRho - length(bin(CAST(h // $AnfM AS BIGINT)))
       |      END AS BIGINT) AS mj
       |  FROM s6),
       |$regRounds,
       |nd AS ($ndUnion),
       |nm AS (SELECT d, CAST(MAX(n) OVER (ORDER BY d
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nmono FROM nd),
       |base AS (SELECT nmono AS n0 FROM nm WHERE d = 0),
       |ch AS (SELECT d, CAST((nmono - n0) // 2 AS BIGINT) AS cum_hat
       |  FROM nm CROSS JOIN base WHERE d >= 1),
       |ph AS (SELECT d, cum_hat, CAST(cum_hat -
       |    COALESCE(LAG(cum_hat) OVER (ORDER BY d), 0) AS BIGINT)
       |    AS n_pairs_hat FROM ch),
       |rh AS (SELECT CAST(MAX(CASE WHEN d = $MaxDist THEN cum_hat END)
       |    AS BIGINT) AS reach_hat FROM ch),
       |eh AS (SELECT CAST(COALESCE(MIN(CASE WHEN cum_hat * 10 >=
       |      reach_hat * 9 THEN d END), -1) AS BIGINT) AS eff_diam_hat
       |  FROM ch CROSS JOIN rh),
       |dmin AS (SELECT a, b, CAST(MIN(d) AS INTEGER) AS dist
       |  FROM ($tagged) GROUP BY a, b),
       |nn AS (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS n_nodes FROM r1),
       |hist AS (SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM dmin WHERE a < b GROUP BY dist),
       |h2 AS (SELECT *, CAST(SUM(n_pairs) OVER (ORDER BY dist
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs FROM hist),
       |re AS (SELECT CAST(MAX(cum_pairs) AS BIGINT) AS reach_exact FROM h2),
       |ee AS (SELECT CAST(MIN(CASE WHEN cum_pairs * 10 >=
       |      reach_exact * 9 THEN dist END) AS BIGINT) AS eff_diam_exact
       |  FROM h2 CROSS JOIN re),
       |err AS (SELECT CAST((1000 * abs(rh.reach_hat - re.reach_exact)) //
       |    GREATEST(re.reach_exact, 1) AS BIGINT) AS reach_err_permille
       |  FROM rh CROSS JOIN re),
       |wi AS (SELECT (err.reach_err_permille <= $AnfReachBound AND
       |    abs(eh.eff_diam_hat - ee.eff_diam_exact) <= 1)
       |    AS within_envelope
       |  FROM err CROSS JOIN eh CROSS JOIN ee),
       |conv AS (SELECT
       |    (SELECT COUNT(*) FROM regs$MaxDist) =
       |      (SELECT COUNT(*) FROM regs${MaxDist - 1})
       |    AND (SELECT SUM(mj) FROM regs$MaxDist) =
       |      (SELECT SUM(mj) FROM regs${MaxDist - 1}) AS converged),
       |grid AS (SELECT CAST(unnest(range(1, ${MaxDist + 1})) AS BIGINT) AS d)
       |SELECT g.d AS dist, ph.n_pairs_hat, ph.cum_hat AS cum_pairs_hat,
       |  CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs_exact,
       |  CAST(COALESCE((SELECT MAX(h2b.cum_pairs) FROM h2 h2b
       |    WHERE h2b.dist <= g.d), 0) AS BIGINT) AS cum_pairs_exact,
       |  nn.n_nodes, rh.reach_hat, re.reach_exact,
       |  err.reach_err_permille, eh.eff_diam_hat, ee.eff_diam_exact,
       |  wi.within_envelope, conv.converged
       |FROM grid g
       |JOIN ph ON ph.d = g.d
       |LEFT JOIN hist h ON h.dist = g.d
       |CROSS JOIN nn CROSS JOIN rh CROSS JOIN re CROSS JOIN err
       |CROSS JOIN eh CROSS JOIN ee CROSS JOIN wi CROSS JOIN conv
       |ORDER BY dist""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_link_prediction" -> (q191_link_prediction _),
    "q192_powerlaw_fit" -> (q192_powerlaw_fit _),
    "q201_distance_histogram" -> (q201_distance_histogram _),
    "q239_distance_approx" -> (q239_distance_approx _))

  override val oracle: Map[String, String] = Map(
    "q191_link_prediction" -> linkPredOracle,
    "q192_powerlaw_fit" -> powerlawOracle,
    "q201_distance_histogram" -> distanceOracle,
    "q239_distance_approx" -> distanceApproxOracle)
}
