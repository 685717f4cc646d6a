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
    * hop counts via simultaneous BFS — the symmetric pair frontier
    * expands one join per round with an anti-join against the reached
    * set, first discovery = shortest distance (unweighted BFS
    * invariant), with the loop exiting as soon as a frontier empties
    * (a frontier-count job per round) and a gated
    * `converged` flag (frontier empty by round [[MaxDist]] — the oracle
    * derives the same flag as r8 == r7). Output: one row per distance
    * with exact pair counts, cumulative ECDF, the 90 % effective
    * diameter (min d with 10·cum ≥ 9·reachable), and the exact
    * mean-distance milli units ((1000·Σ d·n_d) div reachable).
    *
    * Scale shape: every loop frame is GRAPH-bounded, not corpus-bounded
    * — nodes ≤ 2·[[EdgeBudget]] by construction, so the pair closure is
    * ≤ (2·budget)² regardless of corpus size (the 100 TB posture
    * inherited from q191: the corpus only contributes edge weights
    * through one aggregate). Web-scale graphs where the closure itself
    * is too big swap this exact kernel for the HyperANF register-merge —
    * same output schema, approximate counts. Loop checkpoints
    * pin-and-release.
    *
    * ADAPTIVE kernel (r18 verdict item 2, the componentsAdaptive
    * pattern at Similarity's union-find): because the edge list is a
    * top-K BUDGET — a corpus-independent constant — the closure is a
    * constant-size object, and below [[DriverClosureCap]] edges the
    * all-pairs BFS runs as a driver kernel over the collected adjacency
    * (O(V·E) ≤ 8000·8000 integer ops — microseconds against the ~7
    * sequential shuffle barriers the distributed fixpoint pays). The
    * distributed pair-frontier fixpoint remains the above-cap path for
    * an unbudgeted graph and is asserted BIT-IDENTICAL to the driver
    * kernel by LinkPredSpec on both testdata graphs. */
  def q201_distance_histogram(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    val edges = budgetEdges(pins, s, dir)
    if (EdgeBudget <= DriverClosureCap) distanceHistogramDriver(s, edges)
    else distanceHistogramDistributed(s, edges)
  }

  /** Edge cap under which the pair-closure BFS runs driver-side. Sized
    * from COMPUTE, not just memory (ADVICE r19): the all-sources BFS is
    * O(V·(V+E)) and V ≤ 2E, so worst-case work ≈ 2E·3E = 6E² integer
    * ops — at the former 2²⁰-edge memory-derived cap that is ~6·10¹²,
    * a silent driver hang if EdgeBudget were ever raised near it. 2¹³
    * edges bound the kernel at ~4·10⁸ ops (sub-second on one core)
    * while staying 2× above any plausible EdgeBudget raise; past it the
    * distributed pair-frontier fixpoint takes over.
    * [[distanceHistogramDriver]] re-asserts the bound on the ACTUAL
    * collected graph, so a misuse fails loudly instead of hanging. */
  private val DriverClosureCap = 1 << 13

  /** Driver kernel: exact all-pairs hop histogram of a SMALL edge list
    * (≤ [[DriverClosureCap]] edges — callers guarantee it). BFS from
    * every node over an adjacency map, depths capped at [[MaxDist]];
    * emits the identical schema and integer algebra as the distributed
    * kernel. */
  private[graft] def distanceHistogramDriver(s: SparkSession,
      edges: DataFrame): DataFrame = {
    import scala.collection.mutable
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    // compute-bound guard (ADVICE r19): V·(V+E) must stay affordable on
    // one driver core — with V ≤ 2E and E ≤ DriverClosureCap (2¹³) this
    // is ≤ ~4·10⁸ integer ops. Fail loudly on a graph the cap's sizing
    // never contemplated rather than hang the driver.
    require(es.length <= DriverClosureCap,
      s"driver BFS kernel got ${es.length} edges (> $DriverClosureCap); " +
        "use distanceHistogramDistributed for unbudgeted graphs")
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

  /** Distributed kernel: the pair-frontier fixpoint (one exchange + one
    * probe job per BFS round; min-dist aggregate = first discovery). */
  private[graft] def distanceHistogramDistributed(s: SparkSession,
      edges: DataFrame): DataFrame = Pins.scoped { pins =>
    import org.apache.spark.sql.expressions.Window
    val bidir = pins.pin(edges.select(col("sa").as("a"), col("sb").as("b"))
      .unionByName(edges.select(col("sb").as("a"), col("sa").as("b"))))
    var reached = pins.pin(bidir.withColumn("dist", lit(1)))
    var frontier = reached
    var converged = false
    var d = 1
    while (!converged && d < MaxDist) {
      d += 1
      // ONE exchange per round: the budget-bounded adjacency broadcasts
      // into the expansion, and candidate-dedup + already-reached
      // suppression + the running union collapse into a single
      // min-dist aggregate (a candidate that was reached earlier keeps
      // its smaller dist — the BFS first-discovery invariant as
      // arithmetic). The lazy checkpoint materializes under the
      // frontier-count probe job.
      val expanded = frontier.select(col("a"), col("b").as("m"))
        .join(broadcast(bidir.select(col("a").as("m"), col("b").as("c"))),
          Seq("m"))
        .filter(col("c") =!= col("a"))
        .select(col("a"), col("c").as("b"), lit(d).as("dist"))
      val merged = pins.pin(reached.unionByName(expanded)
        .groupBy(col("a"), col("b")).agg(min(col("dist")).as("dist")), eager = false)
      val newPairs = merged.filter(col("dist") === d).count()
      if (newPairs == 0L) converged = true
      else {
        frontier = merged.filter(col("dist") === d)
        reached = merged
      }
    }
    val nNodes = bidir.select(col("a")).distinct().count()
    val hist = reached.filter(col("a") < col("b"))
      .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
    // the remaining algebra runs on ≤ MaxDist rows — catalog-sized, the
    // single-partition global window is deliberate
    val wCum = Window.orderBy(col("dist"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val h2 = hist.withColumn("cum_pairs", sum(col("n_pairs")).over(wCum))
    val summ = h2.agg(sum(col("n_pairs")).as("reachable_pairs"),
      sum(col("dist") * col("n_pairs")).as("dsum"))
    val h3 = h2.crossJoin(broadcast(summ))
    val eff = h3.agg(min(when(col("cum_pairs") * 10 >=
      col("reachable_pairs") * 9, col("dist"))).as("eff_diam_p90"))
    h3.crossJoin(broadcast(eff))
      .select(col("dist"), col("n_pairs"), col("cum_pairs"),
        lit(nNodes).as("n_nodes"),
        lit(nNodes * (nNodes - 1L) / 2L).as("total_pairs"),
        col("reachable_pairs"), col("eff_diam_p90"),
        expr("(1000 * dsum) div reachable_pairs").as("avg_dist_milli"),
        lit(converged).as("converged"))
      .orderBy(col("dist"))
      .localCheckpoint() // pinned before the scope releases the loop's pins
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

  /** Per-node counter estimate + exact convergence stats of a register
    * table (v, bucket, mj): one aggregation pass. No 256-grid join —
    * present buckets always carry mj ≥ 1, so v_zero = m − n_present
    * and the absent harmonic mass is (m − n_present)·2^57 added in
    * DECIMAL(38,0). Returns one row (n_regs, sum_mj, n_hat): the first
    * two are an EXACT convergence probe (registers form a monotone
    * lattice — any change strictly increases register count or Σmj, so
    * equality is convergence, no fingerprint collision risk). */
  private def anfStats(regs: DataFrame): DataFrame = anfStatsBy(regs, Nil)

  /** The same one-pass stats, grouped by `keys` — the paired-round loop
    * tags two register states and reads BOTH rounds' stats from one job
    * (r18 verdict item 2: the stats probe was the per-round barrier). */
  private def anfStatsBy(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy((keys :+ "v").map(col): _*)
      .agg(count(lit(1)).as("np"), sum(col("mj")).as("smj"),
        sum(expr(s"CAST(shiftleft(1L, CAST($AnfMaxRho - mj AS INT)) " +
          "AS DECIMAL(38,0))")).as("sp"))
      .withColumn("s_dec",
        col("sp") + expr(s"CAST($AnfM - np AS DECIMAL(38,0)) * " +
          s"CAST(${BigInt(1) << AnfMaxRho.toInt} AS DECIMAL(38,0))"))
      .withColumn("raw_est", expr(
        s"CAST(CAST('$AnfNumer' AS DECIMAL(38,0)) " +
          "div (CAST(1000000 AS DECIMAL(38,0)) * s_dec) AS BIGINT)"))
      .withColumn("vz", lit(AnfM) - col("np"))
      .withColumn("est",
        when(col("vz") > 0L && col("raw_est") * 2 <= lit(5L * AnfM),
          expr(s"($AnfM * ($AnfLnMMicro - " +
            "CAST(round(1000000.0 * ln_shared(vz)) AS BIGINT))) div 1000000"))
          .otherwise(col("raw_est")))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("np")).as("n_regs"), sum(col("smj")).as("sum_mj"),
        sum(col("est")).as("n_hat"))

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
    * Convergence probe: (register count, Σ mj) — both monotone under
    * max-merge, so equality round-over-round is EXACT convergence (no
    * fingerprint collision), and the loop early-exits with
    * pin-and-release like every fixpoint in this file; post-convergence
    * rounds would be no-ops, so the padded N tail equals the oracle's
    * unconditionally-unrolled rounds. */
  def q239_distance_approx(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import s.implicits._
    val edges = budgetEdges(pins, s, dir)
    // Budget-bounded register fixpoint path choice (r20) — the q201
    // componentsAdaptive discipline applied to the OTHER budgeted-graph
    // fixpoint in this file: EdgeBudget (4000) ≤ DriverClosureCap (2¹³)
    // selects the driver register kernel (anfNsDriver — every step is
    // integer or IEEE-deterministic, so it is bit-identical to the
    // distributed loop; LinkPredSpec asserts it on real budget edges and
    // synthetic graphs). The distributed loop (anfNsDistributed) remains
    // the above-cap path, unchanged. Before r20 the 8-round loop paid
    // ~5 sequential stats-job barriers — the whole wall cost of a
    // 4000-edge graph (q239 4.7 s official, taskTime 15 s on 32 cores).
    val (nsRaw, nNodes, converged) =
      if (EdgeBudget <= DriverClosureCap) anfNsDriver(s, edges)
      else anfNsDistributed(s, edges)
    val ns = scala.collection.mutable.ArrayBuffer[Long](nsRaw: _*)
    // stable before the horizon ⇒ remaining rounds are no-ops: pad N
    while (ns.size < MaxDist + 1) ns += ns.last
    // registers stable by the horizon ⇔ the last probed round changed
    // nothing (mirrors the oracle's regs8-vs-regs7 comparison)
    val horizonConverged = converged
    // monotonize (running max), then pair counts as half-differences
    val nMono = ns.scanLeft(Long.MinValue)(math.max).drop(1)
    val cumHat = (1 to MaxDist).map(k => (nMono(k) - nMono(0)) / 2L)
    val pairsHat = (1 to MaxDist)
      .map(k => cumHat(k - 1) - (if (k == 1) 0L else cumHat(k - 2)))
    val reachHat = cumHat.last
    val effHat = (1 to MaxDist)
      .find(k => 10L * cumHat(k - 1) >= 9L * reachHat)
      .map(_.toLong).getOrElse(-1L)
    // exact twin through the memo
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
        within, horizonConverged)
    }
    rows.toDF("dist", "n_pairs_hat", "cum_pairs_hat", "n_pairs_exact",
      "cum_pairs_exact", "n_nodes", "reach_hat", "reach_exact",
      "reach_err_permille", "eff_diam_hat", "eff_diam_exact",
      "within_envelope", "converged")
      .orderBy(col("dist"))
  }

  /** Driver-side twin of [[anfNsDistributed]] for the budget-bounded
    * (≤ [[DriverClosureCap]]-edge) graph: the identical splitmix64
    * register init, max-merge rounds, DECIMAL-exact per-node estimates
    * and (n_regs, Σmj) convergence ladder, run over byte arrays on one
    * core. Compute at the cap: rounds·E·m ≈ 8·2¹³·2·256 ≈ 3·10⁷ byte
    * maxes plus V·58 BigInt terms per stats pass — milliseconds. Every
    * operation is integer or IEEE-deterministic double (SharedLnUtil.ln
    * is the ln_shared kernel itself; math.round equals Spark's HALF_UP
    * round for these positive micro-nat arguments — LinkPredSpec sweeps
    * all 255 reachable linear-counting arguments), so the returned
    * (N-sequence, node count, converged) is bit-identical to the
    * distributed loop — asserted by LinkPredSpec on the real budget
    * edges and on synthetic graphs. */
  private[graft] def anfNsDriver(s: SparkSession, edges: DataFrame)
      : (Seq[Long], Long, Boolean) = {
    val m = AnfM.toInt
    val es = edges.select(col("sa"), col("sb")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(es.length <= DriverClosureCap,
      s"anfNsDriver got ${es.length} edges (> $DriverClosureCap); " +
        "use the distributed register loop")
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
    // anfStats twin: (Σ present, Σ mj, Σ per-node est) with s_dec built
    // from an mj histogram (≤57 BigInt terms per node, exact)
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

  /** The distributed HyperANF register loop (the above-cap path; the
    * r18-r19 production form, unchanged except for being factored out of
    * q239's body): returns (N-sequence up to convergence, node count,
    * converged). All loop checkpoints are released before returning —
    * the outputs are scalars. */
  private[graft] def anfNsDistributed(s: SparkSession, edges: DataFrame)
      : (Seq[Long], Long, Boolean) = Pins.scoped { pins =>
    val bidir = pins.pin(edges.select(col("sa").as("a"), col("sb").as("b"))
      .unionByName(edges.select(col("sb").as("a"), col("sa").as("b"))))
    var regs = pins.pin(bidir.select(col("a").as("v")).distinct()
      .select(col("v"), JoinCard.splitmix64(col("v")).as("h"))
      .select(col("v"), pmod(col("h"), lit(AnfM)).as("bucket"),
        expr(s"shiftrightunsigned(h, $AnfP)").as("w"))
      .select(col("v"), col("bucket"),
        when(col("w") === 0L, lit(AnfMaxRho))
          .otherwise(lit(AnfMaxRho) - length(bin(col("w")))).as("mj")))
    val st0 = anfStats(regs).collect().head
    val nNodes = st0.getLong(0) // one register per node at d = 0
    var prev = (st0.getLong(0), st0.getLong(1))
    val ns = scala.collection.mutable.ArrayBuffer[Long](st0.getLong(2))
    var converged = false
    var d = 0
    while (!converged && d < MaxDist) {
      // TWO max-merge rounds per stats job (r18 verdict item 2): the
      // remaining cost is sequential job barriers, not register volume
      // (state is nodes×256 and the graph is EdgeBudget-bounded). Each
      // round is the same single exchange — broadcast adjacency into
      // the propagation, own + neighbor registers collapse in one max
      // aggregate — but the two rounds' convergence stats are TAGGED
      // and read from ONE aggregate job, and both lazy checkpoints
      // materialize under it (merged1 is a shared subplan of merged2,
      // so it computes once). The ns sequence and the (n_regs, Σmj)
      // convergence ladder are bit-identical to the one-round-per-job
      // form — only the barrier count halves.
      def stepOnce(r: DataFrame): DataFrame = {
        val prop = r
          .join(broadcast(bidir.select(col("b").as("v"), col("a").as("dst"))),
            Seq("v"))
          .select(col("dst").as("v"), col("bucket"), col("mj"))
        pins.pin(r.unionByName(prop)
          .groupBy(col("v"), col("bucket")).agg(max(col("mj")).as("mj")), eager = false)
      }
      val two = d + 1 < MaxDist
      val merged1 = stepOnce(regs)
      val merged2 = if (two) stepOnce(merged1) else merged1
      val stats =
        if (two) anfStatsBy(
          merged1.withColumn("tg", lit(1))
            .unionByName(merged2.withColumn("tg", lit(2))), Seq("tg"))
          .collect().map(r => r.getInt(0) -> r).toMap
        else Map(1 -> anfStats(merged1).collect().head)
      val s1 = stats(1)
      val (o1, o2, o3) = if (two) (1, 2, 3) else (0, 1, 2)
      val c1 = (s1.getLong(o1), s1.getLong(o2))
      d += 1
      if (c1 == prev) converged = true
      else {
        ns += s1.getLong(o3)
        regs = merged1
        prev = c1
        if (two) {
          val s2 = stats(2)
          val c2 = (s2.getLong(o1), s2.getLong(o2))
          d += 1
          if (c2 == prev) converged = true
          else {
            ns += s2.getLong(o3)
            regs = merged2
            prev = c2
          }
        }
      }
    }
    (ns.toSeq, nNodes, converged) // driver scalars: the scope releases every loop pin
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
