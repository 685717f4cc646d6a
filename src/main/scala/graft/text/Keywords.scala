package graft.text

import graft.{Pins, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus keyword extraction — RAKE (Rose, Engel, Cramer & Cowley 2010,
  * "Automatic keyword extraction from individual documents"): candidate
  * phrases are maximal stopword-free token runs, each word scores
  * degree/frequency over the phrase co-occurrence graph, and a phrase
  * scores the sum of its member word scores. The dataset-card /
  * topic-labeling companion to q48's tf-idf and q211's log-odds: RAKE
  * needs no per-source contrast and surfaces multi-word terms.
  *
  * Integerization: word scores are floor-permille degree/frequency
  * ((1000·deg) div freq — both exact BIGINT counts), phrase scores exact
  * sums of member permilles — no float anywhere, so the gate is exact.
  *
  * Scale shape: the phrase segmentation is the q75 boundary-list pattern
  * (one pass of per-row list ops, corpus-linear, no window); word stats
  * are vocabulary-bounded and broadcast back; phrase stats are
  * phrase-vocabulary-bounded (runs capped at 4 tokens, so ≤ vocab⁴ but
  * Heaps-bounded in practice like q195's paths); the top-10 is a bounded
  * heap, never a global sort of the corpus.
  */
object Keywords extends graft.QueryModule {

  private val Stop: Seq[String] = TextOps.Stopwords
  private val MaxLen = 4

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))

  def q213_rake_keywords(s: SparkSession, dir: String): DataFrame = {
    val toks = docToks(s, dir).filter(size(col("t")) >= 1)
    // stopword boundary positions (1-based), then maximal runs between them
    val seg = toks
      .withColumn("bp", filter(
        transform(sequence(lit(1), size(col("t"))),
          i => when(element_at(col("t"), i).isInCollection(Stop), i)),
        x => x.isNotNull))
      .withColumn("ph", explode(filter(
        zip_with(
          concat(array(lit(1)), transform(col("bp"), x => x + 1)),
          concat(col("bp"), array(size(col("t")) + 1)),
          (st, en) => slice(col("t"), st, en - st)),
        p => size(p) >= 1 && size(p) <= MaxLen)))
      .select(array_join(col("ph"), " ").as("ph"),
        size(col("ph")).cast("long").as("plen"))
    // word graph stats: freq = occurrences in phrases, deg = Σ phrase len
    val wordScores = seg
      .select(explode(split(col("ph"), " ")).as("w"), col("plen"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore", expr("(1000 * deg) div freq"))
      .select(col("w"), col("wscore"))
    val phrases = seg.groupBy(col("ph")).agg(count(lit(1)).as("n_occ"))
    // members re-derive from the phrase TEXT (words contain no spaces),
    // so the score join never touches the exploded occurrence stream
    phrases
      .select(col("ph"), col("n_occ"),
        explode(split(col("ph"), " ")).as("w"))
      .join(broadcast(wordScores), Seq("w"))
      .groupBy(col("ph"))
      .agg(max(col("n_occ")).as("n_occ"), count(lit(1)).as("n_words"),
        sum(col("wscore")).as("score"))
      .orderBy(col("score").desc, col("n_occ").desc, col("ph"))
      .limit(10)
      .select(col("ph"), col("n_occ"), col("n_words"), col("score"))
  }

  // ---------------------------------------------------------------- oracle

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"
  private val StopList = Stop.map(w => s"'$w'").mkString("[", ",", "]")

  private lazy val rakeOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents
       |  WHERE len($DToks) >= 1),
       |b AS (SELECT doc_id, t,
       |    list_filter(list_transform(range(1, len(t) + 1),
       |      i -> CASE WHEN list_contains($StopList, t[CAST(i AS INT)])
       |        THEN CAST(i AS INT) END), x -> x IS NOT NULL) AS bp
       |  FROM toks),
       |s AS (SELECT doc_id, t,
       |    [CAST(1 AS INT)] || list_transform(bp, x -> x + 1) AS starts,
       |    bp || [CAST(len(t) + 1 AS INT)] AS ends FROM b),
       |seg AS (SELECT doc_id,
       |    array_to_string(t[starts[CAST(j AS INT)] :
       |      ends[CAST(j AS INT)] - 1], ' ') AS ph,
       |    CAST(ends[CAST(j AS INT)] - starts[CAST(j AS INT)] AS BIGINT)
       |      AS plen
       |  FROM s, unnest(range(1, len(starts) + 1)) AS u(j)
       |  WHERE ends[CAST(j AS INT)] - starts[CAST(j AS INT)]
       |    BETWEEN 1 AND $MaxLen),
       |ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(SUM(plen) AS BIGINT) AS deg
       |  FROM (SELECT unnest(string_split(ph, ' ')) AS w, plen FROM seg)
       |  GROUP BY 1),
       |wsc AS (SELECT w, (1000 * deg) // freq AS wscore FROM ws),
       |pht AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS n_occ
       |  FROM seg GROUP BY 1),
       |mem AS (SELECT ph, n_occ, unnest(string_split(ph, ' ')) AS w
       |  FROM pht),
       |psc AS (SELECT ph, MAX(n_occ) AS n_occ,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(wscore) AS BIGINT) AS score
       |  FROM mem JOIN wsc USING (w) GROUP BY ph)
       |SELECT ph, n_occ, n_words, score FROM psc
       |ORDER BY score DESC, n_occ DESC, ph LIMIT 10""".stripMargin

  // ------------------------------------------------ q237 term burstiness
  private val BurstMinDf = 20L

  /** Term burstiness (q237) — the Church & Gale 1995 dispersion signal:
    * content words arrive in BURSTS (high variance-to-mean of per-doc
    * counts) while function words are near-Poisson (D ≈ 1). The Fisher
    * dispersion index lifts exactly: with cf = Σx over all N docs and
    * sq = Σx² (zero-count docs add nothing to either),
    *   D_permille = (1000·(N·sq − cf²)) div (cf·(N−1))
    * — one integer cross-multiplication per term, no float. Reported
    * for terms with df ≥ 20 (dispersion of rare terms is noise), top-20
    * by D — the burstiness ranking is what separates topical vocabulary
    * from glue for stopword induction and keyword weighting.
    *
    * Scale shape: one (doc, term) count aggregate with map-side combine
    * (the q51 shape), then a vocabulary-sized rollup and a bounded-heap
    * top-20. N·sq caps BIGINT near 10⁹ docs × 10⁹ sq — the loud assert
    * names the DECIMAL swap. */
  def q237_term_burstiness(s: SparkSession, dir: String): DataFrame = {
    val toks = docToks(s, dir).filter(size(col("t")) >= 1)
    val n = toks.count()
    val perDoc = toks
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("x"))
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("x")).as("cf"),
        sum(col("x") * col("x")).as("sq"))
      .filter(col("df") >= BurstMinDf)
      .filter(coalesce(assert_true(
        expr(s"sq <= (${Long.MaxValue}L div ${math.max(n, 1L)}L) " +
          s"and cf <= 3037000499L"),
        lit("burstiness cross-product would overflow BIGINT: move D to " +
          "DECIMAL(38,0) at this corpus scale")), lit(true)))
      .withColumn("d_permille",
        expr(s"(1000 * (${n}L * sq - cf * cf)) div (cf * (${n}L - 1))"))
      .orderBy(col("d_permille").desc, col("term"))
      .limit(20)
      .select(col("term"), col("df"), col("cf"), col("sq"),
        col("d_permille"))
  }

  private lazy val burstOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents
       |  WHERE len($DToks) >= 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
       |pd AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
       |st AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       |    CAST(SUM(x) AS BIGINT) AS cf,
       |    CAST(SUM(x * x) AS BIGINT) AS sq
       |  FROM pd GROUP BY 1 HAVING COUNT(*) >= $BurstMinDf)
       |SELECT term, df, cf, sq,
       |  (1000 * ((SELECT n FROM n) * sq - cf * cf))
       |    // (cf * ((SELECT n FROM n) - 1)) AS d_permille
       |FROM st ORDER BY d_permille DESC, term LIMIT 20""".stripMargin

  // ------------------------------------------------------------- registry
  // --------------------------------------------------- q246 TextRank
  /** Node budget: the co-occurrence graph runs over the top-[[TrV]]
    * corpus words by frequency (freq desc, word) — a budget, not a
    * threshold, so the graph is a constant of the operator at any
    * corpus scale (the q191 posture; the original paper bounds
    * candidates with a POS filter, which public knowledge can't
    * replicate without a model — the frequency budget is the declared
    * stand-in). */
  private val TrV = 300
  private val TrIters = 10
  private val TrTopK = 20

  /** q246: TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004)
    * — the graph-based member of the keyword trio beside RAKE's
    * degree/frequency scores (q213) and Church-Gale burstiness (q237):
    * build the window-2 word co-occurrence graph (adjacent-pair edges,
    * the paper's keyword configuration, unweighted/undirected) over
    * the budgeted vocabulary and run the q138 INTEGER PageRank kernel
    * (damping 0.85 as the exact 85/100 split of 10¹² rank mass,
    * exact-fixpoint early exit) — the whole fit
    * replays in DuckDB as [[TrIters]] unrolled rounds, so TextRank's
    * actual rank integers are hash-gated, not just the top-k names.
    *
    * Scale shape: one corpus pass for frequencies (map-side combine),
    * one for adjacent pairs filtered to the broadcast budget
    * vocabulary; the PageRank loop runs on a ≤ TrV-node graph —
    * catalog-sized forever. */
  def q246_textrank(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    // One tokenize pass shared by the vocab and adjacent-pair passes —
    // the q70/q73 pre-explode token frame discipline (each pass re-ran
    // Cleanse.tokens over the full corpus before r20); the scope releases it.
    val toks = pins.pin(Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t")))
    val vocab = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(TrV)
      .select(col("w"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t,i) AS a, element_at(t,i+1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .join(broadcast(vocab.select(col("w").as("a"))), Seq("a"))
      .join(broadcast(vocab.select(col("w").as("b"))), Seq("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
    // Budget-bounded graph: at most TrV·(TrV−1) = 89,700 symmetric edges
    // at ANY corpus scale (the node set is a top-TrV constant), below
    // Graph.PagerankDriverCap, so exact-integer PageRank always runs as
    // the driver kernel (its cap `require` is the guard); GraphSpec
    // asserts it bit-identical to the distributed Graph.pagerankRanks.
    val (ranks, deg, _, converged) =
      graft.rel.Graph.pagerankRanksDriver(edges, TrIters)
    ranks
      .join(deg.select(col("src").as("node"), col("deg")), Seq("node"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("node"))).cast("int"))
      .filter(col("rank") <= TrTopK)
      .select(col("rank"), col("node").as("term"),
        col("deg").as("degree"), col("r").as("rank_u"),
        lit(converged).as("converged"))
      .orderBy(col("rank"))
      // the ≤TrTopK-row result, pinned before the scope releases the
      // corpus-scale token frame
      .localCheckpoint()
  }

  private lazy val textrankOracle: String = {
    val mass = 1000000000000L
    def round(k: Int): String =
      s"""it$k AS (SELECT e.dst AS node,
         |    (SELECT base FROM params) +
         |      (85 * SUM(r.r // d.deg)) // 100 AS r
         |  FROM edges e JOIN it${k - 1} r ON e.src = r.node
         |  JOIN deg d ON d.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, ${CorpusFilters.DToks} AS t
       |  FROM documents),
       |vocab AS (SELECT w FROM (SELECT unnest(t) AS w FROM toks) u
       |  GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT $TrV),
       |adj AS (SELECT t[u.i] AS a, t[u.i + 1] AS b
       |  FROM toks, unnest(range(1, len(t))) AS u(i)
       |  WHERE len(t) >= 2),
       |pairs AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
       |  FROM adj
       |  WHERE a <> b AND a IN (SELECT w FROM vocab)
       |    AND b IN (SELECT w FROM vocab)),
       |edges AS (SELECT u AS src, v AS dst FROM pairs
       |  UNION ALL SELECT v, u FROM pairs),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |params AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $mass // COUNT(*) AS init,
       |    (15 * ($mass // COUNT(*))) // 100 AS base FROM deg),
       |it0 AS (SELECT node, (SELECT init FROM params) AS r FROM deg),
       |${(1 to TrIters).map(round).mkString(",\n")},
       |conv AS (SELECT MAX(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) = 0
       |    AS converged
       |  FROM it$TrIters a JOIN it${TrIters - 1} b USING (node)),
       |ranked AS (SELECT r.node, r.r, d.deg,
       |    ROW_NUMBER() OVER (ORDER BY r.r DESC, r.node) AS rk
       |  FROM it$TrIters r JOIN deg d USING (node))
       |SELECT CAST(rk AS INTEGER) AS rank, node AS term,
       |  deg AS degree, CAST(r AS BIGINT) AS rank_u, converged
       |FROM ranked, conv WHERE rk <= $TrTopK ORDER BY rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_rake_keywords" -> (q213_rake_keywords _),
    "q237_term_burstiness" -> (q237_term_burstiness _),
    "q246_textrank" -> (q246_textrank _))

  override val oracle: Map[String, String] = Map(
    "q213_rake_keywords" -> rakeOracle,
    "q237_term_burstiness" -> burstOracle,
    "q246_textrank" -> textrankOracle)
}
