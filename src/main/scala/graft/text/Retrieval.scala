package graft.text

import graft.{Pins, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Lexical retrieval over the document corpus — the query side of a
  * training-data pipeline (decontamination lookups, eval-set retrieval,
  * RAG context fetch all reduce to "score documents against a term
  * query"). Reference scope: the wrangler exposes corpus search only as
  * pandas `str.contains` filters (`wrangler.py:331-340`); this module is
  * the engine-grade generalization: ranked BM25 retrieval through an
  * inverted-postings join.
  *
  * Scoring is Robertson BM25 in Lucene's non-negative idf form
  * (`idf = ln(1 + (N - df + 0.5)/(df + 0.5)) = ln((N+1)/(df+0.5))`,
  * Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework")
  * with k1 = 1.2, b = 0.75. Cross-engine exactness follows the q125
  * discipline: the only transcendental is the per-term idf, integerized
  * once to micro-nats (`round(1e6·ln(...))`, same knife-edge class as
  * every ln-using oracle); the tf normalization is kept EXACTLY rational
  * — with k1 = 6/5 and b = 3/4,
  *
  *   tf·(k1+1) / (tf + k1·(1 − b + b·dl·N/S))
  *     = 44·tf·S / (20·tf·S + 6·S + 18·dl·N)
  *
  * over integers (S = Σ dl), so each term's impact is ONE integer
  * division `idf_unat·44·tf·S div (...)` — Lucene's impact-quantization
  * shape (scores quantized before summation), summed as exact BIGINTs in
  * both engines. No float accumulates anywhere, so parallelism and
  * summation order cannot perturb ranks.
  *
  * Scale shape: the corpus is touched once (postings agg with map-side
  * combine); query terms broadcast; df/idf are query-vocabulary-sized;
  * the per-query top-10 is a WindowGroupLimit bounded heap (literal rank
  * bound), never a global sort. At 100 TB the posting-list join keys on
  * term — the inverted-index access path — and the BIGINT impact product
  * swaps to DECIMAL(38,0) before `idf·44·tf·S` exceeds 2^63 (documented,
  * not hit at bench scale: max ≈ 1e7·44·tf·S ≈ 1e17 at sf0.1).
  */
object Retrieval extends graft.QueryModule {

  /** Fixed probe queries over the synthetic corpus vocabulary. */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join", "merge"),
    2 -> Seq("window", "stream", "batch"),
    3 -> Seq("hash", "sort", "filter", "vector"))

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))

  // ---------------------------------------------------- BM25 top-k search
  def q129_bm25_topk(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir, 10)

  /** The BM25 chain with a parameterized cutoff — q129 reports the
    * top-10; the RRF fusion (q136) consumes the top-20 leg. */
  private def bm25Ranked(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    bm25RankedFor(s, dir, k, qterms)
  }

  /** Same chain over an ARBITRARY (qid, term) frame — the round-2 leg of
    * the PRF expansion (q147) feeds a derived term set through here. */
  private def bm25RankedFor(s: SparkSession, dir: String, k: Int,
      qterms: DataFrame): DataFrame =
    bm25RankedOn(docToks(s, dir), k, qterms)

  /** The chain over a CALLER-OWNED token frame, so multi-round consumers
    * (q147) tokenize the corpus once — the "postings materialize once"
    * discipline the scaladoc promises. */
  private def bm25RankedOn(toks: DataFrame, k: Int,
      qterms: DataFrame): DataFrame = {
    // postings: one row per (doc, term) with tf; dl rides along so the
    // scoring join needs no per-doc side table
    val posts = toks
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("t"))).as("sum_dl"))
    // df over the query vocabulary only — postings are unique per
    // (doc, term) so df is a plain count
    val dfT = posts
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = dfT.crossJoin(broadcast(stats))
      .withColumn("idf_unat",
        round(lit(1e6) * log((lit(2.0) * col("n_docs") + lit(2.0)) /
          (lit(2) * col("df") + lit(1)))).cast("long"))
    val scored = posts
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(idf.select(col("term"), col("idf_unat"),
        col("n_docs"), col("sum_dl"))), Seq("term"))
      // overflow guard (round-14 advice, re-fixed round 15): the impact
      // numerator idf_unat·(44·tf·sum_dl) and every denominator term
      // must stay under 2^63 or ranks corrupt. The r14 guard computed
      // its own divisor 44·tf·sum_dl in Long arithmetic — which itself
      // overflows in exactly the regime it guards — and compared with
      // Column./ (double division, ~2^53 exact). This guard uses
      // DIVISION ONLY (nested floor-division: ⌊⌊⌊M/a⌋/x⌋/y⌋ =
      // ⌊M/(a·x·y)⌋ for positive ints), so no sub-expression can wrap at
      // ANY scale and the assert's remediation message always wins the
      // race against ANSI's own overflow exception in the impact
      // expression below. Conjunct 1 bounds 20·tf·sum_dl ≤ M/4 (and a
      // fortiori 44·tf·sum_dl ≤ M and 6·sum_dl ≤ M/4); conjunct 2
      // bounds 18·dl·n_docs ≤ M/4, so the denominator SUM stays under
      // M; conjunct 3 bounds the full numerator product. Integer `div`
      // throughout; shaped as a filter so column pruning can't drop it.
      .filter(coalesce(
        assert_true(
          expr(s"sum_dl <= (${Long.MaxValue}L div 80L) div tf") &&
          expr(s"dl <= (${Long.MaxValue}L div 72L) div n_docs") &&
          expr(s"idf_unat <= ((${Long.MaxValue}L div 44L) div tf) div sum_dl"),
          lit("BM25 impact product would overflow BIGINT: swap the " +
            "impact expression to DECIMAL(38,0) at this corpus scale")),
        lit(true)))
      .withColumn("impact_unat", expr(
        """(idf_unat * (44L * tf * sum_dl)) div
          |(20L * tf * sum_dl + 6L * sum_dl + 18L * dl * n_docs)"""
          .stripMargin.replace('\n', ' ')))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("impact_unat")).as("score_unat"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("score_unat").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k) // literal bound → WindowGroupLimit heap
      .select(col("qid"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_terms_hit"), col("score_unat"))
      .orderBy(col("qid"), col("rank"))
  }

  // ------------------------------------------------- q225 retrieval eval
  /** NDCG@10 discount literals: round(10⁶ / log₂(1+i)) for ranks 1..10 —
    * compile-time constants shared by both engines, so the graded
    * metrics never evaluate a log at query time. */
  private val NdcgK = 10
  private val RelMinTf = 3L
  private val DiscMicro: Seq[Long] = (1 to NdcgK).map(i =>
    math.round(1e6 / (math.log(1.0 + i) / math.log(2.0))))
  private val IdcgPrefix: Seq[Long] = DiscMicro.scanLeft(0L)(_ + _).tail

  /** Retrieval-quality evaluation (q225) — the metrics layer over the
    * BM25 stack (Järvelin & Kekäläinen 2002 for NDCG; MRR is the
    * TREC-standard first-relevant reciprocal): relevance is the exact
    * AND-semantics label (a document is relevant to a query iff it
    * contains EVERY query term — derivable in both engines, no human
    * labels needed), and the judged ranking is q129's top-10. Per
    * query: n_rel, the first relevant rank, MRR as the floor
    * micro-reciprocal, hits@10, and DCG/IDCG/NDCG with the discount
    * table as compile-time micro literals (element_at over a 10-slot
    * array — no log at query time, no float seam).
    *
    * Scale shape: relevance = one distinct (doc, term) projection
    * joined to the broadcast query vocabulary with a count-equality
    * test (corpus-linear, map-side combine); everything after joins the
    * 30-row ranked list. The eval output is |queries| rows. */
  def q225_retrieval_eval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .distinct.toDF("qid", "term")
    val qsize = Bm25Queries
      .map { case (q, ts) => (q, ts.distinct.length.toLong) }
      .toDF("qid", "n_terms")
    val ranked = bm25Ranked(s, dir, NdcgK)
    // exact relevance label: EVERY distinct query term appears >= 3
    // times in the doc (plain AND matches most of this corpus and the
    // metrics degenerate to 1000 — measured; the tf floor makes the
    // judged set selective at both SFs while staying engine-derivable)
    val rel = docToks(s, dir)
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= RelMinTf)
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .join(broadcast(qsize), Seq("qid"))
      .filter(col("n_hit") === col("n_terms"))
      .select(col("qid"), col("doc_id"), lit(true).as("rel"))
    val nRel = rel.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    val disc = array(DiscMicro.map(lit): _*)
    val idcgArr = array(IdcgPrefix.map(lit): _*)
    ranked
      .join(rel, Seq("qid", "doc_id"), "left_outer")
      .withColumn("rel", coalesce(col("rel"), lit(false)))
      .groupBy(col("qid"))
      .agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("hits_at_10"),
        min(when(col("rel"), col("rank"))).as("first_rel_rank"),
        sum(when(col("rel"),
          element_at(disc, col("rank"))).otherwise(0L)).as("dcg_micro"))
      .join(broadcast(nRel), Seq("qid"), "left_outer")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("first_rel_rank", coalesce(col("first_rel_rank"), lit(0)))
      .withColumn("rr_micro",
        when(col("first_rel_rank") > 0,
          expr("1000000L div CAST(first_rel_rank AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("idcg_micro",
        when(col("n_rel") > 0,
          element_at(idcgArr,
            least(col("n_rel"), lit(NdcgK.toLong)).cast("int")))
          .otherwise(lit(0L)))
      .withColumn("ndcg_permille",
        when(col("idcg_micro") > 0,
          expr("(1000 * dcg_micro) div idcg_micro")).otherwise(lit(0L)))
      .select(col("qid"), col("n_rel"), col("first_rel_rank"),
        col("rr_micro"), col("hits_at_10"), col("dcg_micro"),
        col("idcg_micro"), col("ndcg_permille"))
      .orderBy(col("qid"))
  }

  private lazy val evalOracle: String = {
    val qsizeVals = Bm25Queries
      .map { case (q, ts) => s"($q, ${ts.distinct.length})" }
      .mkString(", ")
    val discVals = DiscMicro.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    val idcgVals = IdcgPrefix.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    s"""WITH $bm25CoreCtes,
       |qsz(qid, n_terms) AS (VALUES $qsizeVals),
       |disc(rank, d_micro) AS (VALUES $discVals),
       |idcg(n, i_micro) AS (VALUES $idcgVals),
       |dterms AS (SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $RelMinTf),
       |rel AS (SELECT q.qid, dt.doc_id
       |  FROM dterms dt JOIN (SELECT DISTINCT qid, term FROM q) q
       |    USING (term)
       |  GROUP BY q.qid, dt.doc_id
       |  HAVING COUNT(*) = (SELECT n_terms FROM qsz
       |    WHERE qsz.qid = q.qid)),
       |nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_rel
       |  FROM rel GROUP BY 1),
       |top AS (SELECT r.qid, r.rank, r.doc_id,
       |    (rel.doc_id IS NOT NULL) AS is_rel
       |  FROM r LEFT JOIN rel ON rel.qid = r.qid
       |    AND rel.doc_id = r.doc_id
       |  WHERE r.rank <= $NdcgK),
       |ag AS (SELECT qid,
       |    CAST(SUM(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_at_10,
       |    MIN(CASE WHEN is_rel THEN rank END) AS frr,
       |    CAST(SUM(CASE WHEN is_rel THEN
       |      (SELECT d_micro FROM disc WHERE disc.rank = top.rank)
       |      ELSE 0 END) AS BIGINT) AS dcg_micro
       |  FROM top GROUP BY 1),
       |fin AS (SELECT ag.qid, COALESCE(nrel.n_rel, 0) AS n_rel,
       |    CAST(COALESCE(ag.frr, 0) AS INTEGER) AS first_rel_rank,
       |    ag.hits_at_10, ag.dcg_micro,
       |    CASE WHEN COALESCE(nrel.n_rel, 0) > 0 THEN
       |      (SELECT i_micro FROM idcg
       |       WHERE idcg.n = least(nrel.n_rel, $NdcgK))
       |      ELSE 0 END AS idcg_micro
       |  FROM ag LEFT JOIN nrel USING (qid))
       |SELECT CAST(qid AS INTEGER) AS qid, n_rel, first_rel_rank,
       |  CASE WHEN first_rel_rank > 0
       |    THEN 1000000 // CAST(first_rel_rank AS BIGINT) ELSE 0 END
       |    AS rr_micro,
       |  hits_at_10, dcg_micro, CAST(idcg_micro AS BIGINT) AS idcg_micro,
       |  CASE WHEN idcg_micro > 0 THEN (1000 * dcg_micro) // idcg_micro
       |    ELSE 0 END AS ndcg_permille
       |FROM fin ORDER BY qid""".stripMargin
  }

  // ------------------------------------------------- positional phrase search
  /** Fixed phrase probes (exact consecutive-token match). */
  private val PhraseQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("merge", "join"),
    2 -> Seq("batch", "batch"),
    3 -> Seq("window", "window", "dup"))

  /** Exact phrase search (q135) through POSITIONAL postings — the other
    * half of an inverted index: each phrase term's postings join on
    * (doc_id, adjusted position), so "merge join" matches only
    * consecutive tokens. The join chain keys on (doc_id, pos) —
    * co-partitioned after the first shuffle — and per-doc match counts
    * rank the results. No per-doc array walks, no regex over text: at
    * 100 TB this is k-1 equi-joins over term-filtered posting slices
    * (each a pushed-filter scan of the postings table), the Lucene
    * phrase-query plan in relational form. */
  def q135_phrase_search(s: SparkSession, dir: String): DataFrame = {
    val posts = docToks(s, dir)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "term")))
      // one tokenize feeds all phrase legs; eager, as the legs' jobs run
      // concurrently (see Eval.fusionRanks)
      .localCheckpoint()
    val perQuery = PhraseQueries.map { case (qid, ts) =>
      var m = posts.filter(col("term") === ts.head)
        .select(col("doc_id"), col("pos"))
      ts.zipWithIndex.drop(1).foreach { case (t, i) =>
        m = m.join(
          posts.filter(col("term") === t)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      m.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
        .withColumn("qid", lit(qid))
    }
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("n_matches").desc, col("doc_id"))
    perQuery.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_matches"))
      .orderBy(col("qid"), col("rank"))
  }

  // --------------------------------------------- RRF hybrid retrieval
  /** Reciprocal-rank fusion (q136) — hybrid lexical+vector retrieval,
    * the standard RAG recipe (Cormack, Clarke & Buettcher 2009, SIGIR):
    * fuse the BM25 top-20 (q129's leg) with the embedding-cosine top-20
    * (q19's leg, query = the embedding with vec_id = qid) by
    * `Σ 1/(60 + rank)`. The fusion is integerized to micro-units —
    * `1e9 div (60 + rank)` — so fused scores are exact BIGINTs: rank
    * positions are the only inputs, making the fusion immune to the
    * score-scale mismatch between legs (the reason RRF beats score
    * interpolation in practice, and the reason it gates exactly here).
    * Candidates appearing in one leg only contribute that leg's term —
    * partial overlap is the normal case when fusing heterogeneous
    * retrievers. Scale: both legs are gated operators with bounded-heap
    * top-k; the fusion itself touches 2·k·|queries| rows. */
  def q136_rrf_hybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = bm25Ranked(s, dir, 20)
      .select(col("qid"), col("doc_id").as("id"),
        expr("1000000000L div (60L + rank)").as("contrib"))
    val e = Tables.embeddingsFanned(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id").isInCollection(Bm25Queries.map(_._1)))
      .select(col("vec_id").cast("int").as("qid"), col("emb").as("qemb"))
    val vw = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("id"))
    val dot = (a: Column, b: Column) => graft.ml.VecFunctions.dot_d(a, b)
    val vec = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(dot(col("qemb"), col("emb")) /
          (sqrt(dot(col("qemb"), col("qemb"))) *
            sqrt(dot(col("emb"), col("emb")))), 6).as("sim_r"))
      .withColumn("rank", row_number().over(vw))
      .filter(col("rank") <= 20)
      .select(col("qid"), col("id"),
        expr("1000000000L div (60L + rank)").as("contrib"))
    val fw = Window.partitionBy(col("qid"))
      .orderBy(col("score_u").desc, col("id"))
    lex.unionByName(vec)
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("contrib")).as("score_u"), count(lit(1)).as("n_legs"))
      .withColumn("rank", row_number().over(fw))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank").cast("int").as("rank"),
        col("id"), col("n_legs"), col("score_u"))
      .orderBy(col("qid"), col("rank"))
  }

  // ------------------------------------------- q147 PRF query expansion
  private val PrfFeedbackK = 10 // feedback depth
  private val PrfExpTerms = 3 // expansion terms per query
  private val PrfMinFbDf = 2 // a feedback term must appear in >= 2 fb docs

  /** Pseudo-relevance-feedback query expansion (q147) — RM3-lite
    * (Lavrenko & Croft SIGIR 2001 relevance models; the Rocchio/RM3
    * two-pass recipe every Lucene/Anserini deployment ships): run the
    * BM25 round, mine the top-[[PrfFeedbackK]] documents of each query
    * for the [[PrfExpTerms]] most frequent non-query terms (by
    * feedback-document frequency, lexicographic tiebreak, minimum
    * [[PrfMinFbDf]] — all integer ranking, no float term weights), then
    * re-run BM25 with the expanded term set. Output: the final top-10
    * per query with the expansion terms carried as a sorted
    * comma-joined audit column.
    *
    * Scale shape: both rounds are the q129 posting-join plan (corpus
    * touched once per round — and at 100 TB the postings TABLE is
    * materialized once, making round 2 a second probe, not a second
    * scan); the feedback mining is top-k·|queries| rows joined to the
    * token table on doc_id. The oracle replays BOTH rounds — the
    * derived expansion terms are recomputed in SQL, so a drift in
    * either round or in the mining rule fails the hash. */
  def q147_prf_expansion(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import s.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    // one tokenize pass feeds round 1, the feedback mining, and round 2
    val toks = pins.pin(docToks(s, dir))
    val fbDocs = bm25RankedOn(toks, PrfFeedbackK, qterms)
      .select(col("qid"), col("doc_id"))
    // feedback-document frequency per (qid, term), original terms out
    val fbTerms = fbDocs
      .join(toks, Seq("doc_id"))
      .select(col("qid"), col("doc_id"), explode(col("t")).as("term"))
      .distinct()
      .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("fb_df"))
      .join(qterms, Seq("qid", "term"), "left_anti")
      .filter(col("fb_df") >= PrfMinFbDf)
    val wExp = Window.partitionBy(col("qid"))
      .orderBy(col("fb_df").desc, col("term"))
    val expTerms = fbTerms.withColumn("rk", row_number().over(wExp))
      .filter(col("rk") <= PrfExpTerms)
      .select(col("qid"), col("term"))
    val expanded = qterms.unionByName(expTerms).distinct()
    val audit = expTerms.groupBy(col("qid"))
      .agg(array_join(array_sort(collect_set(col("term"))), ",")
        .as("exp_terms"))
    bm25RankedOn(toks, 10, expanded)
      .join(broadcast(audit), Seq("qid"), "left")
      .select(col("qid"), col("rank"), col("doc_id"), col("n_terms_hit"),
        col("score_unat"), coalesce(col("exp_terms"), lit("")).as("exp_terms"))
      .orderBy(col("qid"), col("rank"))
      // the result is top-k·|queries| rows, pinned before the scope
      // releases the corpus-scale token pin (round-14 advice item)
      .localCheckpoint()
  }

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  private lazy val bm25Values: String = Bm25Queries
    .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
    .mkString(", ")

  /** The BM25 CTE chain (toks → postings → idf → scores → ranks),
    * shared by the q129 gate and the q136 fusion leg. */
  /** The corpus-side CTEs (toks/postings/stats) every BM25 leg shares. */
  private lazy val bm25BaseCtes: String =
    s"""toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |posts AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
       |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM posts GROUP BY 1, 2, 3),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM toks)""".stripMargin

  /** The scoring CTE chain (df → idf → scores → ranks) parameterized on
    * the query-term relation `$qname(qid, term)` and a suffix for CTE
    * names, so q147's round-2 leg can re-instantiate it over a DERIVED
    * term set within one statement. */
  private def bm25ScoringCtes(qname: String, x: String): String =
    s"""dft$x AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       |  WHERE term IN (SELECT DISTINCT term FROM $qname) GROUP BY term),
       |idf$x AS (SELECT term, CAST(round(1000000.0 *
       |      ln((2.0 * n_docs + 2.0) / (2 * df + 1))) AS BIGINT) AS idf_unat
       |  FROM dft$x, stats),
       |sc$x AS (SELECT qid, doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |    CAST(SUM((idf_unat * (44 * tf * sum_dl)) //
       |      (20 * tf * sum_dl + 6 * sum_dl + 18 * dl * n_docs))
       |      AS BIGINT) AS score_unat
       |  FROM tf JOIN $qname USING (term) JOIN idf$x USING (term), stats
       |  GROUP BY 1, 2),
       |r$x AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY score_unat DESC, doc_id) AS rank FROM sc$x)""".stripMargin

  private lazy val bm25CoreCtes: String =
    s"""$bm25BaseCtes,
       |q(qid, term) AS (VALUES $bm25Values),
       |${bm25ScoringCtes("q", "")}""".stripMargin

  private lazy val bm25Oracle: String =
    s"""WITH $bm25CoreCtes
       |SELECT CAST(qid AS INTEGER) AS qid, CAST(rank AS INTEGER) AS rank,
       |  doc_id, n_terms_hit, score_unat
       |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private lazy val phraseOracle: String = {
    val chains = PhraseQueries.map { case (qid, ts) =>
      val joins = ts.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN posts p$i ON p$i.doc_id = p0.doc_id " +
          s"AND p$i.i = p0.i + $i AND p$i.term = '$t'"
      }.mkString(" ")
      s"""SELECT $qid AS qid, p0.doc_id, CAST(COUNT(*) AS BIGINT)
         |    AS n_matches
         |  FROM posts p0 $joins
         |  WHERE p0.term = '${ts.head}' GROUP BY p0.doc_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |posts AS (SELECT doc_id, i, t[i] AS term
       |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
       |cnts AS (
       |  $chains),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY n_matches DESC, doc_id) AS rank FROM cnts)
       |SELECT CAST(qid AS INTEGER) AS qid, CAST(rank AS INTEGER) AS rank,
       |  doc_id, n_matches
       |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  private lazy val rrfOracle: String = {
    val qids = Bm25Queries.map(_._1).mkString(", ")
    s"""WITH $bm25CoreCtes,
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |vq AS (SELECT CAST(vec_id AS INTEGER) AS qid, emb AS qemb FROM e
       |  WHERE vec_id IN ($qids)),
       |vp AS (SELECT qid, vec_id AS id,
       |    round(list_dot_product(qemb, emb) /
       |      (sqrt(list_dot_product(qemb, qemb)) *
       |       sqrt(list_dot_product(emb, emb))), 6) AS sim_r
       |  FROM vq, e WHERE vec_id <> qid),
       |vr AS (SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, id) AS rank FROM vp),
       |vc AS (SELECT qid, id, 1000000000 // (60 + rank) AS contrib
       |  FROM vr WHERE rank <= 20),
       |lc AS (SELECT qid, doc_id AS id, 1000000000 // (60 + rank)
       |    AS contrib
       |  FROM r WHERE rank <= 20),
       |fused AS (SELECT qid, id, CAST(SUM(contrib) AS BIGINT) AS score_u,
       |    CAST(COUNT(*) AS BIGINT) AS n_legs
       |  FROM (SELECT * FROM lc UNION ALL SELECT * FROM vc)
       |  GROUP BY 1, 2),
       |fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY score_u DESC, id) AS rank FROM fused)
       |SELECT CAST(qid AS INTEGER) AS qid, CAST(rank AS INTEGER) AS rank,
       |  id, n_legs, score_u
       |FROM fr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  private lazy val prfOracle: String =
    s"""WITH $bm25CoreCtes,
       |fb AS (SELECT qid, doc_id FROM r WHERE rank <= $PrfFeedbackK),
       |fbt AS (SELECT f.qid, t.term, CAST(COUNT(*) AS BIGINT) AS fb_df
       |  FROM fb f JOIN (SELECT DISTINCT doc_id, unnest(t) AS term
       |    FROM toks) t ON t.doc_id = f.doc_id
       |  GROUP BY 1, 2),
       |cand AS (SELECT fbt.* FROM fbt
       |  WHERE fb_df >= $PrfMinFbDf AND NOT EXISTS (SELECT 1 FROM q
       |    WHERE q.qid = fbt.qid AND q.term = fbt.term)),
       |expt AS (SELECT qid, term FROM (SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY fb_df DESC, term) AS rk FROM cand) z
       |  WHERE rk <= $PrfExpTerms),
       |q2 AS (SELECT DISTINCT qid, term FROM
       |  (SELECT qid, term FROM q UNION ALL SELECT qid, term FROM expt) u),
       |${bm25ScoringCtes("q2", "2")},
       |audit AS (SELECT qid, string_agg(term, ',' ORDER BY term)
       |    AS exp_terms
       |  FROM expt GROUP BY qid)
       |SELECT CAST(r2.qid AS INTEGER) AS qid,
       |  CAST(r2.rank AS INTEGER) AS rank, r2.doc_id, r2.n_terms_hit,
       |  r2.score_unat, COALESCE(a.exp_terms, '') AS exp_terms
       |FROM r2 LEFT JOIN audit a ON a.qid = r2.qid
       |WHERE r2.rank <= 10 ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------- registry
  // ---------------------------------------------- q242 query likelihood
  /** Dirichlet prior — Zhai & Lafferty's recommended range is 500-10⁴;
    * 2000 is the standard default. A compile-time literal shared by
    * both engines. */
  private val DirichletMu = 2000L

  /** q242: Dirichlet-smoothed query-likelihood retrieval (Zhai &
    * Lafferty, SIGIR 2001 — the language-modeling ranking that sits
    * beside BM25 in every IR textbook): score(q,d) =
    * Σ_t ln((tf + μ·p(t\|C)) / (dl + μ)). The exact integer lift
    * multiplies through by \|C\| and decomposes per Zhai's two-stage
    * identity, so only MATCHING postings are scored:
    *
    *   score_unat = Σ_hit [L(tf·C + μ·cf) − L(μ·cf)]
    *              + K_q − n_q·L(dl + μ),
    *   K_q = Σ_{t∈q} L(μ·cf_t) − n_q·L(C),   L(x) = round(10⁶·ln x)
    *
    * — micro-nat roundings of INTEGER arguments only (the house q212/
    * q56 quantization; both engines evaluate ln on identical integers),
    * summed exactly. Query terms absent from the corpus drop from n_q
    * and K_q in both engines (their smoothed mass is undefined — cf =
    * 0 has no finite log). Candidates are docs matching ≥ 1 term, the
    * impact-ordered-retrieval convention q129 shares.
    *
    * Scale shape: identical to BM25 — postings with map-side combine,
    * broadcast query vocabulary + cf + totals, per-(qid, doc)
    * aggregate, WindowGroupLimit top-10. The overflow frontier
    * (tf·C, μ·cf) carries a loud division-only assert. */
  def q242_qlm_topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = docToks(s, dir)
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("qid", "term")
    val posts = toks
      .select(col("doc_id"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = toks.agg(sum(size(col("t"))).cast("long").as("cc"))
    val cf = posts
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    // shared ln (r18 verdict item 4): every L(x) is the engine-neutral
    // formula, matching the generated-SQL oracle bit-for-bit
    def lm(x: String) = s"CAST(round(1000000.0 * ln_shared($x)) AS BIGINT)"
    val kq = qterms.join(broadcast(cf), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("nq"),
        sum(expr(lm(s"${DirichletMu}L * cf"))).as("sum_lcf"),
        max(expr(lm("cc"))).as("lcc"))
      .select(col("qid"), col("nq"),
        (col("sum_lcf") - col("nq") * col("lcc")).as("kq"))
    val matched = posts
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(cf), Seq("term"))
      .crossJoin(broadcast(stats))
      // tf·C and μ·cf must each stay under 2^63/2 so their sum cannot
      // wrap — division-only bounds (the q129 discipline)
      .filter(coalesce(assert_true(
        expr(s"cf <= ${Long.MaxValue / 2 / DirichletMu}L " +
          s"and tf <= (${Long.MaxValue}L div 2L) div greatest(cc, 1L)"),
        lit("QLM smoothing product would overflow BIGINT: swap the " +
          "score arguments to DECIMAL(38,0) at this corpus scale")),
        lit(true)))
      .withColumn("ts",
        expr(s"${lm(s"tf * cc + ${DirichletMu}L * cf")} - " +
          lm(s"${DirichletMu}L * cf")))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("ts")).as("hit_sum"),
        max(col("dl")).as("dl"))
    val scored = matched.join(broadcast(kq), Seq("qid"))
      .withColumn("score_unat", col("hit_sum") + col("kq") -
        col("nq") * expr(lm(s"dl + ${DirichletMu}L")))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("score_unat").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("n_terms_hit"), col("score_unat"))
      .orderBy(col("qid"), col("rank"))
  }

  private lazy val qlmOracle: String = {
    val mu = DirichletMu
    import graft.functions.SharedLn.{microSql, oracleLn}
    s"""WITH $bm25BaseCtes,
       |q(qid, term) AS (VALUES $bm25Values),
       |cfx AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf
       |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
       |cfxl AS (${oracleLn("cfx", Seq("term", "cf"),
          Seq(("__lmcf", s"$mu * cf")))}),
       |kq AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS nq,
       |    CAST(SUM(${microSql("__lmcf")}) AS BIGINT) -
       |      CAST(COUNT(*) AS BIGINT) *
       |      (SELECT ${microSql("__lcc")} FROM
       |        (${oracleLn("stats", Nil, Seq(("__lcc", "sum_dl")))})) AS kq
       |  FROM q JOIN cfxl USING (term) GROUP BY qid),
       |sc0 AS (SELECT qid, doc_id, dl,
       |    tf * sum_dl + $mu * cf AS a1, $mu * cf AS a2
       |  FROM tf JOIN q USING (term) JOIN cfx USING (term), stats),
       |scl AS (${oracleLn("sc0", Seq("qid", "doc_id", "dl"),
          Seq(("__la1", "a1"), ("__la2", "a2")))}),
       |sc AS (SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT)
       |      AS n_terms_hit,
       |    CAST(SUM(${microSql("__la1")} -
       |      ${microSql("__la2")}) AS BIGINT) AS hit_sum,
       |    MAX(dl) AS dl
       |  FROM scl GROUP BY 1, 2),
       |fin0 AS (SELECT s.qid, s.doc_id, s.n_terms_hit, s.hit_sum,
       |    k.kq, k.nq, s.dl + $mu AS dmu
       |  FROM sc s JOIN kq k USING (qid)),
       |finl AS (${oracleLn("fin0",
          Seq("qid", "doc_id", "n_terms_hit", "hit_sum", "kq", "nq"),
          Seq(("__ldl", "dmu")))}),
       |fin AS (SELECT qid, doc_id, n_terms_hit,
       |    hit_sum + kq - nq * ${microSql("__ldl")} AS score_unat
       |  FROM finl),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY score_unat DESC, doc_id) AS rank FROM fin)
       |SELECT CAST(qid AS INTEGER) AS qid, CAST(rank AS INTEGER) AS rank,
       |  doc_id, n_terms_hit, score_unat
       |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q242_qlm_topk" -> (q242_qlm_topk _),
    "q129_bm25_topk" -> (q129_bm25_topk _),
    "q135_phrase_search" -> (q135_phrase_search _),
    "q136_rrf_hybrid" -> (q136_rrf_hybrid _),
    "q147_prf_expansion" -> (q147_prf_expansion _),
    "q225_retrieval_eval" -> (q225_retrieval_eval _))

  override val oracle: Map[String, String] = Map(
    "q242_qlm_topk" -> qlmOracle,
    "q225_retrieval_eval" -> evalOracle,
    "q129_bm25_topk" -> bm25Oracle,
    "q135_phrase_search" -> phraseOracle,
    "q136_rrf_hybrid" -> rrfOracle,
    "q147_prf_expansion" -> prfOracle)
}
