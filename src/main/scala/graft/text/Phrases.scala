package graft.text

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Phrase mining + phrase merging (q161/q162) — the word2vec
  * collocation pass (Mikolov et al. 2013, "Distributed representations
  * of words and phrases and their compositionality" §4: score(wi, wj) =
  * (count(wi wj) − δ) / (count(wi)·count(wj)), scaled by corpus size,
  * with discount δ suppressing rare-pair noise): the standard
  * preprocessing that decides which adjacent pairs become single
  * tokens BEFORE tokenizer/embedding training. q161 LEARNS the phrase
  * table (top-K by score); q162 APPLIES it with the same greedy
  * leftmost non-overlapping merge the reference C implementation uses
  * — the learn→apply loop the repo's trained components all close.
  *
  * The score integerizes as (10^6·(c12 − δ)·N) div (c1·c2) computed in
  * DECIMAL(38,0) — products of three corpus-scale counts overflow
  * BIGINT in exactly the 100 TB regime (the q129 BM25 lesson), and
  * DECIMAL(38,0) div mirrors DuckDB HUGEINT `//` exactly. No logs, no
  * doubles: rank order and reported scores are bit-identical across
  * engines and summation orders.
  *
  * Scale shape (q161): one bigram aggregate (vocabulary²-bounded,
  * map-side combined) joined to two BROADCAST unigram tables, then a
  * rank-≤K global top-k (WindowGroupLimit bounded heap — never a full
  * sort). (q162): the merge is a map-side pass against the BROADCAST
  * K-row phrase table — per-doc windows over exploded positions,
  * partitioned by doc_id, no corpus-wide shuffle beyond the explode's
  * own layout.
  */
object Phrases extends graft.QueryModule {

  private val Delta = 5L
  private val TopK = 30

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))

  /** Top-K phrase candidates with exact integer scores. */
  def q161_phrase_mining(s: SparkSession, dir: String): DataFrame = {
    val bi = docToks(s, dir).filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> " +
          "struct(element_at(t,i) AS w1, element_at(t,i+1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val biCounts = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= Delta)
    val uni = docToks(s, dir).select(explode(col("t")).as("w"))
    val uniCounts = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val total = uni.agg(count(lit(1)).as("tot"))
    val scored = biCounts
      .join(broadcast(uniCounts.select(col("w").as("w1"),
        col("c1").as("c_w1"))), Seq("w1"))
      .join(broadcast(uniCounts.select(col("w").as("w2"),
        col("c1").as("c_w2"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("score_micro", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * (c12 - 5) * tot) div " +
          "(CAST(c_w1 AS DECIMAL(38,0)) * c_w2) AS BIGINT)"))
    val w = Window.orderBy(col("score_micro").desc, col("w1"), col("w2"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("rank"), col("w1"), col("w2"), col("c12"),
        col("c_w1"), col("c_w2"), col("score_micro"))
      .orderBy(col("rank"))
  }

  /** Greedy leftmost non-overlapping merge of the learned phrase table
    * into every document's token stream. Within a maximal run of
    * consecutive phrase matches the merges land at run positions
    * 0, 2, 4, … (merging (i, i+1) consumes i+1, so the next candidate
    * is i+2) — the parity form of the sequential word2vec loop, which
    * windows express without recursion. */
  def q162_phrase_merge(s: SparkSession, dir: String): DataFrame =
    greedyMerge(docToks(s, dir), q161_phrase_mining(s, dir))

  /** The apply half on explicit inputs — `docs(doc_id, t)` merged
    * against `phrases(w1, w2, ...)` — exposed so specs can pin the
    * greedy-leftmost semantics on handcrafted fixtures. */
  private[graft] def greedyMerge(docs: DataFrame,
      phraseTable: DataFrame): DataFrame = {
    val phrases = phraseTable
      .select(col("w1"), col("w2"), lit(true).as("is_phrase"))
    val pos = docs.filter(size(col("t")) >= 1)
      .select(col("doc_id"), size(col("t")).as("n_before"),
        posexplode(col("t")).as(Seq("i", "w")))
    val wNext = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val matched = pos
      .withColumn("w_next", lead(col("w"), 1).over(wNext))
      .join(broadcast(phrases),
        col("w") === col("w1") && col("w_next") === col("w2"), "left")
      .withColumn("m", coalesce(col("is_phrase"), lit(false)))
    // run-id: consecutive matches share a group; parity inside the run
    // decides which matches actually merge
    val runGrp = sum(when(col("m"), 0L).otherwise(1L)).over(
      wNext.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val flagged = matched.withColumn("grp", runGrp)
    val wRun = Window.partitionBy(col("doc_id"), col("grp"), col("m"))
      .orderBy(col("i"))
    val merged = flagged
      .withColumn("rn", row_number().over(wRun) - 1L)
      .withColumn("merge_start", col("m") && col("rn") % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("merge_start"), 1).over(wNext), lit(false)))
      .withColumn("out_tok",
        when(col("merge_start"), concat(col("w"), lit("_"), col("w_next")))
          .otherwise(col("w")))
      .filter(!col("consumed"))
    merged.groupBy(col("doc_id"), col("n_before"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("merge_start"), 1L).otherwise(0L)).as("n_merges"),
        md5(array_join(transform(array_sort(collect_list(
          struct(col("i"), col("out_tok")))), x => x("out_tok")), " ")
          .cast("binary")).as("digest"))
      .select(col("doc_id"), col("n_before"), col("n_after"),
        col("n_merges"), col("digest"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- skip-gram pairs
  /** Skip-gram training-pair materialization (q170) — the other half of
    * the word2vec preprocessing (Mikolov et al. 2013): frequent-word
    * SUBSAMPLING (discard token w with probability 1 − √(t/f(w)) — the
    * published t-rule that deletes filler mass before windows form)
    * followed by window-W (center, context) pair extraction over the
    * COMPACTED stream (deletions widen effective windows — the
    * documented side effect, reproduced deliberately).
    *
    * Determinism: the discard draw for position (doc, i) is
    * pmod(splitmix64(doc·100000 + i), 2³²) compared against the
    * per-word threshold round(2³²·(1 − √(t·N/c))) — √ is
    * IEEE-correctly-rounded (the q164 argument), so thresholds are
    * bit-stable and the whole corpus replays in DuckDB. Window pairs
    * come from an equi-join on (doc, rank+offset) — no range scan.
    *
    * Scale: counts are one map-side-combined aggregate; the threshold
    * table is vocabulary-sized and BROADCASTS; the surviving-position
    * rank is a per-doc window (bounded by doc length); the offset join
    * is equi-keyed and shuffles the compacted stream once. Output is
    * vocab²-bounded. */
  def q170_skipgram_pairs(s: SparkSession, dir: String): DataFrame = {
    val t = 0.01
    val offsets = Seq(-2, -1, 1, 2)
    val toks = docToks(s, dir).filter(size(col("t")) >= 1)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
    val cnt = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = toks.agg(count(lit(1)).as("n_tot"))
    val thr = cnt.crossJoin(broadcast(n))
      .withColumn("thr", round(lit(4294967296.0) * (lit(1.0) -
        sqrt(lit(t) * col("n_tot").cast("double") / col("c").cast("double"))))
        .cast("long"))
      .select(col("w"), col("thr"))
    val surv = toks.join(broadcast(thr), "w")
      .filter(pmod(graft.rel.JoinCard.splitmix64(
        col("doc_id") * lit(100000L) + col("i")), lit(4294967296L))
        >= col("thr"))
      .withColumn("j", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("i"))))
      .select(col("doc_id"), col("j"), col("w"))
    import s.implicits._
    surv.select(col("doc_id"), col("j"), col("w").as("center"))
      .crossJoin(broadcast(offsets.toDF("off")))
      .withColumn("jc", col("j") + col("off"))
      .join(surv.select(col("doc_id"), col("j").as("jc"),
        col("w").as("context")), Seq("doc_id", "jc"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("center"), col("context"))
  }

  // ------------------------------------------------- GloVe co-occurrence
  /** Distance-weighted co-occurrence matrix (q172) — the GloVe
    * preprocessing pass (Pennington, Socher & Manning 2014, §4: "word
    * pairs that are d words apart contribute 1/d to the count"): for
    * window W = 4, the 1/d fractions scale EXACTLY by LCM(1..4) = 12 —
    * weights 12, 6, 4, 3 — so X_ij accumulates as a pure BIGINT
    * twelfths-count, summation-order-proof with no float drift (the
    * reference implementations carry float accumulators whose totals
    * depend on shard order; a 100 TB matrix build cannot).
    *
    * Symmetric windows (context both sides), full stream (GloVe does
    * not subsample — that is q170's word2vec rule). Output is the
    * vocab²-bounded upper triangle (wa ≤ wb) with the twelfths weight
    * and the raw pair count.
    *
    * Scale: same offset equi-join shape as q170 — explode, per-doc
    * positions, join on (doc, i+d); the aggregate is vocab²-bounded and
    * map-side combined. */
  def q172_glove_cooc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = Seq((1, 12L), (2, 6L), (3, 4L), (4, 3L))
    val toks = docToks(s, dir).filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
    val right = toks.select(col("doc_id"), col("i").as("j"),
      col("w").as("wr"))
    toks
      .crossJoin(broadcast(weights.toDF("d", "w12")))
      .withColumn("j", col("i") + col("d"))
      .join(right, Seq("doc_id", "j"))
      .select(least(col("w"), col("wr")).as("wa"),
        greatest(col("w"), col("wr")).as("wb"), col("w12"))
      .groupBy(col("wa"), col("wb"))
      .agg(sum(col("w12")).as("x12"), count(lit(1)).as("n_pairs"))
      .orderBy(col("wa"), col("wb"))
  }

  // ------------------------------------------------- negative sampling
  /** Negative-sampling noise table (q171) — the third leg of the
    * word2vec preprocessing (phrases q161/q162, subsampled pairs q170):
    * negatives draw from the unigram distribution raised to 3/4
    * (Mikolov et al. 2013 §2.2 — the published smoothing that lifts
    * rare-word probability). Weights integerize as
    * round(10⁶·c^0.75); pow is NOT correctly rounded, so — per the
    * q151 boundary protocol — the spec asserts every vocabulary
    * count's fractional part sits ≥ 10⁻⁴ from the .5 rounding
    * boundary (measured ≥ 9·10⁻³ across SFs, five orders above a
    * 1-ulp divergence). The K = 1000 draws use the q157 Madow
    * systematic closed form over the cumulative micro-weight line —
    * integer, join-free, and within 1 of K·w/W per word by the
    * systematic-sampling guarantee (also spec-asserted).
    *
    * Scale: the table is vocabulary-sized; the prefix sum runs over
    * vocab rows (catalog, not corpus — the corpus only feeds one
    * map-side-combined count aggregate). */
  def q171_negative_sampling(s: SparkSession, dir: String): DataFrame = {
    val K = 1000L
    val cnt = docToks(s, dir)
      .select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val wm = cnt.withColumn("w_micro",
      round(lit(1e6) * pow(col("c").cast("double"), lit(0.75)))
        .cast("long"))
    val win = Window.orderBy(col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = wm.agg(sum(col("w_micro")).as("w_total"))
    val spans = wm
      .withColumn("cum", sum(col("w_micro")).over(win))
      .withColumn("st", col("cum") - col("w_micro"))
      .crossJoin(broadcast(tot))
    val f = (x: String) => s"greatest(0L, least($K, " +
      s"(2 * $K * $x - w_total + 2 * w_total - 1) div (2 * w_total)))"
    val wAll = Window.partitionBy()
    spans
      .withColumn("n_draws", expr(s"${f("cum")} - ${f("st")}"))
      .withColumn("draws_complete",
        sum(col("n_draws")).over(wAll) === K)
      .select(col("w"), col("c"), col("w_micro"), col("n_draws"),
        col("draws_complete"))
      .orderBy(col("w"))
  }

  // ---------------------------------------------------------------- oracle

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  private lazy val miningOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |bi AS (SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
       |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       |unic AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot
       |  FROM (SELECT unnest(t) FROM toks)),
       |scored AS (SELECT w1, w2, c12, u1.c1 AS c_w1, u2.c1 AS c_w2,
       |    CAST((CAST(1000000 AS HUGEINT) * (c12 - 5) * tot) //
       |      (CAST(u1.c1 AS HUGEINT) * u2.c1) AS BIGINT) AS score_micro
       |  FROM bic JOIN unic u1 ON bic.w1 = u1.w
       |  JOIN unic u2 ON bic.w2 = u2.w, tot),
       |rk AS (SELECT *, CAST(row_number() OVER
       |    (ORDER BY score_micro DESC, w1, w2) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT rank, w1, w2, c12, c_w1, c_w2, score_micro
       |FROM rk WHERE rank <= 30 ORDER BY rank""".stripMargin

  private lazy val mergeOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |bi AS (SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
       |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       |unic AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot
       |  FROM (SELECT unnest(t) FROM toks)),
       |scored AS (SELECT w1, w2,
       |    CAST((CAST(1000000 AS HUGEINT) * (c12 - 5) * tot) //
       |      (CAST(u1.c1 AS HUGEINT) * u2.c1) AS BIGINT) AS score_micro
       |  FROM bic JOIN unic u1 ON bic.w1 = u1.w
       |  JOIN unic u2 ON bic.w2 = u2.w, tot),
       |ph AS (SELECT w1, w2 FROM (SELECT *, row_number() OVER
       |    (ORDER BY score_micro DESC, w1, w2) AS rank FROM scored)
       |  WHERE rank <= 30),
       |pos AS (SELECT doc_id, len(t) AS n_before, i - 1 AS i, t[i] AS w,
       |    t[i+1] AS w_next
       |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
       |  WHERE len(t) >= 1),
       |mt AS (SELECT p.*, (ph.w1 IS NOT NULL) AS m
       |  FROM pos p LEFT JOIN ph
       |    ON p.w = ph.w1 AND p.w_next = ph.w2),
       |grps AS (SELECT *, SUM(CASE WHEN m THEN 0 ELSE 1 END) OVER
       |    (PARTITION BY doc_id ORDER BY i
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM mt),
       |rns AS (SELECT *, row_number() OVER
       |    (PARTITION BY doc_id, grp, m ORDER BY i) - 1 AS rn
       |  FROM grps),
       |mg AS (SELECT *, m AND rn % 2 = 0 AS merge_start FROM rns),
       |cons AS (SELECT *, COALESCE(lag(merge_start) OVER
       |    (PARTITION BY doc_id ORDER BY i), FALSE) AS consumed,
       |    CASE WHEN m AND rn % 2 = 0 THEN w || '_' || w_next
       |         ELSE w END AS out_tok
       |  FROM mg)
       |SELECT doc_id, CAST(n_before AS INTEGER) AS n_before,
       |  CAST(COUNT(*) AS BIGINT) AS n_after,
       |  CAST(SUM(CASE WHEN merge_start THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_merges,
       |  md5(COALESCE(string_agg(out_tok, ' ' ORDER BY i), '')) AS digest
       |FROM cons WHERE NOT consumed
       |GROUP BY doc_id, n_before ORDER BY doc_id""".stripMargin

  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val skipgramOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH toks AS (SELECT doc_id, i - 1 AS i, t[i] AS w
       |  FROM (SELECT doc_id, $DToks AS t FROM documents),
       |    unnest(range(1, len(t) + 1)) AS u(i) WHERE len(t) >= 1),
       |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM toks),
       |thr AS (SELECT w, CAST(round(4294967296.0 * (1.0 -
       |    sqrt(0.01 * CAST(n_tot AS DOUBLE) / CAST(c AS DOUBLE))))
       |    AS BIGINT) AS thr
       |  FROM cnt, n),
       |zs AS (SELECT doc_id, i, w,
       |    CAST(doc_id * 100000 + i AS HUGEINT) AS z FROM toks),
       |s1 AS (SELECT doc_id, i, w, $z1 AS z1 FROM zs),
       |s2 AS (SELECT doc_id, i, w, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT doc_id, i, w, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, i, w, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT doc_id, i, w, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, i, w, xor(z3, z3 // 2147483648) AS m FROM s5),
       |surv AS (SELECT doc_id, w,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS j
       |  FROM s6 JOIN thr USING (w)
       |  WHERE CAST(m % 4294967296 AS BIGINT) >= thr),
       |pairs AS (SELECT a.w AS center, b.w AS context
       |  FROM surv a
       |  JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) o ON TRUE
       |  JOIN surv b ON b.doc_id = a.doc_id AND b.j = a.j + o.off)
       |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM pairs GROUP BY 1, 2 ORDER BY center, context""".stripMargin
  }

  // ------------------------------------------------------------- registry
  // -------------------------------------------- q211 distinctive terms
  private val TopDistinct = 10

  /** Per-source distinctive vocabulary (q211) — the "Fightin' Words"
    * log-odds-with-Dirichlet-prior comparison (Monroe, Colaresi & Quinn
    * 2008, Political Analysis 16(4)): for every (source, term), the
    * smoothed log-odds delta between the source's usage and the rest of
    * the corpus,
    *   δ = [ln(y_s+α) − ln(n_s+Vα−y_s−α)] − [ln(y_r+α) − ln(n_r+Vα−y_r−α)]
    * with the uniform α = 1 prior — the source-characterization report
    * a mixture designer reads before weighting ("what IS this crawl?").
    * Every ln is of an integer count (the q191 micro-nat class),
    * integerized per term BEFORE ranking, so the ranking and the top-10
    * slice hash-gate exactly; ties break on the term string.
    *
    * Scale shape: one token-count aggregate per (source, term)
    * (vocabulary-bounded — Heaps), a broadcast join of per-source and
    * global totals, and a rank ≤ K per-source window — the bounded-heap
    * WindowGroupLimit shape, never a global sort. */
  def q211_distinctive_terms(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documentsFanned(s, dir)
      .select(col("source"), explode(Cleanse.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("y_s"))
    val gt = st.groupBy(col("term")).agg(sum(col("y_s")).as("y_all"))
    val totals = st.groupBy(col("source")).agg(sum(col("y_s")).as("n_s"))
    val grand = broadcast(gt.agg(sum(col("y_all")).as("n_all"),
      count(lit(1)).as("vocab")))
    // shared ln (r18 verdict item 4): the gated micro-nat is the
    // engine-neutral formula on both sides
    def lnMicro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      graft.functions.SharedLn.lnMicro(c)
    val scored = st.join(broadcast(gt), Seq("term"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(grand)
      .withColumn("y_r", col("y_all") - col("y_s"))
      .withColumn("n_r", col("n_all") - col("n_s"))
      .withColumn("delta_micro",
        (lnMicro(col("y_s") + 1) -
          lnMicro(col("n_s") + col("vocab") - col("y_s") - 1)) -
          (lnMicro(col("y_r") + 1) -
            lnMicro(col("n_r") + col("vocab") - col("y_r") - 1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("delta_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= TopDistinct)
      .select(col("source"), col("rank"), col("term"), col("y_s"),
        col("y_r"), col("delta_micro"))
      .orderBy(col("source"), col("rank"))
  }

  private lazy val distinctiveOracle: String = {
    s"""WITH st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y_s
       |  FROM (SELECT source, unnest($DToks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |gt AS (SELECT term, CAST(SUM(y_s) AS BIGINT) AS y_all
       |  FROM st GROUP BY 1),
       |totals AS (SELECT source, CAST(SUM(y_s) AS BIGINT) AS n_s
       |  FROM st GROUP BY 1),
       |grand AS (SELECT CAST(SUM(y_all) AS BIGINT) AS n_all,
       |    CAST(COUNT(*) AS BIGINT) AS vocab FROM gt),
       |sc0 AS (SELECT st.source, st.term, st.y_s,
       |    gt.y_all - st.y_s AS y_r,
       |    st.y_s + 1 AS a1,
       |    t.n_s + g.vocab - st.y_s - 1 AS a2,
       |    gt.y_all - st.y_s + 1 AS a3,
       |    g.n_all - t.n_s + g.vocab - (gt.y_all - st.y_s) - 1 AS a4
       |  FROM st JOIN gt USING (term) JOIN totals t USING (source)
       |  CROSS JOIN grand g),
       |scl AS (${graft.functions.SharedLn.oracleLn("sc0",
          Seq("source", "term", "y_s", "y_r"),
          Seq(("__l1", "a1"), ("__l2", "a2"), ("__l3", "a3"),
            ("__l4", "a4")))}),
       |scored AS (SELECT source, term, y_s, y_r,
       |    (${graft.functions.SharedLn.microSql("__l1")} -
       |     ${graft.functions.SharedLn.microSql("__l2")}) -
       |    (${graft.functions.SharedLn.microSql("__l3")} -
       |     ${graft.functions.SharedLn.microSql("__l4")})
       |      AS delta_micro
       |  FROM scl),
       |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY delta_micro DESC, term) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT source, rank, term, y_s, y_r, delta_micro
       |FROM ranked WHERE rank <= $TopDistinct
       |ORDER BY source, rank""".stripMargin
  }

  // ---------------------------------------------------- q221 PPMI pairs
  /** Positive pointwise mutual information over the ±2 skip-gram window
    * — the count-based association score whose factorization IS the
    * classic distributional embedding (Church & Hanks 1990 for PMI;
    * Levy & Goldberg 2014, "Neural word embedding as implicit matrix
    * factorization", for why PPMI·SVD rivals word2vec). Pair events are
    * ORDERED (center, context) so the marginals are plain row/column
    * sums; PPMI quantizes per the house micro-nat rule — each ln of an
    * INTEGER count rounded once, the score a sum of four roundings,
    * clamped at zero (q203/q212 class):
    *   ppmi_micro = max(0, lnM(n_ab) + lnM(N) − lnM(c_a) − lnM(k_b)).
    * The n ≥ 5 support floor is the published practice (rare-pair PMI
    * explodes) and is mirrored in both engines.
    *
    * Scale shape: the pair table is vocab²-bounded with map-side
    * combine; marginals are vocab-sized broadcasts; the top-20 is a
    * bounded heap. The corpus feeds exactly one (doc, pos) self-join —
    * the q170/q172 equi-join shape, never a window. */
  def q221_ppmi_pairs(s: SparkSession, dir: String): DataFrame = {
    val toks = docToks(s, dir).filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
    val right = toks.select(col("doc_id"), col("i").as("j"),
      col("w").as("ctx"))
    import s.implicits._
    val pairs = toks
      .crossJoin(broadcast(Seq(-2, -1, 1, 2).toDF("d")))
      .withColumn("j", col("i") + col("d"))
      .join(right, Seq("doc_id", "j"))
      .groupBy(col("w").as("a"), col("ctx").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val n = pairs.agg(sum(col("n_ab")).as("n")).select(col("n"))
    val ca = pairs.groupBy(col("a")).agg(sum(col("n_ab")).as("c_a"))
    val kb = pairs.groupBy(col("b")).agg(sum(col("n_ab")).as("k_b"))
    def lnM(c: org.apache.spark.sql.Column) =
      graft.functions.SharedLn.lnMicro(c)
    pairs.filter(col("n_ab") >= 5)
      .join(broadcast(ca), Seq("a"))
      .join(broadcast(kb), Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("ppmi_micro",
        greatest(lit(0L),
          lnM(col("n_ab")) + lnM(col("n")) - lnM(col("c_a"))
            - lnM(col("k_b"))))
      .orderBy(col("ppmi_micro").desc, col("a"), col("b"))
      .limit(20)
      .select(col("a"), col("b"), col("n_ab"), col("c_a"), col("k_b"),
        col("ppmi_micro"))
  }

  private lazy val ppmiOracle: String =
    s"""WITH toks AS (SELECT doc_id, i - 1 AS i, t[i] AS w
       |  FROM (SELECT doc_id, $DToks AS t FROM documents),
       |    unnest(range(1, len(t) + 1)) AS u(i) WHERE len(t) >= 2),
       |pairs AS (SELECT a.w AS a, b.w AS b,
       |    CAST(COUNT(*) AS BIGINT) AS n_ab
       |  FROM toks a CROSS JOIN (VALUES (-2), (-1), (1), (2)) v(d)
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + v.d
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM pairs),
       |ca AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS c_a
       |  FROM pairs GROUP BY 1),
       |kb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS k_b
       |  FROM pairs GROUP BY 1),
       |sc0 AS (SELECT p.a, p.b, p.n_ab, ca.c_a, kb.k_b,
       |    (SELECT n FROM tot) AS n
       |  FROM pairs p JOIN ca USING (a) JOIN kb USING (b)
       |  WHERE p.n_ab >= 5),
       |scl AS (${graft.functions.SharedLn.oracleLn("sc0",
          Seq("a", "b", "n_ab", "c_a", "k_b"),
          Seq(("__lab", "n_ab"), ("__ln", "n"), ("__lca", "c_a"),
            ("__lkb", "k_b")))}),
       |sc AS (SELECT a, b, n_ab, c_a, k_b,
       |    greatest(0,
       |      ${graft.functions.SharedLn.microSql("__lab")}
       |      + ${graft.functions.SharedLn.microSql("__ln")}
       |      - ${graft.functions.SharedLn.microSql("__lca")}
       |      - ${graft.functions.SharedLn.microSql("__lkb")})
       |      AS ppmi_micro
       |  FROM scl)
       |SELECT a, b, n_ab, c_a, k_b, ppmi_micro FROM sc
       |ORDER BY ppmi_micro DESC, a, b LIMIT 20""".stripMargin

  // -------------------------------------------- q253 Dunning G² pairs
  /** q253: log-likelihood-ratio collocations (Dunning, CL 1993 —
    * "Accurate methods for the statistics of surprise and
    * coincidence", THE collocation significance test): for each
    * adjacent bigram, G² = 2·Σ_cells c·ln(c·N/(r·s)) over the 2×2
    * contingency of (first word = a) × (second word = b) across all N
    * bigram positions. Dunning's point vs PMI (q221): the LLR is valid
    * at SMALL counts where PMI explodes on singletons — which is
    * exactly why both belong in the phrase-mining toolbox. The
    * integer lift is q245's: every cell contributes
    * 2·c·(L(c·N) − L(r·s)) with L the micro-nat rounding of INTEGER
    * products (empty cells the exact 0 limit), so the statistic is
    * N·quantized and exactly summable; support floor c(ab) ≥ 5,
    * top-20 by statistic.
    *
    * Scale shape: one bigram aggregate (map-side combine), marginals
    * broadcast (vocabulary-sized), per-pair 2×2 algebra, bounded
    * heap; the N ≤ 3.04·10⁹ frontier carries the loud assert. */
  def q253_dunning_collocations(s: SparkSession, dir: String)
      : DataFrame = {
    val bi = docToks(s, dir).filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(element_at(t,i) AS a, element_at(t,i+1) AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bic = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c11"))
    val ra = bic.groupBy(col("a")).agg(sum(col("c11")).as("ca"))
    val cb = bic.groupBy(col("b")).agg(sum(col("c11")).as("cbn"))
    val tot = bic.agg(sum(col("c11")).as("nn"))
    def lmx(x: String) = s"CAST(round(1000000.0 * ln_shared($x)) AS BIGINT)"
    def cell(c: String, r: String, cs: String) =
      s"CASE WHEN $c > 0 THEN $c * (${lmx(s"($c) * nn")} - " +
        s"${lmx(s"($r) * ($cs)")}) ELSE 0 END"
    bic.filter(col("c11") >= 5L)
      .join(broadcast(ra), Seq("a"))
      .join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .filter(coalesce(assert_true(
        expr("nn <= 3037000499L"),
        lit("G2 cell product c*N would overflow BIGINT: move the " +
          "micro-nat arguments to DECIMAL(38,0) at this corpus scale")),
        lit(true)))
      .selectExpr("a", "b", "c11", "ca", "cbn", "nn",
        s"""2 * (${cell("c11", "ca", "cbn")} +
           |${cell("(ca - c11)", "ca", "(nn - cbn)")} +
           |${cell("(cbn - c11)", "(nn - ca)", "cbn")} +
           |${cell("(nn - ca - cbn + c11)", "(nn - ca)", "(nn - cbn)")})
           |AS g2_unat""".stripMargin.replace('\n', ' '))
      .select(col("a"), col("b"), col("c11").as("n_pair"),
        col("ca").as("n_first"), col("cbn").as("n_second"),
        col("g2_unat"),
        expr("g2_unat div nn").as("g2_micro"))
      .orderBy(col("g2_unat").desc, col("a"), col("b"))
      .limit(20)
  }

  private lazy val dunningOracle: String = {
    def cell(c: String, num: String, den: String) =
      s"CASE WHEN $c > 0 THEN $c * (${graft.functions.SharedLn.microSql(num)} - " +
        s"${graft.functions.SharedLn.microSql(den)}) ELSE 0 END"
    val lnLayer = graft.functions.SharedLn.oracleLn("g0",
      Seq("a", "b", "c11", "ca", "cbn", "nn"),
      Seq(
        ("__c1n", "c11 * nn"), ("__r1", "ca * cbn"),
        ("__c2n", "(ca - c11) * nn"), ("__r2", "ca * (nn - cbn)"),
        ("__c3n", "(cbn - c11) * nn"), ("__r3", "(nn - ca) * cbn"),
        ("__c4n", "(nn - ca - cbn + c11) * nn"),
        ("__r4", "(nn - ca) * (nn - cbn)")))
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |bi AS (SELECT t[i] AS a, t[i+1] AS b
       |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
       |bic AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c11
       |  FROM bi GROUP BY 1, 2),
       |ra AS (SELECT a, CAST(SUM(c11) AS BIGINT) AS ca FROM bic
       |  GROUP BY 1),
       |cbt AS (SELECT b, CAST(SUM(c11) AS BIGINT) AS cbn FROM bic
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c11) AS BIGINT) AS nn FROM bic),
       |g0 AS (SELECT bic.a, bic.b, bic.c11, ra.ca, cbt.cbn, tot.nn
       |  FROM bic JOIN ra USING (a) JOIN cbt USING (b) CROSS JOIN tot
       |  WHERE bic.c11 >= 5),
       |gl AS ($lnLayer),
       |g AS (SELECT a, b, c11, ca, cbn, nn,
       |    2 * (${cell("c11", "__c1n", "__r1")} +
       |    ${cell("(ca - c11)", "__c2n", "__r2")} +
       |    ${cell("(cbn - c11)", "__c3n", "__r3")} +
       |    ${cell("(nn - ca - cbn + c11)", "__c4n", "__r4")})
       |      AS g2_unat
       |  FROM gl)
       |SELECT a, b, c11 AS n_pair, ca AS n_first, cbn AS n_second,
       |  g2_unat, g2_unat // nn AS g2_micro
       |FROM g ORDER BY g2_unat DESC, a, b LIMIT 20""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q253_dunning_collocations" -> (q253_dunning_collocations _),
    "q221_ppmi_pairs" -> (q221_ppmi_pairs _),
    "q211_distinctive_terms" -> (q211_distinctive_terms _),
    "q161_phrase_mining" -> (q161_phrase_mining _),
    "q162_phrase_merge" -> (q162_phrase_merge _),
    "q170_skipgram_pairs" -> (q170_skipgram_pairs _),
    "q171_negative_sampling" -> (q171_negative_sampling _),
    "q172_glove_cooc" -> (q172_glove_cooc _))

  private lazy val gloveOracle: String =
    s"""WITH toks AS (SELECT doc_id, i - 1 AS i, t[i] AS w
       |  FROM (SELECT doc_id, $DToks AS t FROM documents),
       |    unnest(range(1, len(t) + 1)) AS u(i) WHERE len(t) >= 2),
       |wt AS (SELECT * FROM (VALUES (1, 12), (2, 6), (3, 4), (4, 3))
       |  v(d, w12)),
       |pairs AS (SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
       |    wt.w12
       |  FROM toks a CROSS JOIN wt
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + wt.d)
       |SELECT wa, wb, CAST(SUM(w12) AS BIGINT) AS x12,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs GROUP BY 1, 2 ORDER BY wa, wb""".stripMargin

  private lazy val negativeOracle: String = {
    val k = 1000L
    def f(x: String) = s"greatest(0, least($k, " +
      s"(2 * $k * ($x) - w_total + 2 * w_total - 1) // (2 * w_total)))"
    s"""WITH toks AS (SELECT unnest($DToks) AS w FROM documents),
       |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
       |wm AS (SELECT w, c, CAST(round(1000000.0 *
       |    pow(CAST(c AS DOUBLE), 0.75)) AS BIGINT) AS w_micro FROM cnt),
       |tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM wm),
       |spans AS (SELECT w, c, w_micro,
       |    CAST(SUM(w_micro) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM wm),
       |h AS (SELECT w, c, w_micro,
       |    ${f("cum")} - ${f("cum - w_micro")} AS n_draws
       |  FROM spans, tot)
       |SELECT w, c, w_micro, CAST(n_draws AS BIGINT) AS n_draws,
       |  (SELECT SUM(n_draws) FROM h) = $k AS draws_complete
       |FROM h ORDER BY w""".stripMargin
  }

  override val oracle: Map[String, String] = Map(
    "q253_dunning_collocations" -> dunningOracle,
    "q221_ppmi_pairs" -> ppmiOracle,
    "q211_distinctive_terms" -> distinctiveOracle,
    "q161_phrase_mining" -> miningOracle,
    "q162_phrase_merge" -> mergeOracle,
    "q170_skipgram_pairs" -> skipgramOracle,
    "q171_negative_sampling" -> negativeOracle,
    "q172_glove_cooc" -> gloveOracle)
}
