package graft.text

import graft.{Pins, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eval-set n-gram decontamination (q144) — the published GPT-3 /
  * Pile-style overlap rule (Brown et al. 2020 appendix C; Gao et al.
  * 2020): a training document is CONTAMINATED if it shares any n-gram
  * with a held-out evaluation document. This is the fuzzy complement of
  * the exact-hash Bloom decontamination (q52/q80): exact matching misses
  * quotations/partial copies; n-gram overlap catches them.
  *
  * Fixture: the eval set is the deterministic md5(doc_id) 1-in-8 slice
  * (the q87b/q117 split discipline — exactly reproducible in SQL); n = 5
  * token-grams (the corpus' docs are hundreds of tokens, so 5-grams are
  * discriminative the way 13-grams are on real text). Output is
  * per-TRAINING-doc: gram counts, DISTINCT overlapping grams, and the
  * contamination flag — the audit a decontamination pass must emit
  * before it deletes anything.
  *
  * Scale shape: eval grams are one distinct projection of the (small)
  * eval slice; the overlap is a hash semi-join keyed on the gram — the
  * inverted-index access path again, with map-side partial distinct on
  * (doc, gram). At 100 TB the eval side is ~10^6 grams (eval suites are
  * small by construction) — broadcastable, and the documented downgrade
  * is a Bloom of eval grams probed map-side (q80's shape) when even
  * that is too wide: a Bloom false positive only flags an extra doc for
  * review, never drops eval coverage. */
object Overlap extends graft.QueryModule {

  private val N = 5

  private def gramFrame(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      // guard BEFORE the transform: Spark's sequence(1, 0) steps DOWN
      // ([1,0]), so a short doc would emit junk grams instead of none
      .filter(size(col("t")) >= N)
      .withColumn("is_eval",
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1),
          16, 10).cast("int") % 8 === 0)
      .select(col("doc_id"), col("is_eval"), explode(expr(
        s"""transform(sequence(1, greatest(size(t) - ${N - 1}, 0)),
           |  i -> concat_ws(' ', element_at(t,i), element_at(t,i+1),
           |    element_at(t,i+2), element_at(t,i+3), element_at(t,i+4)))"""
          .stripMargin.replace('\n', ' '))).as("g"))

  def q144_ngram_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = gramFrame(s, dir)
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("g")).distinct()
    val train = grams.filter(!col("is_eval"))
      .select(col("doc_id"), col("g")).distinct()
    val hits = train.join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .withColumn("contaminated", col("n_hit_grams") > 0)
      .orderBy(col("doc_id"))
  }

  private lazy val overlapOracle: String =
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split(trim(text), ' '), t -> t <> '') AS t,
       |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT)
       |      % 8 = 0) AS is_eval
       |  FROM documents
       |  WHERE len(list_filter(string_split(trim(text), ' '),
       |    t -> t <> '')) >= $N),
       |grams AS (SELECT doc_id, is_eval, unnest(
       |    list_transform(range(1, greatest(len(t) - ${N - 1}, 0) + 1),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))
       |    AS g
       |  FROM toks),
       |ev AS (SELECT DISTINCT g FROM grams WHERE is_eval),
       |tr AS (SELECT DISTINCT doc_id, g FROM grams WHERE NOT is_eval),
       |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_grams
       |  FROM tr WHERE g IN (SELECT g FROM ev) GROUP BY 1),
       |base AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM tr GROUP BY 1)
       |SELECT b.doc_id, b.n_grams,
       |  COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       |  COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
       |FROM base b LEFT JOIN hits h USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ------------------------------------------ q150 containment join
  /** Containment threshold (permille). */
  private val ContainT = 900

  /** Asymmetric gram-set containment join (q150) — subset/quotation
    * detection: pairs where C(A→B) = |G_A ∩ G_B| / |G_A| ≥ 0.9. Symmetric
    * Jaccard dedup (q30/q33/q79) misses exactly these: a document
    * swallowed by a much larger one scores low Jaccard but is still a
    * duplicate for training purposes (the containment variant of the
    * SSJoin/PPJoin family — Chaudhuri, Ganti & Kaushik ICDE 2006;
    * Xiao et al. WWW 2008).
    *
    * Candidate generation is the LOSSLESS containment prefix filter: if
    * C(A→B) ≥ t then B must share at least one of A's ⌊(1−t)·|A|⌋+1
    * rarest grams (missing all of them already loses > (1−t)·|A|).
    * Ordering the prefix by ascending global df minimizes candidates but
    * ANY such subset is sound — which is why the oracle can be the plain
    * exact threshold computation and still hash-match. Exact
    * verification counts the true intersection only for candidate
    * pairs. At 100 TB: gram df is the postings-length table (computed
    * once, Heaps-bounded keys), the prefix join keys on RARE grams (df
    * small by construction — the hot-bucket problem solves itself), and
    * the verify join touches Σ_candidates |A| rows; the documented
    * dense-id swap (q79's long-id lesson) applies when gram strings
    * outgrow comfortable join keys. */
  def q150_containment_join(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    // feeds df, sizes, prefix, and both verify sides
    val grams = pins.pin(gramFrame(s, dir).select(col("doc_id"), col("g")).distinct())
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfG = grams.groupBy(col("g")).agg(count(lit(1)).as("df_g"))
    val wPfx = Window.partitionBy(col("doc_id"))
      .orderBy(col("df_g"), col("g"))
    val prefix = grams
      .join(dfG, Seq("g"))
      .join(sizes, Seq("doc_id"))
      .withColumn("pr", row_number().over(wPfx))
      .filter(col("pr") <= expr(s"n div 10 + 1")) // ⌊(1−0.9)·n⌋ + 1
      .select(col("doc_id").as("doc_a"), col("g"), col("n").as("n_a"))
    val cand = prefix
      .join(grams.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"))
      .distinct()
    val inter = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("g")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("g")),
        Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 1000 >= lit(ContainT) * col("n_a"))
    inter
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("inter"),
        expr("(1000 * inter) div n_a").as("containment_permille"),
        expr("(1000 * inter) div (n_a + n_b - inter)").as("jaccard_permille"))
      .withColumn("subset_not_neardup",
        col("jaccard_permille") < ContainT)
      .orderBy(col("doc_a"), col("doc_b"))
      // the pair-count-sized result, pinned before the scope releases the
      // corpus-scale gram table — bench median-of-5 repeats a query 5×,
      // and accumulated pins measurably inflate later in-sequence queries
      // (round-14 advice item)
      .localCheckpoint()
  }

  private lazy val containOracle: String =
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split(trim(text), ' '), t -> t <> '') AS t
       |  FROM documents),
       |g AS (SELECT DISTINCT doc_id, unnest(
       |    list_transform(range(1, greatest(len(t) - ${N - 1}, 0) + 1),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))
       |    AS gr
       |  FROM toks WHERE len(t) >= $N),
       |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g
       |  GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS i
       |  FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, i AS inter,
       |  CAST((1000 * i) // sa.n AS BIGINT) AS containment_permille,
       |  CAST((1000 * i) // (sa.n + sb.n - i) AS BIGINT)
       |    AS jaccard_permille,
       |  (1000 * i) // (sa.n + sb.n - i) < $ContainT AS subset_not_neardup
       |FROM inter JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE i * 1000 >= $ContainT * sa.n
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- q206 novelty curve
  /** Per-document n-gram NOVELTY (q206) — the marginal-information
    * signal data-pruning recipes rank by (the "what does this doc add
    * that the corpus before it didn't have?" question behind
    * deduplication-aware selection, cf. Lee et al. 2022 §5's analysis
    * of duplicate text memorization and SemDeDup's marginal-utility
    * framing): for each document, the fraction of its distinct token
    * 3-grams whose FIRST corpus occurrence (minimum doc_id — the
    * arrival order) is this document. A near-duplicate of earlier
    * material scores near 0; genuinely new text scores near 1000.
    *
    * Scale shape: one distinct (doc, gram) projection, one gram-keyed
    * min-aggregate for first occurrences, one join back on the SAME
    * gram key (the shuffle partitioning is reused — no second
    * repartition), one per-doc rollup. All corpus-linear, no windows,
    * no value grids; the q33 stop-gram caps are unnecessary because
    * nothing fans out beyond the doc's own gram list. */
  def q206_novelty_curve(s: SparkSession, dir: String): DataFrame = {
    val dg = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), col("source"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("g"))
      .distinct()
    val first = dg.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    dg.join(first, Seq("g"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_permille", expr("(1000 * n_novel) div n_grams"))
      .orderBy(col("doc_id"))
  }

  private lazy val noveltyOracle: String =
    s"""WITH toks AS (SELECT doc_id, source,
       |    ${CorpusFilters.DToks} AS t FROM documents),
       |dg AS (SELECT DISTINCT doc_id, source,
       |    unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM toks WHERE len(t) >= 3),
       |fo AS (SELECT g, MIN(doc_id) AS first_doc FROM dg GROUP BY g)
       |SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  (1000 * CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS novelty_permille
       |FROM dg JOIN fo USING (g)
       |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- registry
  // ------------------------------------- q186 cross-source contamination
  /** Source-pair contamination matrix: for every pair of corpus sources,
    * the shared distinct token-3-gram mass and both directed containments
    * (|G_a ∩ G_b| / |G_a| in permille) — the governance report that says
    * "how much of source A already lives in source B" BEFORE a training
    * mix is frozen (the cross-split twin of the q52/q80/q144 eval-set
    * decontamination family; same shingle granularity as q33).
    *
    * Scale shape: one distinct (source, gram) projection (map-side
    * distinct into a gram-keyed shuffle), then the inverted gram index
    * expands each gram to its source PAIRS — bounded by sources², never
    * by the corpus (a gram row fans out to at most C(|sources|, 2)
    * pairs). Per-source gram totals are a catalog-sized rollup broadcast
    * onto the pair frame. Output is |sources|² rows — metadata. */
  def q186_source_contamination(s: SparkSession, dir: String): DataFrame = {
    val sg = Tables.documentsFanned(s, dir)
      .select(col("source"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("g"))
      .distinct()
    val totals = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val inter = sg.alias("a").join(sg.alias("b"), Seq("g"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("n_grams").as("grams_a"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("n_grams").as("grams_b"))), "source_b")
      .selectExpr("source_a", "source_b", "grams_a", "grams_b", "inter",
        "(1000 * inter) div grams_a AS cont_ab_permille",
        "(1000 * inter) div grams_b AS cont_ba_permille")
      .orderBy(col("source_a"), col("source_b"))
  }

  private lazy val contaminationOracle: String =
    s"""WITH toks AS (SELECT source, ${CorpusFilters.DToks} AS t FROM documents),
       |sg AS (SELECT DISTINCT source,
       |    unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM toks WHERE len(t) >= 3),
       |totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
       |  FROM sg GROUP BY source),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b,
       |  ta.n_grams AS grams_a, tb.n_grams AS grams_b, inter,
       |  (1000 * inter) // ta.n_grams AS cont_ab_permille,
       |  (1000 * inter) // tb.n_grams AS cont_ba_permille
       |FROM inter
       |JOIN totals ta ON ta.source = source_a
       |JOIN totals tb ON tb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------- q243 winnowing
  private val WinK = 4 // token k-grams
  private val WinW = 4 // window of consecutive gram hashes

  /** q243: winnowing document fingerprints (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): hash every token
    * [[WinK]]-gram, slide a window of [[WinW]] consecutive hashes, and
    * select each window's minimum (RIGHTMOST minimum on ties, per the
    * paper §2.2 — the choice that makes selection position-local). The
    * guarantee that makes this the fingerprinting rung above plain
    * 0 mod p sampling (q39): every match of length ≥ w+k−1 between two
    * documents shares at least one selected fingerprint, and expected
    * density is 2/(w+1) — bounded fingerprints per doc with NO
    * match-length blind spots.
    *
    * Exact arithmetic: gram hash = the house 60-bit md5 prefix; the
    * (min h, rightmost p) selection is one min(struct(h, −p)) per
    * window — lexicographic struct comparison in both engines — and
    * the per-doc digest xors h ⊕ (p·2²⁰) over the DISTINCT selected
    * set. Docs need ≥ w+k−1 tokens (one full window) — filtered
    * identically in both engines.
    *
    * Scale shape: each gram lands in ≤ w windows (a 4× explode of the
    * gram stream with map-side bounds), one shuffle keyed
    * (doc, window), distinct selections, per-doc rollup. The digest
    * makes the fingerprint SET the gated content — the q219 register
    * discipline applied to MOSS. */
  def q243_winnowing(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= WinK + WinW - 1)
    val grams = toks
      .select(col("doc_id"),
        (size(col("t")) - (WinK - 1)).as("gn"),
        posexplode(expr(
          s"""transform(sequence(1, size(t) - ${WinK - 1}),
             |  i -> concat_ws(' ', element_at(t,i), element_at(t,i+1),
             |    element_at(t,i+2), element_at(t,i+3)))"""
            .stripMargin.replace('\n', ' '))))
      .select(col("doc_id"), col("gn"), (col("pos") + 1).as("p"),
        conv(substring(md5(col("col").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val sels = grams
      .select(col("doc_id"), col("p"), col("h"),
        explode(expr(s"sequence(greatest(p - ${WinW - 1}, 1), " +
          s"least(p, gn - ${WinW - 1}))")).as("win"))
      .groupBy(col("doc_id"), col("win"))
      .agg(min(struct(col("h"), (-col("p")).as("np"))).as("sel"))
      .select(col("doc_id"), col("sel.h").as("h"),
        (-col("sel.np")).as("p"))
      .distinct()
    val perDoc = sels.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        expr("bit_xor(h ^ (p * 1048576L))").as("fp_digest"))
    toks.select(col("doc_id"),
        (size(col("t")) - (WinK - 1)).cast("long").as("n_grams"),
        (size(col("t")) - (WinK + WinW - 2)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_windows"),
        col("n_fp"),
        expr("(1000 * n_fp) div n_windows").as("density_permille"),
        col("fp_digest"))
      .orderBy(col("doc_id"))
  }

  private lazy val winnowOracle: String =
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split(trim(text), ' '), t -> t <> '') AS t
       |  FROM documents),
       |ok AS (SELECT doc_id, t FROM toks
       |  WHERE len(t) >= ${WinK + WinW - 1}),
       |grams AS (SELECT doc_id, len(t) - ${WinK - 1} AS gn,
       |    CAST(u.i AS BIGINT) AS p,
       |    CAST('0x' || substring(md5(t[u.i] || ' ' || t[u.i+1] || ' ' ||
       |      t[u.i+2] || ' ' || t[u.i+3]), 1, 15) AS BIGINT) AS h
       |  FROM ok, unnest(range(1, len(t) - ${WinK - 1} + 1)) AS u(i)),
       |wins AS (SELECT doc_id, CAST(w.i AS BIGINT) AS win, p, h
       |  FROM grams, unnest(range(GREATEST(p - ${WinW - 1}, 1),
       |    LEAST(p, gn - ${WinW - 1}) + 1)) AS w(i)),
       |sel AS (SELECT doc_id, win,
       |    MIN(struct_pack(h := h, np := -p)) AS s
       |  FROM wins GROUP BY 1, 2),
       |fp AS (SELECT DISTINCT doc_id, s.h AS h, -s.np AS p FROM sel),
       |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
       |    CAST(bit_xor(xor(h, p * 1048576)) AS BIGINT) AS fp_digest
       |  FROM fp GROUP BY 1)
       |SELECT o.doc_id,
       |  CAST(len(o.t) - ${WinK - 1} AS BIGINT) AS n_grams,
       |  CAST(len(o.t) - ${WinK + WinW - 2} AS BIGINT) AS n_windows,
       |  pd.n_fp,
       |  (1000 * pd.n_fp) // (len(o.t) - ${WinK + WinW - 2})
       |    AS density_permille,
       |  pd.fp_digest
       |FROM ok o JOIN pd USING (doc_id) ORDER BY o.doc_id""".stripMargin

  // ------------------------------------- q276 distinct-n diversity
  /** q276: distinct-n lexical diversity per source (the distinct-1/
    * distinct-2 metrics of Li et al., NAACL 2016 "A Diversity-
    * Promoting Objective" — the standard template/boilerplate smell
    * beside q51's Gopher repetition scores: repetition reads
    * WITHIN-doc self-copy, distinct-n reads ACROSS-doc formulaicity,
    * which is how template farms evade per-doc filters).
    *
    * Exactness: pure count ratios — distinct unigrams/bigrams over
    * their totals, permille by one integer division each; bigrams by
    * in-doc adjacency (transform over the token array, the q161
    * shape). No floats anywhere.
    *
    * Scale shape: two (source, gram) rollups off the fanned corpus
    * pass, Heaps-bounded outputs; one source rollup each. */
  def q276_distinct_n(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsFanned(s, dir)
      .select(col("source"), Cleanse.tokens(col("text")).as("t"))
    val uni = toks
      .select(col("source"), explode(col("t")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_uni"),
        countDistinct(col("g")).as("d_uni"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(t[i - 1], ' ', t[i]))")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bi"),
        countDistinct(col("g")).as("d_bi"))
    uni.join(bi, Seq("source"), "left_outer")
      .select(col("source"), col("n_uni"), col("d_uni"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("d_bi"), lit(0L)).as("d_bi"),
        expr("(1000 * d_uni) div n_uni").as("distinct1_permille"),
        expr("(1000 * coalesce(d_bi, 0L)) div " +
          "greatest(coalesce(n_bi, 0L), 1L)").as("distinct2_permille"))
      .orderBy(col("source"))
  }

  private lazy val distinctNOracle: String = {
    val dToks = graft.text.CorpusFilters.DToks
    s"""WITH toks AS (SELECT source, $dToks AS t FROM documents),
       |uni AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_uni,
       |    CAST(COUNT(DISTINCT g) AS BIGINT) AS d_uni
       |  FROM (SELECT source, unnest(t) AS g FROM toks) GROUP BY 1),
       |bi AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bi,
       |    CAST(COUNT(DISTINCT g) AS BIGINT) AS d_bi
       |  FROM (SELECT source, unnest(list_transform(
       |      range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
       |    FROM toks WHERE len(t) >= 2) GROUP BY 1)
       |SELECT uni.source, uni.n_uni, uni.d_uni,
       |  COALESCE(bi.n_bi, 0) AS n_bi, COALESCE(bi.d_bi, 0) AS d_bi,
       |  (1000 * uni.d_uni) // uni.n_uni AS distinct1_permille,
       |  (1000 * COALESCE(bi.d_bi, 0)) //
       |    GREATEST(COALESCE(bi.n_bi, 0), 1) AS distinct2_permille
       |FROM uni LEFT JOIN bi USING (source) ORDER BY uni.source"""
      .stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q276_distinct_n" -> (q276_distinct_n _),
    "q243_winnowing" -> (q243_winnowing _),
    "q144_ngram_decontaminate" -> (q144_ngram_decontaminate _),
    "q150_containment_join" -> (q150_containment_join _),
    "q186_source_contamination" -> (q186_source_contamination _),
    "q206_novelty_curve" -> (q206_novelty_curve _))

  override val oracle: Map[String, String] = Map(
    "q276_distinct_n" -> distinctNOracle,
    "q243_winnowing" -> winnowOracle,
    "q144_ngram_decontaminate" -> overlapOracle,
    "q150_containment_join" -> containOracle,
    "q186_source_contamination" -> contaminationOracle,
    "q206_novelty_curve" -> noveltyOracle)
}
