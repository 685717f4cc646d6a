package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kneser-Ney-smoothed bigram LM scoring — the exact-arithmetic form of
  * the KenLM perplexity filter that CCNet / LLaMA / RedPajama run as the
  * primary quality gate (Wenzek et al. 2020 §4.3; Heafield 2011; smoothing
  * from Kneser & Ney 1995 / Chen & Goodman 1999). One rung up from q68's
  * interpolated bigram (which needs float λ mixing): absolute discounting
  * with d = 3/4 and the CONTINUATION unigram as the backoff makes the
  * whole probability a single rational with integer numerator and
  * denominator, so the score integerizes without any float seam.
  *
  * With c(v,w) bigram counts, c(v·) = Σ_w c(v,w), N1+(v·) = |{w : c(v,w)
  * > 0}|, N1+(·w) = |{v : c(v,w) > 0}|, B = |{(v,w) : c(v,w) > 0}| and
  * d = 3/4:
  *
  *   P_KN(w|v) = max(c(v,w) − d, 0)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/B
  *             = [ max(4c − 3, 0)·B + 3·N1+(v·)·N1+(·w) ] / [ 4·c(v·)·B ]
  *
  * Both sides of the fraction are exact BIGINTs; per-bigram micro-nat
  * log-probs follow the house quantize-before-sum rule (q203/q125):
  * round(10⁶·ln num) − round(10⁶·ln den), two integer-ln roundings, then
  * an exact per-document sum. The keep flag is an integer cross-
  * multiplication (2·Σlp ≥ −19·10⁶·n ⇔ mean lp ≥ −9.5 nats) — both
  * engines compare identical BIGINTs, so there is no knife-edge at all.
  *
  * Exactness witness (spec-asserted): Σ_{w : c(v,w)>0} num(v,w) =
  * 4·c(v·)·B − 3·N1+(v·)·B + 3·N1+(v·)·Σ_w N1+(·w) = den(v), because
  * Σ_w N1+(·w) = B — the KN normalization identity survives the integer
  * lift EXACTLY (the mass that discounting removes is precisely what the
  * continuation backoff redistributes).
  *
  * Scale shape: the model tables are vocabulary-bounded (ctx/cont) and
  * vocabulary²-bounded (bigram types) — corpus-independent in the limit
  * (Heaps). The score join shuffles on the bigram key exactly like q68
  * (map-side combine shrinks the count side); ctx and cont broadcast. The
  * products c·B reach BIGINT limits when corpus-bigrams × bigram-types
  * ≳ 2⁶¹ — the loud assert below names the DECIMAL(38,0) swap, the q202
  * protocol.
  */
object KneserNey extends graft.QueryModule {

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))

  def q212_kneser_ney(s: SparkSession, dir: String): DataFrame = {
    val bi = docToks(s, dir).filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(element_at(t,i) AS w1, element_at(t,i+1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bic = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = bic.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1v"), count(lit(1)).as("n1f"))
    val cont = bic.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    // total distinct bigram types — catalog-sized count (vocab²-bounded)
    val b = bic.count()
    bi
      .join(bic, Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      // 4·c·B and 3·N1f·N1b must fit a BIGINT; past that scale the
      // rational moves to DECIMAL(38,0) — fail loudly, never wrap
      .filter(coalesce(assert_true(
        expr(s"4 * c12 <= (${Long.MaxValue}L div ${math.max(b, 1L)}L) " +
          s"and 4 * c1v <= (${Long.MaxValue}L div ${math.max(b, 1L)}L) " +
          s"and 3 * n1f <= (${Long.MaxValue}L div greatest(n1b, 1L))"),
        lit("KN rational would overflow BIGINT: swap numerator/denominator " +
          "to DECIMAL(38,0) at this corpus scale")), lit(true)))
      // shared ln (r18 verdict item 4): both engines evaluate the same
      // arithmetic DAG for the micro-nat, no libm knife edge
      .withColumn("lp",
        graft.functions.SharedLn.lnMicro(
          expr(s"greatest(4 * c12 - 3, 0L) * ${b}L + 3 * n1f * n1b")) -
          graft.functions.SharedLn.lnMicro(expr(s"4 * c1v * ${b}L")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp_micro"))
      .withColumn("keep",
        lit(2L) * col("sum_lp_micro") >= lit(-19000000L) * col("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_lp_micro"),
        col("keep"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------- q222 holdout eval
  /** Holdout perplexity evaluation of the KN model — learn→apply loop
    * over the q217 split boundary: the bigram model (counts, context and
    * continuation tables) trains on the TRAIN split only, then scores
    * every split's bigrams, so the train-vs-val micro-nat gap is the
    * overfitting surface a filter-retrain pipeline watches (the KenLM
    * analogue of an eval-loss curve; CCNet holds out exactly this way).
    * Scoring classifies each bigram: seen pair → full KN rational;
    * unseen pair with seen context AND seen continuation → the backoff
    * term alone (3·N1f·N1b over 4·c(v·)·B — exactly the mass KN
    * reserves); anything else is an OOV event, COUNTED but not scored
    * (a zero-probability continuation has no finite log — the honest
    * accounting, not a fudge floor). The `no_overfit` flag is an exact
    * integer cross-multiplication of the train/val mean log-probs.
    *
    * Scale shape: q212's model tables (vocab/vocab²-bounded) built from
    * the train partition of one corpus scan; scoring joins shuffle on
    * the bigram key with the vocab-sized tables broadcast; output is 3
    * rows. The split is the q217 pure-hash function — no doc can leak
    * across the boundary between runs. */
  def q222_kn_holdout(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .withColumn("bucket",
        pmod(graft.rel.JoinCard.splitmix64(col("doc_id")), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("split"), explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(element_at(t,i) AS w1, element_at(t,i+1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("split"), col("b.w1").as("w1"),
        col("b.w2").as("w2"))
    val trainBi = bi.filter(col("split") === "train")
    val bic = trainBi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = bic.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1v"), count(lit(1)).as("n1f"))
    val cont = bic.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val b = bic.count()
    val scored = bi
      .join(bic, Seq("w1", "w2"), "left_outer")
      .join(broadcast(ctx), Seq("w1"), "left_outer")
      .join(broadcast(cont), Seq("w2"), "left_outer")
      .withColumn("scoreable",
        col("c1v").isNotNull && col("n1b").isNotNull)
      // q212's guard, mirrored: the identical KN rational products
      // (4·c12·B, 4·c1v·B, 3·N1f·N1b) must fit a BIGINT here too, or
      // the holdout scorer would silently wrap at exactly the corpus
      // scale where its batch twin fails loudly (NULLs from the outer
      // joins coalesce to 0 — unscoreable rows can't overflow)
      .filter(coalesce(assert_true(
        expr(s"4 * coalesce(c12, 0L) <= " +
          s"(${Long.MaxValue}L div ${math.max(b, 1L)}L) " +
          s"and 4 * coalesce(c1v, 0L) <= " +
          s"(${Long.MaxValue}L div ${math.max(b, 1L)}L) " +
          s"and 3 * coalesce(n1f, 0L) <= " +
          s"(${Long.MaxValue}L div greatest(coalesce(n1b, 1L), 1L))"),
        lit("KN holdout rational would overflow BIGINT: swap " +
          "numerator/denominator to DECIMAL(38,0) at this corpus " +
          "scale")), lit(true)))
      .withColumn("num",
        when(col("c12").isNotNull,
          expr(s"greatest(4 * c12 - 3, 0L) * ${b}L + 3 * n1f * n1b"))
          .otherwise(expr(s"3 * n1f * n1b")))
      .withColumn("lp",
        when(col("scoreable"),
          graft.functions.SharedLn.lnMicro(col("num")) -
            graft.functions.SharedLn.lnMicro(expr(s"4 * c1v * ${b}L")))
          .otherwise(lit(0L)))
    val perSplit = scored.groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(when(col("scoreable"), 1L).otherwise(0L)).as("n_scored"),
        sum(when(!col("scoreable"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("lp")).as("sum_lp_micro"))
    // exact cross-multiplied mean comparison: train mean >= val mean
    val gap = perSplit.filter(col("split").isin("train", "val"))
      .groupBy()
      .agg(
        max(when(col("split") === "train", col("sum_lp_micro"))).as("s_t"),
        max(when(col("split") === "train", col("n_scored"))).as("n_t"),
        max(when(col("split") === "val", col("sum_lp_micro"))).as("s_v"),
        max(when(col("split") === "val", col("n_scored"))).as("n_v"))
      .select((col("s_t") * col("n_v") >= col("s_v") * col("n_t"))
        .as("no_overfit"))
    perSplit.crossJoin(broadcast(gap))
      .select(col("split"), col("n_docs"), col("n_bigrams"),
        col("n_scored"), col("n_oov"), col("sum_lp_micro"),
        col("no_overfit"))
      .orderBy(col("split"))
  }

  // ---------------------------------------------------------------- oracle

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val holdoutOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH d0 AS (SELECT doc_id, $DToks AS t,
       |    CAST(doc_id AS HUGEINT) AS z FROM documents),
       |s1 AS (SELECT doc_id, t, $z1 AS z1 FROM d0),
       |s2 AS (SELECT doc_id, t, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT doc_id, t, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, t, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT doc_id, t, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, t, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sp AS (SELECT doc_id, t,
       |    CASE WHEN (((CASE WHEN m >= 9223372036854775808
       |        THEN m - 18446744073709551616 ELSE m END) % 100) + 100)
       |        % 100 < 80 THEN 'train'
       |      WHEN (((CASE WHEN m >= 9223372036854775808
       |        THEN m - 18446744073709551616 ELSE m END) % 100) + 100)
       |        % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM s6),
       |bi AS (SELECT doc_id, split, t[i] AS w1, t[i+1] AS w2
       |  FROM sp, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
       |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bi WHERE split = 'train' GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1v,
       |    CAST(COUNT(*) AS BIGINT) AS n1f FROM bic GROUP BY 1),
       |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
       |  FROM bic GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bic),
       |sc0 AS (SELECT bi.doc_id, bi.split,
       |    (ctx.c1v IS NOT NULL AND cont.n1b IS NOT NULL) AS scoreable,
       |    CASE WHEN bic.c12 IS NOT NULL
       |      THEN greatest(4 * bic.c12 - 3, 0) * tot.b
       |        + 3 * ctx.n1f * cont.n1b
       |      ELSE 3 * ctx.n1f * cont.n1b END AS numx,
       |    4 * ctx.c1v * tot.b AS denx
       |  FROM bi
       |  LEFT JOIN bic USING (w1, w2)
       |  LEFT JOIN ctx USING (w1)
       |  LEFT JOIN cont USING (w2), tot),
       |scl AS (${graft.functions.SharedLn.oracleLn("sc0",
          Seq("doc_id", "split", "scoreable"),
          Seq(("__lnum", "numx"), ("__lden", "denx")))}),
       |sc AS (SELECT doc_id, split, scoreable,
       |    CASE WHEN scoreable THEN
       |      ${graft.functions.SharedLn.microSql("__lnum")}
       |      - ${graft.functions.SharedLn.microSql("__lden")}
       |    ELSE 0 END AS lp
       |  FROM scl),
       |ps AS (SELECT split, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
       |      AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN scoreable THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_scored,
       |    CAST(SUM(CASE WHEN scoreable THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_oov,
       |    CAST(SUM(lp) AS BIGINT) AS sum_lp_micro
       |  FROM sc GROUP BY 1),
       |gap AS (SELECT
       |    MAX(CASE WHEN split = 'train' THEN sum_lp_micro END)
       |      * MAX(CASE WHEN split = 'val' THEN n_scored END)
       |    >= MAX(CASE WHEN split = 'val' THEN sum_lp_micro END)
       |      * MAX(CASE WHEN split = 'train' THEN n_scored END)
       |      AS no_overfit
       |  FROM ps WHERE split IN ('train', 'val'))
       |SELECT ps.split, ps.n_docs, ps.n_bigrams, ps.n_scored, ps.n_oov,
       |  ps.sum_lp_micro, gap.no_overfit
       |FROM ps CROSS JOIN gap ORDER BY ps.split""".stripMargin
  }

  private lazy val knOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
       |bic AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM bi GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1v,
       |    CAST(COUNT(*) AS BIGINT) AS n1f FROM bic GROUP BY 1),
       |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
       |  FROM bic GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bic),
       |t0 AS (SELECT doc_id,
       |    greatest(4 * c12 - 3, 0) * b + 3 * n1f * n1b AS numx,
       |    4 * c1v * b AS denx
       |  FROM bi JOIN bic USING (w1, w2) JOIN ctx USING (w1)
       |  JOIN cont USING (w2), tot),
       |tl AS (${graft.functions.SharedLn.oracleLn("t0", Seq("doc_id"),
          Seq(("__lnum", "numx"), ("__lden", "denx")))}),
       |terms AS (SELECT doc_id,
       |    ${graft.functions.SharedLn.microSql("__lnum")}
       |    - ${graft.functions.SharedLn.microSql("__lden")} AS lp
       |  FROM tl),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(lp) AS BIGINT) AS sum_lp_micro FROM terms GROUP BY 1)
       |SELECT doc_id, n_bigrams, sum_lp_micro,
       |  (2 * sum_lp_micro >= -19000000 * n_bigrams) AS keep
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- registry
  // ------------------------------------------------ q249 Good-Turing
  private val GtMaxR = 10

  /** q249: Good-Turing frequency re-estimation (Good 1953; the
    * frequency-of-frequencies table Gale & Sampson 1995 call the
    * method's entire empirical input) over the corpus unigrams — the
    * smoothing rung BESIDE Kneser-Ney's absolute discounting: KN
    * subtracts a fixed d, GT re-estimates each count r as
    * r* = (r+1)·N_{r+1}/N_r from the N_r table itself, and the unseen
    * mass is P₀ = N₁/N — Turing's estimate of how much probability the
    * corpus has never shown you. Computed over TRIGRAM types — exactly
    * where Katz backoff applies GT, and the scope was MEASURED first:
    * the 31-word unigram vocabulary has NO low counts (every N_{r≤11}
    * = 0, a degenerate table), while trigrams read N₁ = 9424,
    * N₂ = 4532 at sf0.01 — the live Zipf tail the method exists for.
    * For r = 1..10: N_r, r*_micro = (10⁶·(r+1)·N_{r+1}) div N_r, and
    * the corpus summary (instances, types, P₀ permille, singleton
    * share) rides every row. All exact floor divisions.
    *
    * Scale shape: trigram counts (map-side combine, type-bounded),
    * then a ≤ max(r) frequency-of-frequencies rollup — catalog math. */
  def q249_good_turing(s: SparkSession, dir: String): DataFrame = {
    val tf = docToks(s, dir).filter(size(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(t)-2), i -> concat_ws(' ', " +
          "element_at(t,i), element_at(t,i+1), element_at(t,i+2)))"))
        .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    val tot = tf.agg(sum(col("r")).as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      sum(when(col("r") === 1L, 1L).otherwise(0L)).as("n1"))
    val nr = tf.filter(col("r") <= GtMaxR + 1)
      .groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val grid = s.range(1, GtMaxR + 1).select(col("id").as("r"))
    grid.join(nr, Seq("r"), "left_outer")
      .withColumn("n_r", coalesce(col("n_r"), lit(0L)))
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")),
        Seq("r"), "left_outer")
      .withColumn("n_r1", coalesce(col("n_r1"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"), col("n_r1").as("n_r_plus_1"),
        when(col("n_r") > 0L,
          expr("(1000000 * (r + 1) * n_r1) div n_r")).otherwise(lit(null))
          .as("r_star_micro"),
        col("n_tokens"), col("n_vocab"),
        expr("(1000 * n1) div n_tokens").as("p0_permille"),
        expr("(1000 * n1) div n_vocab").as("singleton_permille"))
      .orderBy(col("r"))
  }

  private lazy val gtOracle: String =
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split(trim(text), ' '), t -> t <> '') AS t
       |  FROM documents),
       |g AS (SELECT t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS w
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3),
       |tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM g GROUP BY w),
       |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_vocab,
       |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM tf),
       |nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf
       |  WHERE r <= ${GtMaxR + 1} GROUP BY r),
       |grid AS (SELECT CAST(unnest(range(1, ${GtMaxR + 1})) AS BIGINT)
       |    AS r)
       |SELECT g.r, COALESCE(a.n_r, 0) AS n_r,
       |  COALESCE(b.n_r, 0) AS n_r_plus_1,
       |  CASE WHEN COALESCE(a.n_r, 0) > 0 THEN
       |    (1000000 * (g.r + 1) * COALESCE(b.n_r, 0)) // a.n_r
       |    ELSE NULL END AS r_star_micro,
       |  tot.n_tokens, tot.n_vocab,
       |  (1000 * tot.n1) // tot.n_tokens AS p0_permille,
       |  (1000 * tot.n1) // tot.n_vocab AS singleton_permille
       |FROM grid g LEFT JOIN nr a ON a.r = g.r
       |LEFT JOIN nr b ON b.r = g.r + 1
       |CROSS JOIN tot ORDER BY g.r""".stripMargin

  // ------------------------------------------------ q250 Katz backoff
  /** Katz's discount cutoff: counts above k keep their raw value
    * (Katz 1987 §2 — "large counts are reliable"). */
  private val KatzK = 5L
  /** round(10⁶·ln 10⁶) — the quantization constant the discounted
    * probabilities divide through; derived from the shared
    * engine-neutral ln so it stays consistent with every other L()
    * value in the score (r18: the libm knife-edge retirement). */
  private val LnMegaMicro: Long =
    math.round(1e6 * graft.functions.SharedLnUtil.ln(1000000L))

  /** q250: Katz backoff TRIGRAM scoring (Katz, IEEE TASSP 1987) — the
    * third LM rung, CONSUMING q249's Good-Turing table the way the
    * paper composes them. The model trains on the 80 % hash slice and
    * SCORES the held-out 20 % (the q217/q222 split discipline), at the
    * TRIGRAM order — both choices MEASURED: in-corpus bigram scoring
    * left every event 'seen' and the backoff machinery dead code (the
    * 31-word vocabulary saturates bigrams), while held-out trigrams
    * read ~56 % seen / ~44 % backoff. Seen trigrams take the
    * GT-discounted probability c*(uvw)/c(uv·) with
    * c* = (r+1)·N_{r+1}/N_r for r ≤ [[KatzK]] (raw above the cutoff,
    * and raw when the N_r table is locally empty — the standard
    * practical fallback, applied IDENTICALLY in both engines); unseen
    * trigrams under a seen context take the leftover mass
    * β(uv) = 1 − Σ_seen c* / c(uv·) times the bigram conditional
    * P_ml(w\|v); an unseen CONTEXT backs off to the bigram conditional
    * outright.
    *
    * The exact lift: c* quantizes ONCE to micro units
    * (c*_micro = (10⁶·(r+1)·N_{r+1}) div N_r — integer, the q249 row),
    * β_num(uv) = 10⁶·c(uv·) − Σ c*_micro is a per-context BIGINT, and
    * log-probs are micro-nat roundings of INTEGER arguments:
    * seen lp = L(c*_micro) − L(c(uv·)) − L(10⁶); backoff lp =
    * L(β_num) − L(10⁶·c(uv·)) + L(c(vw)) − L(c(v·)); context-unseen
    * lp = L(c(vw)) − L(c(v·)). Events with no finite log (unseen
    * bigram; β = 0) are COUNTED as OOV, never floor-fudged — the q222
    * accounting. Per doc: n_seen/n_backoff/n_oov, the exact micro-nat
    * sum, and the q212-style keep flag by integer cross-multiplication.
    *
    * Scale shape: trigram/bigram model tables from the train partition
    * of one corpus scan (type-bounded), the ≤ (k+1)-row GT table
    * broadcast, scoring joins shuffled on the trigram key; the
    * overflow frontier (10⁶-scaled products) carries a loud assert. */
  def q250_katz_backoff(s: SparkSession, dir: String): DataFrame = {
    val toksAll = docToks(s, dir)
      .withColumn("bucket",
        pmod(graft.rel.JoinCard.splitmix64(col("doc_id")), lit(100L)))
    val train = toksAll.filter(col("bucket") < 80)
    val triExpr = "transform(sequence(1, size(t)-2), i -> struct(" +
      "element_at(t,i) AS w1, element_at(t,i+1) AS w2, " +
      "element_at(t,i+2) AS w3))"
    val tri = toksAll.filter(col("bucket") >= 80)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(triExpr)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"),
        col("b.w3").as("w3"))
    val trainTri = train.filter(size(col("t")) >= 3)
      .select(explode(expr(triExpr)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"),
        col("b.w3").as("w3"))
    val tric = trainTri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val ctx = tric.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("cv"))
    // bigram conditional model for the backoff leg
    val bic = train.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(element_at(t,i) AS w2, element_at(t,i+1) AS w3))"))
        .as("b"))
      .select(col("b.w2").as("w2"), col("b.w3").as("w3"))
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("cb"))
    val biv = bic.groupBy(col("w2")).agg(sum(col("cb")).as("cbv"))
    val nr = tric.filter(col("c3") <= KatzK + 1)
      .groupBy(col("c3").as("r")).agg(count(lit(1)).as("n_r"))
    // c*_micro per seen trigram: GT-discount r ≤ k when the local
    // table supports it, raw otherwise — broadcast ≤ k+1 rows
    val cstar = tric
      .join(broadcast(nr), col("c3") === col("r"), "left_outer")
      .drop("r")
      .join(broadcast(nr.select((col("r") - 1).as("c3"),
        col("n_r").as("n_r1"))), Seq("c3"), "left_outer")
      .filter(coalesce(assert_true(
        expr(s"coalesce(n_r1, 0L) <= ((${Long.MaxValue}L div 1000000L) " +
          s"div (c3 + 1))"),
        lit("Katz c* product would overflow BIGINT: move the GT " +
          "micros to DECIMAL(38,0) at this corpus scale")), lit(true)))
      .withColumn("cstar_micro",
        when(col("c3") <= KatzK && coalesce(col("n_r"), lit(0L)) > 0L &&
          coalesce(col("n_r1"), lit(0L)) > 0L,
          expr("(1000000 * (c3 + 1) * n_r1) div n_r"))
          .otherwise(col("c3") * 1000000L))
      .select(col("w1"), col("w2"), col("w3"), col("cstar_micro"))
    val beta = cstar.groupBy(col("w1"), col("w2"))
      .agg(sum(col("cstar_micro")).as("sum_cstar"))
      .join(ctx, Seq("w1", "w2"))
      .filter(coalesce(assert_true(
        expr(s"cv <= (${Long.MaxValue}L div 1000000L)"),
        lit("Katz beta base 1e6*c(uv.) would overflow BIGINT: swap to " +
          "DECIMAL(38,0) at this corpus scale")), lit(true)))
      .withColumn("beta_num", col("cv") * 1000000L - col("sum_cstar"))
      .select(col("w1"), col("w2"), col("cv"), col("beta_num"))
    // engine-neutral shared ln (functions.SharedLn) — bit-exact with
    // the oracle's generated formula; retires the libm knife-edge on
    // the per-trigram score surface (r17 verdict item 3)
    def lm(c: org.apache.spark.sql.Column) =
      graft.functions.SharedLn.lnMicro(c)
    val scored = tri
      .join(cstar, Seq("w1", "w2", "w3"), "left_outer")
      .join(broadcast(beta), Seq("w1", "w2"), "left_outer")
      .join(broadcast(bic), Seq("w2", "w3"), "left_outer")
      .join(broadcast(biv), Seq("w2"), "left_outer")
      .withColumn("mode",
        when(col("cstar_micro").isNotNull, "seen")
          .when(col("cv").isNotNull && col("beta_num") > 0L &&
            coalesce(col("cb"), lit(0L)) > 0L, "backoff")
          .when(col("cv").isNull && coalesce(col("cb"), lit(0L)) > 0L,
            "bigram")
          .otherwise("oov"))
      .withColumn("lp",
        when(col("mode") === "seen",
          lm(col("cstar_micro")) - lm(col("cv")) - lit(LnMegaMicro))
          .when(col("mode") === "backoff",
            lm(col("beta_num")) - lm(col("cv") * lit(1000000L)) +
              lm(col("cb")) - lm(col("cbv")))
          .when(col("mode") === "bigram",
            lm(col("cb")) - lm(col("cbv")))
          .otherwise(lit(0L)))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("mode") === "seen", 1L).otherwise(0L)).as("n_seen"),
        sum(when(col("mode").isin("backoff", "bigram"), 1L)
          .otherwise(0L)).as("n_backoff"),
        sum(when(col("mode") === "oov", 1L).otherwise(0L)).as("n_oov"),
        sum(col("lp")).as("sum_lp_micro"))
      .withColumn("keep",
        lit(2L) * col("sum_lp_micro") >=
          lit(-19000000L) * (col("n_trigrams") - col("n_oov")))
      .orderBy(col("doc_id"))
  }

  private lazy val katzOracle: String = {
    // micro-nat roundings consume graft.functions.SharedLn's generated
    // engine-neutral ln columns (scln layer) — the same IEEE op
    // sequence the Spark side runs, bit-exact by construction
    def lm(x: String) = graft.functions.SharedLn.microSql(x)
    val scln = graft.functions.SharedLn.oracleLn("sc",
      Seq("doc_id", "mode"),
      Seq(("l_cstar", "cstar_micro"), ("l_cv", "cv"),
        ("l_cvm", "cv * 1000000"), ("l_beta", "beta_num"),
        ("l_cb", "cb"), ("l_cbv", "cbv")))
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH d0 AS (SELECT doc_id, $DToks AS t,
       |    CAST(doc_id AS HUGEINT) AS z FROM documents),
       |s1 AS (SELECT doc_id, t, $z1 AS z1 FROM d0),
       |s2 AS (SELECT doc_id, t, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT doc_id, t, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, t, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT doc_id, t, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, t, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sp AS (SELECT doc_id, t,
       |    (((CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END) % 100) + 100)
       |      % 100 < 80 AS is_train
       |  FROM s6),
       |tri AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM sp, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3 AND NOT is_train),
       |ttri AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM sp, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 3 AND is_train),
       |tric AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
       |  FROM ttri GROUP BY 1, 2, 3),
       |ctx AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS cv
       |  FROM tric GROUP BY 1, 2),
       |bic AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cb FROM
       |  (SELECT t[i] AS w2, t[i+1] AS w3
       |    FROM sp, unnest(range(1, len(t))) AS u(i)
       |    WHERE len(t) >= 2 AND is_train) b GROUP BY 1, 2),
       |biv AS (SELECT w2, CAST(SUM(cb) AS BIGINT) AS cbv FROM bic
       |  GROUP BY 1),
       |nr AS (SELECT c3 AS r, CAST(COUNT(*) AS BIGINT) AS n_r
       |  FROM tric WHERE c3 <= ${KatzK + 1} GROUP BY 1),
       |cstar AS (SELECT tc.w1, tc.w2, tc.w3,
       |    CASE WHEN tc.c3 <= $KatzK AND COALESCE(a.n_r, 0) > 0
       |        AND COALESCE(b2.n_r, 0) > 0
       |      THEN (1000000 * (tc.c3 + 1) * b2.n_r) // a.n_r
       |      ELSE tc.c3 * 1000000 END AS cstar_micro
       |  FROM tric tc LEFT JOIN nr a ON a.r = tc.c3
       |  LEFT JOIN nr b2 ON b2.r = tc.c3 + 1),
       |beta AS (SELECT c.w1, c.w2, ctx.cv,
       |    ctx.cv * 1000000 - SUM(c.cstar_micro) AS beta_num
       |  FROM cstar c JOIN ctx ON ctx.w1 = c.w1 AND ctx.w2 = c.w2
       |  GROUP BY 1, 2, 3),
       |sc AS (SELECT tri.doc_id,
       |    CASE WHEN cs.cstar_micro IS NOT NULL THEN 'seen'
       |      WHEN bt.cv IS NOT NULL AND bt.beta_num > 0
       |        AND COALESCE(bg.cb, 0) > 0 THEN 'backoff'
       |      WHEN bt.cv IS NULL AND COALESCE(bg.cb, 0) > 0
       |        THEN 'bigram'
       |      ELSE 'oov' END AS mode,
       |    cs.cstar_micro, bt.cv, bt.beta_num, bg.cb, bv.cbv
       |  FROM tri
       |  LEFT JOIN cstar cs ON cs.w1 = tri.w1 AND cs.w2 = tri.w2
       |    AND cs.w3 = tri.w3
       |  LEFT JOIN beta bt ON bt.w1 = tri.w1 AND bt.w2 = tri.w2
       |  LEFT JOIN bic bg ON bg.w2 = tri.w2 AND bg.w3 = tri.w3
       |  LEFT JOIN biv bv ON bv.w2 = tri.w2),
       |scln AS ($scln),
       |lp AS (SELECT doc_id, mode,
       |    CASE mode
       |      WHEN 'seen' THEN ${lm("l_cstar")} - ${lm("l_cv")}
       |        - $LnMegaMicro
       |      WHEN 'backoff' THEN ${lm("l_beta")}
       |        - ${lm("l_cvm")} + ${lm("l_cb")} - ${lm("l_cbv")}
       |      WHEN 'bigram' THEN ${lm("l_cb")} - ${lm("l_cbv")}
       |      ELSE 0 END AS lp
       |  FROM scln),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |    CAST(SUM(CASE WHEN mode = 'seen' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_seen,
       |    CAST(SUM(CASE WHEN mode IN ('backoff', 'bigram') THEN 1
       |      ELSE 0 END) AS BIGINT) AS n_backoff,
       |    CAST(SUM(CASE WHEN mode = 'oov' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_oov,
       |    CAST(SUM(lp) AS BIGINT) AS sum_lp_micro
       |  FROM lp GROUP BY 1)
       |SELECT doc_id, n_trigrams, n_seen, n_backoff, n_oov, sum_lp_micro,
       |  (2 * sum_lp_micro >= -19000000 * (n_trigrams - n_oov)) AS keep
       |FROM d ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_kneser_ney" -> (q212_kneser_ney _),
    "q222_kn_holdout" -> (q222_kn_holdout _),
    "q249_good_turing" -> (q249_good_turing _),
    "q250_katz_backoff" -> (q250_katz_backoff _))

  override val oracle: Map[String, String] = Map(
    "q212_kneser_ney" -> knOracle,
    "q222_kn_holdout" -> holdoutOracle,
    "q249_good_turing" -> gtOracle,
    "q250_katz_backoff" -> katzOracle)
}
