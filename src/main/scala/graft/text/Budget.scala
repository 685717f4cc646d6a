package graft.text

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Training-mixture token budgeting (q140) — the allocator that decides
  * how many tokens each SOURCE contributes to a training run: waterfill
  * toward a uniform per-source level, capped by each source's available
  * mass times a max-epoch bound (the "don't repeat a small source more
  * than E times" rule every LLM data recipe carries — cf. the
  * repetition-harm analyses of Muennighoff et al. 2023, "Scaling
  * Data-Constrained Language Models", and the per-source epoch caps in
  * the Pile / LLaMA mixture tables).
  *
  * Formally: caps c_s = E·tokens_s, budget B = (1/2)·E·Σtokens. The
  * allocation is min(c_s, L*) with the WATER LEVEL
  * L* = max{L ∈ ℤ : Σ_s min(c_s, L) ≤ B} — unique by monotonicity, and
  * computable EXACTLY from the cap-sorted prefix sums: with caps
  * c_1 ≤ … ≤ c_K and inclusive prefixes P_j, source j is saturated iff
  * P_j + (K−j)·c_j ≤ B, and L* = (B − P_{j*}) div (K − j*) over the
  * saturated count j* (all-integer; when every source saturates,
  * allocation is the caps themselves). Both engines run the identical
  * window algebra, so the gate is exact — no floats anywhere.
  *
  * Scale shape: the ONLY corpus-scale work is the per-source token
  * count (one map-side-combined aggregate); the allocator itself runs
  * on K rows (K = |sources|, here 20 — catalogs, not corpora) through
  * two windows. At 100 TB identical: count, then O(K) math.
  */
object Budget extends graft.QueryModule {

  private val MaxEpochs = 3L

  /** The allocation frame (one row per source with tokens/cap/budget/
    * level/alloc/saturated) — q140's output core, reused by q143's
    * materialization step. */
  private[graft] def allocations(s: SparkSession, dir: String): DataFrame = {
    // corpus-scale half: per-source token counts, one agg
    val tok = Tables.documentsFanned(s, dir)
      .select(col("source"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("tokens"))
      .withColumn("cap", col("tokens") * MaxEpochs)
    // allocator half: K rows, window algebra only
    val wSort = Window.orderBy(col("cap"), col("source"))
    val wPrefix = wSort.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val ranked = tok
      // integer `div` throughout — Column./ is DOUBLE division in Spark
      .withColumn("total_cap3", sum(col("tokens")).over(wAll) * MaxEpochs)
      .withColumn("budget", expr("total_cap3 div 2"))
      .withColumn("j", row_number().over(wSort))
      .withColumn("pfx", sum(col("cap")).over(wPrefix))
      .withColumn("k_total", count(lit(1)).over(wAll))
      .withColumn("sat",
        col("pfx") + (col("k_total") - col("j")) * col("cap") <= col("budget"))
    val leveled = ranked
      .withColumn("j_sat", sum(when(col("sat"), 1L).otherwise(0L)).over(wAll))
      .withColumn("p_sat",
        sum(when(col("sat"), col("cap")).otherwise(0L)).over(wAll))
      .withColumn("max_cap", max(col("cap")).over(wAll))
      .withColumn("level",
        when(col("j_sat") === col("k_total"), col("max_cap"))
          .otherwise(expr("(budget - p_sat) div (k_total - j_sat)")))
      .withColumn("alloc", least(col("cap"), col("level")))
      .withColumn("epochs_milli", expr("(alloc * 1000) div tokens"))
    leveled.select(col("source"), col("tokens"), col("cap"), col("budget"),
      col("level"), col("alloc"), col("sat").as("saturated"),
      col("epochs_milli"))
  }

  def q140_token_waterfill(s: SparkSession, dir: String): DataFrame =
    allocations(s, dir).orderBy(col("source"))

  // ------------------------------------------- q143 mixture materialization
  /** q143 closes q140's learn→apply loop: the allocation becomes an
    * ACTUAL sampled corpus. Per source: `alloc div tokens` full epochs
    * of the whole source, plus a deterministic hash-ordered document
    * PREFIX consuming the remaining `alloc mod tokens` budget (greedy —
    * a doc is kept while the running token total fits; the md5(doc_id)
    * order is the house seeded-uniform, so the prefix is reproducible
    * anywhere). Reports per source what a shard writer would need:
    * kept docs/tokens per epoch tier and the utilization of the grant.
    *
    * Scale shape: one window per source over (source-hash-partitioned)
    * docs for the running sum — a single shuffle; the allocation frame
    * is broadcast. Epochs are ARITHMETIC (multiply by the full-epoch
    * count), never a physical repeat — exactly how a manifest encodes
    * multi-epoch sampling at 100 TB. */
  def q143_mixture_materialize(s: SparkSession, dir: String): DataFrame = {
    val alloc = allocations(s, dir)
      .select(col("source"), col("tokens"), col("alloc"))
    val docTok = Tables.documentsFanned(s, dir)
      .select(col("source"), col("doc_id"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val marked = docTok
      .join(broadcast(alloc), Seq("source"))
      .withColumn("cum", sum(col("tk")).over(wCum))
      .withColumn("rem", expr("alloc % tokens"))
      .withColumn("in_prefix", col("cum") <= col("rem"))
    marked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("tokens")).as("tokens"),
        max(col("alloc")).as("alloc"),
        sum(when(col("in_prefix"), 1L).otherwise(0L)).as("prefix_docs"),
        sum(when(col("in_prefix"), col("tk")).otherwise(0L))
          .as("prefix_tokens"))
      .withColumn("full_epochs", expr("alloc div tokens"))
      .withColumn("kept_docs",
        col("full_epochs") * col("n_docs") + col("prefix_docs"))
      .withColumn("kept_tokens",
        col("full_epochs") * col("tokens") + col("prefix_tokens"))
      .withColumn("utilization_permille",
        expr("(kept_tokens * 1000) div alloc"))
      .select(col("source"), col("n_docs"), col("tokens"), col("alloc"),
        col("full_epochs"), col("prefix_docs"), col("prefix_tokens"),
        col("kept_docs"), col("kept_tokens"), col("utilization_permille"))
      .orderBy(col("source"))
  }

  // ------------------------------------------- q152 curriculum manifest
  private val StepBudget = 2000L // tokens per training step (≈14 steps
  // at the 28k-token verify corpus — a step per ~20 docs, budget ≫ max doc)

  /** Length-curriculum step manifest (q152) — ascending-difficulty
    * ordering with length as the difficulty proxy (the curriculum-
    * learning recipe of Bengio et al. ICML 2009, with short-first
    * ordering also being the sequence-efficiency schedule of Li et al.
    * 2022's staged training): documents sort by (token count, doc_id)
    * and pack greedily into fixed-token-budget training STEPS (running
    * cumsum div budget — one window, no loop). Because steps are
    * CONTIGUOUS slices of a sorted order, the per-step length ranges
    * form a non-overlapping staircase — max_len(step k) ≤
    * min_len(step k+1) — which the output carries as a gated
    * `staircase_ok` column: a broken ordering or a mis-assigned doc
    * flips it in both engines.
    *
    * Scale shape: one global sort by a SHORT key (the one genuinely
    * global operation a curriculum needs — range partitioning, the
    * q123 layout machinery), one prefix-sum window, one aggregate to
    * O(steps) rows. Nothing else is corpus-global. */
  def q152_curriculum_steps(s: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documentsFanned(s, dir)
      .select(col("doc_id"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
    // distributed prefix sum in difficulty order (round-15): bucket by
    // the leading sort key's range — `tk div 64` is coarsely monotone in
    // (tk, doc_id), so the bucketed two-phase sum reproduces the global
    // running sum exactly while the per-bucket windows parallelize
    val steps = bucketedPrefixSum(docTok, expr("tk div 64"),
        Seq(col("tk"), col("doc_id")), col("tk"))
      .withColumn("step", expr(s"(cum - 1) div $StepBudget"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("tokens"),
        min(col("tk")).as("min_len"), max(col("tk")).as("max_len"))
    val wLag = Window.orderBy(col("step"))
    steps
      .withColumn("prev_max", lag(col("max_len"), 1).over(wLag))
      .withColumn("staircase_ok",
        col("prev_max").isNull || col("prev_max") <= col("min_len"))
      .select(col("step"), col("n_docs"), col("tokens"), col("min_len"),
        col("max_len"), col("staircase_ok"))
      .orderBy(col("step"))
  }

  private lazy val curriculumOracle: String =
    s"""WITH dt AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk
       |  FROM documents),
       |cum AS (SELECT doc_id, tk,
       |    CAST(SUM(tk) OVER (ORDER BY tk, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM dt),
       |steps AS (SELECT (cum - 1) // $StepBudget AS step,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(tk) AS BIGINT) AS tokens,
       |    MIN(tk) AS min_len, MAX(tk) AS max_len
       |  FROM cum GROUP BY 1)
       |SELECT step, n_docs, tokens, min_len, max_len,
       |  COALESCE(lag(max_len) OVER (ORDER BY step) <= min_len, TRUE)
       |    AS staircase_ok
       |FROM steps ORDER BY step""".stripMargin

  /** The allocator CTE chain (tok → caps → ranked → sat → lv → fin),
    * shared by the q140 gate and q143's materialization oracle. */
  private lazy val waterfillCoreCtes: String =
    s"""tok AS (SELECT source,
       |    CAST(SUM(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> ''))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |caps AS (SELECT source, tokens, tokens * $MaxEpochs AS cap FROM tok),
       |ranked AS (SELECT *,
       |    (SELECT SUM(tokens) * $MaxEpochs FROM caps) // 2 AS budget,
       |    ROW_NUMBER() OVER (ORDER BY cap, source) AS j,
       |    SUM(cap) OVER (ORDER BY cap, source
       |      ROWS UNBOUNDED PRECEDING) AS pfx,
       |    (SELECT COUNT(*) FROM caps) AS k_total
       |  FROM caps),
       |sat AS (SELECT *,
       |    pfx + (k_total - j) * cap <= budget AS sat FROM ranked),
       |lv AS (SELECT *,
       |    (SELECT SUM(CASE WHEN sat THEN 1 ELSE 0 END) FROM sat) AS j_sat,
       |    (SELECT SUM(CASE WHEN sat THEN cap ELSE 0 END) FROM sat) AS p_sat,
       |    (SELECT MAX(cap) FROM sat) AS max_cap
       |  FROM sat),
       |fin AS (SELECT *,
       |    CASE WHEN j_sat = k_total THEN max_cap
       |      ELSE (budget - p_sat) // (k_total - j_sat) END AS level
       |  FROM lv)""".stripMargin

  private lazy val waterfillOracle: String =
    s"""WITH $waterfillCoreCtes
       |SELECT source, tokens, cap,
       |  CAST(budget AS BIGINT) AS budget, CAST(level AS BIGINT) AS level,
       |  CAST(least(cap, level) AS BIGINT) AS alloc, sat AS saturated,
       |  CAST(least(cap, level) * 1000 // tokens AS BIGINT) AS epochs_milli
       |FROM fin ORDER BY source""".stripMargin

  private lazy val materializeOracle: String =
    s"""WITH $waterfillCoreCtes,
       |alc AS (SELECT source, tokens,
       |    CAST(least(cap, level) AS BIGINT) AS alloc FROM fin),
       |dt AS (SELECT source, doc_id,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk
       |  FROM documents),
       |cum AS (SELECT d.source, d.tk, a.tokens, a.alloc,
       |    CAST(SUM(d.tk) OVER (PARTITION BY d.source
       |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM dt d JOIN alc a USING (source)),
       |m AS (SELECT source, tokens, alloc,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN cum <= alloc % tokens THEN 1 ELSE 0 END)
       |      AS BIGINT) AS prefix_docs,
       |    CAST(SUM(CASE WHEN cum <= alloc % tokens THEN tk ELSE 0 END)
       |      AS BIGINT) AS prefix_tokens
       |  FROM cum GROUP BY 1, 2, 3)
       |SELECT source, n_docs, tokens, alloc,
       |  CAST(alloc // tokens AS BIGINT) AS full_epochs,
       |  prefix_docs, prefix_tokens,
       |  CAST(alloc // tokens * n_docs + prefix_docs AS BIGINT) AS kept_docs,
       |  CAST(alloc // tokens * tokens + prefix_tokens AS BIGINT)
       |    AS kept_tokens,
       |  CAST(((alloc // tokens * tokens + prefix_tokens) * 1000) // alloc
       |    AS BIGINT) AS utilization_permille
       |FROM m ORDER BY source""".stripMargin

  // ------------------------------------------- q156 sequence packing
  private val BlockLen = 256L

  /** DISTRIBUTED prefix sum over (doc_id, tk) — the two-phase bucketed
    * form, in pure DataFrame algebra (round-15: upgrades the prefix-sum
    * consumers from a global-ORDER-BY window, which Spark executes as a
    * SINGLE partition, to a plan that scales):
    *
    *   1. bucket by doc_id range (`div` [[CumBucket]]) and run the
    *      running sum INSIDE each bucket — `Window.partitionBy(bucket)`
    *      distributes across the cluster;
    *   2. per-bucket subtotals (catalog-sized: one row per bucket) get
    *      an exclusive running sum over the tiny bucket table;
    *   3. broadcast-join the bucket offsets back and add.
    *
    * Output is bit-identical to the single-window form (integer sums,
    * same total order), which is exactly what the unchanged DuckDB
    * oracles prove. At 100 TB: one hash shuffle on the bucket id, an
    * O(buckets) driver-side-scale window, one broadcast — no stage ever
    * sees the corpus in one task. */
  private val CumBucket = 1024L

  /** General form: `bucket` must be coarsely MONOTONE in `order` (every
    * row of bucket b orders before every row of bucket b+1) — true for
    * any `key div span` bucketing of the leading order key. Appends
    * `cum` = inclusive running sum of `value` in the global `order`.
    *
    * `part` (r21): optional partition keys — the prefix sum runs
    * INDEPENDENTLY inside each `part` group (bucket monotonicity is then
    * required per group, and the O(buckets) offsets window partitions by
    * the group instead of running single-partition). With `part` empty
    * the plan is the original global form, unchanged — this is what lets
    * several same-shaped rank chains share ONE pass (q183/q283's three
    * fused signals). */
  private[graft] def bucketedPrefixSum(df: DataFrame, bucket: Column,
      order: Seq[Column], value: Column,
      part: Seq[String] = Nil): DataFrame = {
    val partCols = part.map(col)
    val bucketed = df.withColumn("bkt", bucket)
    val wLocal = Window.partitionBy(partCols :+ col("bkt"): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = bucketed.withColumn("lcum", sum(value).over(wLocal))
    val wBkts = Window.partitionBy(partCols: _*).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(partCols :+ col("bkt"): _*)
      .agg(sum(value).as("bsum"))
      .withColumn("boff", coalesce(sum(col("bsum")).over(wBkts), lit(0L)))
      .select(partCols :+ col("bkt") :+ col("boff"): _*)
    local.join(broadcast(offsets), part :+ "bkt")
      .withColumn("cum", col("lcum") + col("boff"))
      .drop("bkt", "lcum")
  }

  private[graft] def prefixSumByDocId(docTok: DataFrame): DataFrame =
    bucketedPrefixSum(docTok, expr(s"doc_id div $CumBucket"),
      Seq(col("doc_id")), col("tk"))

  /** GPT-style pretraining sequence packing (q156) — the standard
    * concat-and-chop: documents concatenate in a deterministic order and
    * the token stream is cut into fixed [[BlockLen]]-token training
    * sequences (the packing used by GPT-2/3-lineage pretraining — Brown
    * et al. 2020 §2.3 "documents are packed into sequences"; T5's
    * "packing", Raffel et al. 2020). Emitted per block: how many docs
    * touch it, the doc-id span, the token fill, and how many documents
    * START inside it (the attention-reset/EOD-boundary count a trainer
    * materializes masks from).
    *
    * Everything derives from ONE prefix sum over per-doc token counts —
    * doc i occupies token interval [cum−tk, cum), so it touches blocks
    * ⌊st/B⌋..⌊(en−1)/B⌋ and contributes min(en,(b+1)B) − max(st,bB)
    * tokens to block b. All integer; both engines replay the identical
    * algebra, so block boundaries, fills and boundary counts gate
    * exactly.
    *
    * Scale shape: the doc-id-ordered cumulative sum is a
    * range-partitioned prefix sum (the q152/q123 machinery — one pass,
    * partition subtotals broadcast); the per-doc block explode is
    * tk/B + 1 rows (local fan-out bounded by doc length); the per-block
    * aggregate is map-side-combined on the block id. No corpus-global
    * state beyond the O(partitions) subtotal exchange. */
  def q156_sequence_packing(s: SparkSession, dir: String): DataFrame = {
    val spans = prefixSumByDocId(
      Tables.documentsFanned(s, dir)
        .select(col("doc_id"),
          size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
        .filter(col("tk") > 0)) // empty docs occupy no block interval
      .select(col("doc_id"), col("tk"),
        (col("cum") - col("tk")).as("st"), col("cum").as("en"))
    spans
      .select(col("doc_id"), col("st"), col("en"),
        explode(expr(s"sequence(st div $BlockLen, (en - 1) div $BlockLen)"))
          .as("block_id"))
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(s"least(en, (block_id + 1) * $BlockLen) " +
          s"- greatest(st, block_id * $BlockLen)")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(when(expr(s"st div $BlockLen") === col("block_id"), 1L)
          .otherwise(0L)).as("n_starts"))
      .orderBy(col("block_id"))
  }

  private lazy val packingOracle: String =
    s"""WITH dt AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk
       |  FROM documents),
       |cum AS (SELECT doc_id, tk,
       |    CAST(SUM(tk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM dt WHERE tk > 0),
       |spans AS (SELECT doc_id, cum - tk AS st, cum AS en FROM cum),
       |blk AS (SELECT doc_id, st, en,
       |    unnest(range(st // $BlockLen, (en - 1) // $BlockLen + 1)) AS b
       |  FROM spans)
       |SELECT CAST(b AS BIGINT) AS block_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(least(en, (b + 1) * $BlockLen)
       |    - greatest(st, b * $BlockLen)) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(SUM(CASE WHEN st // $BlockLen = b THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_starts
       |FROM blk GROUP BY 1 ORDER BY block_id""".stripMargin

  // -------------------------------------- q157 systematic PPS sampling
  private val PpsK = 64L

  /** Systematic probability-proportional-to-size sampling (q157) —
    * Madow (1949)'s systematic selection over the cumulative-size line:
    * with total weight W and k sample points t_j = ⌊(2j+1)·W / 2k⌋
    * (centered systematic grid), document i (token interval [st, en))
    * is drawn once per point falling in its interval. Inclusion counts
    * are E[n_hits] = k·w_i/W — the PPS primitive behind mixture
    * subsampling and eval-split draws — and the whole draw is INTEGER
    * arithmetic: n_hits = f(en) − f(st) with the closed form
    * f(x) = clamp(⌈(2kx − W)/2W⌉, 0, k) (no per-point join, no floats,
    * no RNG — determinism is the systematic grid itself).
    *
    * The `hits_complete` gate asserts Σ n_hits = k (every point lands in
    * exactly one interval) — a wrong cumsum, off-by-one in f, or a lost
    * interval flips it in both engines.
    *
    * Scale shape: one range-partitioned prefix sum, then a MAP-SIDE
    * closed form per doc (f(en) − f(st)) — no join against the point
    * set at all. Bound: 2k·x ≤ 2k·W needs W ≤ 2^63/(2k) ≈ 7.2e16
    * tokens at k = 64 — three orders above a 100 TB corpus. */
  def q157_systematic_pps(s: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), col("source"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
      .filter(col("tk") > 0)
    // total mass: map-side-combined 1-row aggregate, broadcast — never a
    // corpus-wide unpartitioned window
    val tot = docTok.agg(sum(col("tk")).as("w_total"))
    val spans = prefixSumByDocId(docTok)
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("tk"),
        (col("cum") - col("tk")).as("st"), col("cum").as("en"),
        col("w_total"))
    val hits = spans
      .withColumn("f_en", expr(s"greatest(0L, least($PpsK, " +
        s"(2 * $PpsK * en - w_total + 2 * w_total - 1) div (2 * w_total)))"))
      .withColumn("f_st", expr(s"greatest(0L, least($PpsK, " +
        s"(2 * $PpsK * st - w_total + 2 * w_total - 1) div (2 * w_total)))"))
      .withColumn("n_hits", col("f_en") - col("f_st"))
    // the completeness gate: Σ n_hits over ALL docs (selected or not) —
    // a 1-row map-side aggregate, broadcast onto the k-row result
    val complete = hits.agg((sum(col("n_hits")) === lit(PpsK))
      .as("hits_complete"))
    hits
      .filter(col("n_hits") >= 1)
      .crossJoin(broadcast(complete))
      .select(col("doc_id"), col("source"), col("tk").as("weight"),
        col("n_hits"), col("hits_complete"))
      .orderBy(col("doc_id"))
  }

  private lazy val ppsOracle: String =
    s"""WITH dt AS (SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk
       |  FROM documents),
       |cum AS (SELECT doc_id, source, tk,
       |    CAST(SUM(tk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum,
       |    CAST(SUM(tk) OVER () AS BIGINT) AS w_total
       |  FROM dt WHERE tk > 0),
       |spans AS (SELECT doc_id, source, tk, cum - tk AS st, cum AS en,
       |    w_total FROM cum),
       |h AS (SELECT doc_id, source, tk,
       |    greatest(0, least($PpsK,
       |      (2 * $PpsK * en - w_total + 2 * w_total - 1) // (2 * w_total)))
       |    - greatest(0, least($PpsK,
       |      (2 * $PpsK * st - w_total + 2 * w_total - 1) // (2 * w_total)))
       |      AS n_hits
       |  FROM spans)
       |SELECT doc_id, source, tk AS weight, CAST(n_hits AS BIGINT) AS n_hits,
       |  (SELECT SUM(n_hits) FROM h) = $PpsK AS hits_complete
       |FROM h WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------- Neyman optimal allocation
  /** Stratified sampling design (q164) — Neyman 1934 optimal allocation
    * ("On the two different aspects of the representative method"): a
    * fixed annotation/eval budget n splits across strata h proportional
    * to N_h·σ_h, minimizing the stratified estimator's variance
    * Σ N_h²σ_h²/n_h. The report carries Neyman next to proportional
    * allocation and the variance each implies — the design table a
    * platform reads before spending labeling budget on eval panels.
    *
    * Exactness: N_h²σ_h² = N_h·Σx² − (Σx)² is a PURE INTEGER (call it
    * M_h), so the weight is w_h = √M_h — and IEEE-754 requires sqrt to
    * be correctly rounded (unlike pow/ln, the knife-edge class), so
    * round(10⁶·√M_h) is bit-identical on any conforming engine.
    * Seats assign by largest-remainder (Hamilton) apportionment on the
    * integer weights: base ⌊n·w_h/W⌋, leftovers to the largest
    * n·w_h mod W (ties by stratum name) — all BIGINT. Variance terms
    * integerize per stratum ((10⁶·M_h) div n_h) BEFORE summation.
    * Gates: each allocation sums exactly to n; Neyman's variance is no
    * worse than proportional's (the optimality the scheme exists for,
    * surviving integer seat rounding).
    *
    * Scale shape: one map-side-combined aggregate to |strata| rows;
    * everything after is catalog-sized window arithmetic. */
  def q164_neyman_allocation(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val base = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_h"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sx2"))
      .withColumn("m_h", col("n_h") * col("sx2") - col("sx") * col("sx"))
      .withColumn("w_micro",
        round(lit(1e6) * sqrt(col("m_h").cast("double"))).cast("long"))
    val wAll = Window.partitionBy()
    // NB: Spark column resolution is case-insensitive — scratch names
    // must differ by more than case
    def hamilton(w: Column, out: String): DataFrame => DataFrame = df => {
      val tagged = df
        .withColumn("_wv", w)
        .withColumn("_wtot", sum(col("_wv")).over(wAll))
        .withColumn("_base", expr(s"($budget * _wv) div _wtot"))
        .withColumn("_rem", expr(s"($budget * _wv) % _wtot"))
        .withColumn("_left", lit(budget) - sum(col("_base")).over(wAll))
        .withColumn("_rk", row_number().over(
          Window.orderBy(col("_rem").desc, col("source"))))
      tagged
        .withColumn(out, col("_base") +
          when(col("_rk") <= col("_left"), 1L).otherwise(0L))
        .drop("_wv", "_wtot", "_base", "_rem", "_left", "_rk")
    }
    val alloc = base
      .transform(hamilton(col("w_micro"), "alloc_neyman"))
      .transform(hamilton(col("n_h"), "alloc_prop"))
      .withColumn("v_neyman_u",
        expr("(1000000 * m_h) div greatest(1L, alloc_neyman)"))
      .withColumn("v_prop_u",
        expr("(1000000 * m_h) div greatest(1L, alloc_prop)"))
    alloc
      .withColumn("sum_ok",
        sum(col("alloc_neyman")).over(wAll) === budget &&
          sum(col("alloc_prop")).over(wAll) === budget)
      .withColumn("neyman_no_worse",
        sum(col("v_neyman_u")).over(wAll) <= sum(col("v_prop_u")).over(wAll))
      .select(col("source"), col("n_h"), col("m_h"), col("w_micro"),
        col("alloc_neyman"), col("alloc_prop"), col("v_neyman_u"),
        col("v_prop_u"), col("sum_ok"), col("neyman_no_worse"))
      .orderBy(col("source"))
  }

  private lazy val neymanOracle: String =
    s"""WITH base AS (SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_h,
       |    CAST(SUM(n_chars) AS BIGINT) AS sx,
       |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
       |  FROM documents GROUP BY 1),
       |m AS (SELECT source, n_h, n_h * sx2 - sx * sx AS m_h FROM base),
       |w AS (SELECT *, CAST(round(1000000.0 *
       |    sqrt(CAST(m_h AS DOUBLE))) AS BIGINT) AS w_micro FROM m),
       |ney AS (SELECT *,
       |    (1000 * w_micro) // (SELECT SUM(w_micro) FROM w) AS b_n,
       |    (1000 * w_micro) % (SELECT SUM(w_micro) FROM w) AS r_n
       |  FROM w),
       |neyr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY r_n DESC, source)
       |    AS rk_n, 1000 - (SELECT SUM(b_n) FROM ney) AS left_n FROM ney),
       |an AS (SELECT *, b_n + CASE WHEN rk_n <= left_n THEN 1 ELSE 0 END
       |    AS alloc_neyman FROM neyr),
       |prp AS (SELECT *,
       |    (1000 * n_h) // (SELECT SUM(n_h) FROM base) AS b_p,
       |    (1000 * n_h) % (SELECT SUM(n_h) FROM base) AS r_p
       |  FROM an),
       |prpr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY r_p DESC, source)
       |    AS rk_p, 1000 - (SELECT SUM(b_p) FROM prp) AS left_p FROM prp),
       |ap AS (SELECT *, b_p + CASE WHEN rk_p <= left_p THEN 1 ELSE 0 END
       |    AS alloc_prop FROM prpr),
       |v AS (SELECT *,
       |    (1000000 * m_h) // greatest(1, alloc_neyman) AS v_neyman_u,
       |    (1000000 * m_h) // greatest(1, alloc_prop) AS v_prop_u
       |  FROM ap)
       |SELECT source, n_h, m_h, w_micro,
       |  CAST(alloc_neyman AS BIGINT) AS alloc_neyman,
       |  CAST(alloc_prop AS BIGINT) AS alloc_prop,
       |  CAST(v_neyman_u AS BIGINT) AS v_neyman_u,
       |  CAST(v_prop_u AS BIGINT) AS v_prop_u,
       |  ((SELECT SUM(alloc_neyman) FROM v) = 1000 AND
       |   (SELECT SUM(alloc_prop) FROM v) = 1000) AS sum_ok,
       |  (SELECT SUM(v_neyman_u) FROM v) <=
       |    (SELECT SUM(v_prop_u) FROM v) AS neyman_no_worse
       |FROM v ORDER BY source""".stripMargin

  // ------------------------------------------------------------- registry
  // --------------------------------------- q182 weighted reservoir (A-ES)
  private val ResK = 50
  /** ln(2⁵³) = 53·ln2 as the ONE shared double literal both engines
    * subtract — u = x/2⁵³ becomes ln_shared(x) − this constant, each
    * step IEEE-correctly rounded and hence bit-identical cross-engine. */
  private[graft] val Ln2Pow53: Double = 53.0 * graft.functions.SharedLnUtil.Ln2

  /** Weighted sampling without replacement via exponential races
    * (Efraimidis & Spirakis 2006, algorithm A-ES): per doc a seeded
    * uniform u = (splitmix64(doc_id) >>> 11 + 1)/2⁵³ ∈ (0,1], priority
    * u^(1/w) with w = token count, keep the top [[ResK]] priorities.
    * Priorities compare in log space: ln(u)/w, with ln integerized ONCE
    * per doc as round(10⁶·(ln_shared(x) − 53·ln2)) for the integer
    * x = (h >>> 11) + 1 — the engine-neutral shared formula (r18 verdict
    * item 4), so the gate carries no libm knife edge; BudgetSpec asserts
    * the .5 boundary margins — and the per-doc ratio one IEEE division
    * of exact integers.
    *
    * Why this sampler at 100 TB (vs q157's systematic PPS, which needs a
    * global prefix sum): priorities are per-row local state — the top-k
    * is ONE bounded-heap TakeOrderedAndProject, mergeable across any
    * shard topology, restartable, and streaming-friendly (a new shard's
    * candidates merge by priority with no re-pass). The trade is
    * the replacement semantics: A-ES draws WITHOUT replacement, PPS
    * systematic draws hit big docs multiple times. */
  def q182_weighted_reservoir(s: SparkSession, dir: String): DataFrame =
    Tables.documentsFanned(s, dir)
      .select(col("doc_id"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"))
      .filter(col("tk") > 0)
      .withColumn("h", graft.rel.JoinCard.splitmix64(col("doc_id")))
      .selectExpr("doc_id", "tk",
        "CAST(round(1000000.0 * (ln_shared(shiftrightunsigned(h, 11) + 1) " +
          s"- ${Budget.Ln2Pow53})) AS BIGINT) AS lnu_unat")
      .withColumn("pr",
        expr("CAST(lnu_unat AS DOUBLE) / CAST(tk AS DOUBLE)"))
      .orderBy(col("pr").desc, col("doc_id"))
      .limit(ResK)
      .selectExpr("doc_id", "tk AS weight", "lnu_unat",
        "round(pr, 6) AS priority_r")
      .orderBy(col("doc_id"))

  // ------------------------------------------- q199 stride interleaver
  private val StrideSteps = 600L
  private val StrideSlack = 4L

  /** Deterministic data-loader interleaving schedule (q199) — the
    * consumer that turns q140's mixture GRANTS into an actual training
    * ORDER: which source the loader draws from at step 1, 2, …, N. This
    * closes the mixture→loader loop (advisor→executor pattern #5, after
    * q153→q46, q185→q185b, q163→q163b, q188→q189): the waterfill
    * allocation IS the weight vector, consumed unchanged.
    *
    * Algorithm: the stride scheduler (Waldspurger & Weihl, OSDI 1994
    * "Lottery and Stride Scheduling"; the same virtual-time discipline
    * as SFQ, Goyal et al. SIGCOMM 1996, and Megatron-LM's blendable
    * dataset index): source i's k-th emission carries virtual time
    * v = (k+1)/w_i and the schedule is the ascending-v merge. Priorities
    * are exact RATIONALS compared by BIGINT cross-multiplication
    * ((k+1)·w_j vs (l+1)·w_i — never a float), ties broken (source, k),
    * so both engines derive the identical total order: the schedule
    * hash-gates. The textbook stride fairness bound — every prefix t has
    * |emitted_i(t) − t·w_i/W| < 1 — rides along as the gated `lag_ok`
    * (measured 0.95 worst-case at all three SFs; BudgetSpec proves
    * parity against a driver-side priority-queue simulation).
    *
    * Candidate truncation is CHECKED, not assumed: each source generates
    * K_i = (N·w_i) div W + [[StrideSlack]] candidates and `frontier_ok`
    * gates that every source's first NON-generated candidate sorts
    * strictly after the step-N cutoff — a truncation that could have
    * clipped the top-N flips the flag in both engines.
    *
    * Scale shape: the corpus contributes ONE aggregate (the per-source
    * token counts feeding the waterfill); the schedule itself is
    * O(N + S·slack) rows of integer math with an O(items²) = O(N²)
    * rank join over BROADCAST-tiny sides — a catalog computation whose
    * size is the step horizon N, a config knob decoupled from corpus
    * scale (the 100 TB loader materializes the schedule lazily in
    * N-sized pages, exactly this query re-run with a step offset). */
  def q199_stride_schedule(s: SparkSession, dir: String): DataFrame = {
    val alloc = allocations(s, dir)
      .select(col("source"), col("alloc").as("w"))
      .filter(col("w") > 0L)
    val tot = alloc.agg(sum(col("w")).as("total_w"))
    val withTot = alloc.crossJoin(broadcast(tot))
      .withColumn("kmax",
        expr(s"($StrideSteps * w) div total_w + $StrideSlack"))
    val cand = withTot
      .withColumn("k", explode(expr("sequence(0L, kmax - 1L)")))
      .select(col("source"), col("w"), col("total_w"), col("kmax"), col("k"))
      .localCheckpoint() // three consumers: rank sides + frontier probe
    // rank = #strict predecessors under (v asc, source, k); the self-join
    // sides are O(N) rows — both broadcast-tiny at any corpus scale.
    val a = cand.select(col("source"), col("w"), col("total_w"), col("k"))
    val b = cand.select(col("source").as("b_source"), col("w").as("b_w"),
      col("k").as("b_k"))
    val before =
      ((col("b_k") + 1L) * col("w") < (col("k") + 1L) * col("b_w")) ||
        ((col("b_k") + 1L) * col("w") === (col("k") + 1L) * col("b_w") &&
          (col("b_source") < col("source") ||
            (col("b_source") === col("source") && col("b_k") < col("k"))))
    val ranked = a.join(broadcast(b), before, "left_outer")
      .groupBy(col("source"), col("w"), col("total_w"), col("k"))
      .agg(count(col("b_source")).as("rank"))
      .withColumn("step", col("rank") + 1L)
      .filter(col("step") <= StrideSteps)
      .withColumn("occ", col("k") + 1L)
      .withColumn("lag_ok",
        abs(col("occ") * col("total_w") - col("step") * col("w")) <
          col("total_w"))
    val cutoff = ranked.filter(col("step") === StrideSteps)
      .select(col("source").as("c_source"), col("w").as("c_w"),
        col("k").as("c_k"))
    val frontier = cand
      .select(col("source"), col("w"), col("kmax")).distinct()
      .crossJoin(broadcast(cutoff))
      .agg(min(
        ((col("kmax") + 1L) * col("c_w") > (col("c_k") + 1L) * col("w")) ||
          ((col("kmax") + 1L) * col("c_w") === (col("c_k") + 1L) * col("w")
            && col("source") > col("c_source"))).as("frontier_ok"))
    ranked.crossJoin(broadcast(frontier))
      .select(col("step"), col("source"), col("occ"), col("w"),
        col("lag_ok"), col("frontier_ok"))
      .orderBy(col("step"))
  }

  private lazy val strideOracle: String =
    s"""WITH $waterfillCoreCtes,
       |alloc AS (SELECT source, CAST(least(cap, level) AS BIGINT) AS w
       |  FROM fin WHERE least(cap, level) > 0),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM alloc),
       |wk AS (SELECT source, w, total_w,
       |    CAST(($StrideSteps * w) // total_w + $StrideSlack AS BIGINT)
       |      AS kmax
       |  FROM alloc CROSS JOIN tot),
       |cand AS (SELECT source, w, total_w, kmax,
       |    CAST(unnest(range(0, kmax)) AS BIGINT) AS k FROM wk),
       |rnk AS (SELECT a.source, a.w, a.total_w, a.k,
       |    CAST(COUNT(b.source) AS BIGINT) + 1 AS step
       |  FROM cand a LEFT JOIN cand b ON
       |    ((b.k + 1) * a.w < (a.k + 1) * b.w) OR
       |    ((b.k + 1) * a.w = (a.k + 1) * b.w AND
       |      (b.source < a.source OR (b.source = a.source AND b.k < a.k)))
       |  GROUP BY 1, 2, 3, 4),
       |sel AS (SELECT *, k + 1 AS occ,
       |    abs((k + 1) * total_w - step * w) < total_w AS lag_ok
       |  FROM rnk WHERE step <= $StrideSteps),
       |cut AS (SELECT source AS c_source, w AS c_w, k AS c_k
       |  FROM sel WHERE step = $StrideSteps),
       |fr AS (SELECT MIN(
       |    ((wk.kmax + 1) * c.c_w > (c.c_k + 1) * wk.w) OR
       |    ((wk.kmax + 1) * c.c_w = (c.c_k + 1) * wk.w
       |      AND wk.source > c.c_source)) AS frontier_ok
       |  FROM wk CROSS JOIN cut c)
       |SELECT step, source, occ, w, lag_ok, frontier_ok
       |FROM sel CROSS JOIN fr ORDER BY step""".stripMargin

  /** splitmix64 replayed step-for-step in HUGEINT (the q83 recipe). */
  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private lazy val reservoirOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH dt AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk
       |  FROM documents),
       |z0 AS (SELECT doc_id, tk, CAST(doc_id AS HUGEINT) AS z
       |  FROM dt WHERE tk > 0),
       |s1 AS (SELECT doc_id, tk, $z1 AS z1 FROM z0),
       |s2 AS (SELECT doc_id, tk, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT doc_id, tk, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, tk, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT doc_id, tk, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, tk, xor(z3, z3 // 2147483648) AS m FROM s5),
       |p0 AS (SELECT doc_id, tk, CAST(m // 2048 + 1 AS BIGINT) AS x
       |  FROM s6),
       |pl AS (${graft.functions.SharedLn.oracleLn("p0", Seq("doc_id", "tk"),
          Seq(("__lnx", "x")))}),
       |p AS (SELECT doc_id, tk,
       |    CAST(round(1000000.0 * (__lnx - ${Budget.Ln2Pow53}))
       |      AS BIGINT) AS lnu_unat
       |  FROM pl),
       |r AS (SELECT doc_id, tk, lnu_unat,
       |    CAST(lnu_unat AS DOUBLE) / CAST(tk AS DOUBLE) AS pr
       |  FROM p ORDER BY pr DESC, doc_id LIMIT $ResK)
       |SELECT doc_id, tk AS weight, lnu_unat, round(pr, 6) AS priority_r
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ q217 split manifest
  /** Deterministic stratified train/val/test split manifest — the
    * leakage-safe 80/10/10 assignment every training pipeline freezes
    * before any tuning: a document's split is a pure function of its id
    * (splitmix64 bucket), so the SAME doc lands in the SAME split on any
    * cluster, any partitioning, any rerun — and re-ingesting a shard can
    * never migrate documents across the contamination boundary. The
    * manifest reports per (source, split): docs, exact token mass, the
    * within-source permille share, and a bit_xor signature of the
    * assignment keys so the gate covers the ASSIGNMENT itself, not just
    * the counts.
    *
    * Scale shape: one map-side key computation + one (sources×3)-group
    * aggregate; the per-source share algebra is catalog math. Nothing
    * shuffles at doc granularity. */
  def q217_split_manifest(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(Cleanse.tokens(col("text"))).cast("long").as("tk"),
        graft.rel.JoinCard.splitmix64(col("doc_id")).as("key"))
      .withColumn("bucket", pmod(col("key"), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
    val cells = keyed.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"),
        expr("bit_xor(key)").as("assign_sig"))
    val srcTot = cells.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_src"))
    cells.join(broadcast(srcTot), Seq("source"))
      .select(col("source"), col("split"), col("n_docs"), col("n_tokens"),
        expr("(1000 * n_docs) div n_src").as("share_permille"),
        col("assign_sig"))
      .orderBy(col("source"), col("split"))
  }

  private lazy val splitOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH dt AS (SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(trim(text), ' '),
       |      t -> t <> '')) AS BIGINT) AS tk,
       |    CAST(doc_id AS HUGEINT) AS z FROM documents),
       |s1 AS (SELECT doc_id, source, tk, $z1 AS z1 FROM dt),
       |s2 AS (SELECT doc_id, source, tk, xor(z1, z1 // 1073741824) AS x1
       |  FROM s1),
       |s3 AS (SELECT doc_id, source, tk, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, source, tk, xor(z2, z2 // 134217728) AS x2
       |  FROM s3),
       |s5 AS (SELECT doc_id, source, tk, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, source, tk, xor(z3, z3 // 2147483648) AS m
       |  FROM s5),
       |k AS (SELECT doc_id, source, tk,
       |    CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS key FROM s6),
       |sp AS (SELECT source, tk, key,
       |    CASE WHEN ((key % 100) + 100) % 100 < 80 THEN 'train'
       |         WHEN ((key % 100) + 100) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split FROM k),
       |cells AS (SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(tk) AS BIGINT) AS n_tokens,
       |    CAST(bit_xor(key) AS BIGINT) AS assign_sig
       |  FROM sp GROUP BY 1, 2),
       |st AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src
       |  FROM cells GROUP BY 1)
       |SELECT c.source, c.split, c.n_docs, c.n_tokens,
       |  (1000 * c.n_docs) // st.n_src AS share_permille, c.assign_sig
       |FROM cells c JOIN st USING (source)
       |ORDER BY c.source, c.split""".stripMargin
  }

  // -------------------------------------------- q218 epoch shuffle manifest
  private val ShufEpochs = 3
  private val ShufShards = 8L

  /** Multi-epoch shuffle manifest — the loader-side global-shuffle
    * contract for multi-epoch training (each epoch must present the
    * corpus in a DIFFERENT pseudo-random order, reproducibly): a
    * document's epoch-e shard is pmod(splitmix64(doc_id·1000003 + e),
    * S), so the full shard assignment is a pure per-row function — no
    * global sort, no state — and any executor can locate any document's
    * shard from the manifest alone. Per (epoch, shard) the manifest
    * reports the population, signed key range, a bit_xor signature of
    * the keys (gating the exact assignment), and `n_stay` — how many of
    * the shard's documents sat in the SAME shard the previous epoch, the
    * decorrelation audit (≈ n/S when the epochs genuinely reshuffle).
    *
    * Scale shape: the doc×epoch key table is a map-side expression (one
    * corpus scan, epochs generated per row); the stay-join co-partitions
    * on doc_id; output is epochs×shards rows. */
  def q218_epoch_shuffle(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0), lit(ShufEpochs - 1))))
      .withColumn("key", graft.rel.JoinCard.splitmix64(
        col("doc_id") * lit(1000003L) + col("epoch")))
      .withColumn("shard", pmod(col("key"), lit(ShufShards)))
    val prev = base.select(col("doc_id"),
      (col("epoch") + 1).as("epoch"), col("shard").as("prev_shard"))
    base.join(prev, Seq("doc_id", "epoch"), "left_outer")
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"),
        expr("bit_xor(key)").as("shard_sig"),
        sum(when(col("prev_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_stay"))
      .orderBy(col("epoch"), col("shard"))
  }

  private lazy val shuffleOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH de AS (SELECT doc_id, CAST(e AS INT) AS epoch,
       |    CAST(CAST(doc_id AS HUGEINT) * 1000003 + e AS HUGEINT)
       |      % 18446744073709551616 AS z
       |  FROM documents, unnest(range(0, $ShufEpochs)) AS u(e)),
       |s1 AS (SELECT doc_id, epoch, $z1 AS z1 FROM de),
       |s2 AS (SELECT doc_id, epoch, xor(z1, z1 // 1073741824) AS x1
       |  FROM s1),
       |s3 AS (SELECT doc_id, epoch, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, epoch, xor(z2, z2 // 134217728) AS x2
       |  FROM s3),
       |s5 AS (SELECT doc_id, epoch, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, epoch, xor(z3, z3 // 2147483648) AS m
       |  FROM s5),
       |k AS (SELECT doc_id, epoch,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS key
       |  FROM s6),
       |sh AS (SELECT doc_id, epoch, key,
       |    CAST(((key % $ShufShards) + $ShufShards) % $ShufShards
       |      AS BIGINT) AS shard
       |  FROM k)
       |SELECT a.epoch, a.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(MIN(a.key) AS BIGINT) AS min_key,
       |  CAST(MAX(a.key) AS BIGINT) AS max_key,
       |  CAST(bit_xor(a.key) AS BIGINT) AS shard_sig,
       |  CAST(SUM(CASE WHEN p.shard = a.shard THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_stay
       |FROM sh a LEFT JOIN sh p
       |  ON p.doc_id = a.doc_id AND p.epoch = a.epoch - 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------- q252 rendezvous shards
  private val HrwShards = 8

  /** q252: rendezvous (highest-random-weight) sharding audit (Thaler &
    * Ravishankar, IEEE/ACM ToN 1998 — the consistent-placement scheme
    * behind cache arrays and object stores): each document lands on
    * argmax_s h(doc, s) over per-(doc, shard) hashes, and growing the
    * cluster from S to S+1 shards can ONLY steal documents for the NEW
    * shard — the minimal-disruption guarantee mod-sharding lacks
    * (q218's epoch reshuffle MOVES ~(S−1)/S of the corpus by design;
    * this is the placement that moves ~1/(S+1)). Both properties gate:
    * `guarantee_ok` (every mover lands on the new shard — structural,
    * exact) and the measured moved permille beside its 1000/(S+1)
    * expectation. Hashes are splitmix64(doc_id·16 + s) — seed-disjoint
    * per (doc, shard) because s < 16 — replayed in DuckDB through the
    * HUGEINT limb chain with the signed-conversion discipline, and the
    * argmax is max(struct(h, s)): one deterministic lexicographic
    * comparison in both engines.
    *
    * Scale: a 9× map-side explode, one groupBy(doc) max — no joins, no
    * driver state; per-shard rollup output. */
  def q252_rendezvous_shards(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir).select(col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(HrwShards.toLong))).as("sh"))
      .withColumn("h", graft.rel.JoinCard.splitmix64(
        col("doc_id") * 16L + col("sh")))
    val assign = g.groupBy(col("doc_id"))
      .agg(
        max(when(col("sh") < HrwShards, struct(col("h"), col("sh"))))
          .as("m8"),
        max(struct(col("h"), col("sh"))).as("m9"))
      .select(col("doc_id"), col("m8.sh").as("a_old"),
        col("m9.sh").as("a_new"))
      .withColumn("moved", col("a_old") =!= col("a_new"))
    val tot = assign.agg(count(lit(1)).as("n_docs"),
      sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"),
      min(when(col("moved"), col("a_new") === HrwShards.toLong))
        .as("g_ok"))
    assign.groupBy(col("a_new").as("shard"))
      .agg(sum(when(col("a_old") === col("a_new"), 1L).otherwise(0L))
        .as("n_stay"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_arrived"))
      .join(assign.groupBy(col("a_old").as("shard"))
        .agg(count(lit(1)).as("n_old")), Seq("shard"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(col("shard"), coalesce(col("n_old"), lit(0L)).as("n_old"),
        (coalesce(col("n_stay"), lit(0L)) +
          coalesce(col("n_arrived"), lit(0L))).as("n_new"),
        coalesce(col("n_arrived"), lit(0L)).as("n_arrived"),
        col("n_docs"), col("n_moved"),
        expr("(1000 * n_moved) div n_docs").as("moved_permille"),
        lit(1000L / (HrwShards + 1)).as("expected_permille"),
        coalesce(col("g_ok"), lit(true)).as("guarantee_ok"))
      .orderBy(col("shard"))
  }

  private lazy val hrwOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH ds AS (SELECT doc_id, CAST(sh AS BIGINT) AS sh,
       |    CAST(CAST(doc_id AS HUGEINT) * 16 + sh AS HUGEINT)
       |      % 18446744073709551616 AS z
       |  FROM documents, unnest(range(0, ${HrwShards + 1})) AS u(sh)),
       |s1 AS (SELECT doc_id, sh, $z1 AS z1 FROM ds),
       |s2 AS (SELECT doc_id, sh, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT doc_id, sh, $m2 AS z2 FROM s2),
       |s4 AS (SELECT doc_id, sh, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT doc_id, sh, $m3 AS z3 FROM s4),
       |s6 AS (SELECT doc_id, sh,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |      THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS h
       |  FROM (SELECT doc_id, sh, xor(z3, z3 // 2147483648) AS m
       |    FROM s5) t),
       |asg AS (SELECT doc_id,
       |    (MAX(CASE WHEN sh < $HrwShards
       |      THEN struct_pack(h := h, sh := sh) END)).sh AS a_old,
       |    (MAX(struct_pack(h := h, sh := sh))).sh AS a_new
       |  FROM s6 GROUP BY doc_id),
       |mv AS (SELECT doc_id, a_old, a_new, a_old <> a_new AS moved
       |  FROM asg),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_moved,
       |    COALESCE(MIN(CASE WHEN moved THEN a_new = $HrwShards END),
       |      TRUE) AS g_ok
       |  FROM mv),
       |nw AS (SELECT a_new AS shard,
       |    CAST(SUM(CASE WHEN a_old = a_new THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_stay,
       |    CAST(SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_arrived
       |  FROM mv GROUP BY 1),
       |od AS (SELECT a_old AS shard, CAST(COUNT(*) AS BIGINT) AS n_old
       |  FROM mv GROUP BY 1)
       |SELECT COALESCE(nw.shard, od.shard) AS shard,
       |  COALESCE(od.n_old, 0) AS n_old,
       |  COALESCE(nw.n_stay, 0) + COALESCE(nw.n_arrived, 0) AS n_new,
       |  COALESCE(nw.n_arrived, 0) AS n_arrived,
       |  tot.n_docs, tot.n_moved,
       |  (1000 * tot.n_moved) // tot.n_docs AS moved_permille,
       |  CAST(${1000L / (HrwShards + 1)} AS BIGINT) AS expected_permille,
       |  tot.g_ok AS guarantee_ok
       |FROM nw FULL OUTER JOIN od ON nw.shard = od.shard
       |CROSS JOIN tot ORDER BY shard""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q252_rendezvous_shards" -> (q252_rendezvous_shards _),
    "q217_split_manifest" -> (q217_split_manifest _),
    "q218_epoch_shuffle" -> (q218_epoch_shuffle _),
    "q182_weighted_reservoir" -> (q182_weighted_reservoir _),
    "q199_stride_schedule" -> (q199_stride_schedule _),
    "q140_token_waterfill" -> (q140_token_waterfill _),
    "q143_mixture_materialize" -> (q143_mixture_materialize _),
    "q152_curriculum_steps" -> (q152_curriculum_steps _),
    "q156_sequence_packing" -> (q156_sequence_packing _),
    "q157_systematic_pps" -> (q157_systematic_pps _),
    "q164_neyman_allocation" -> (q164_neyman_allocation _))

  override val oracle: Map[String, String] = Map(
    "q252_rendezvous_shards" -> hrwOracle,
    "q217_split_manifest" -> splitOracle,
    "q218_epoch_shuffle" -> shuffleOracle,
    "q182_weighted_reservoir" -> reservoirOracle,
    "q199_stride_schedule" -> strideOracle,
    "q140_token_waterfill" -> waterfillOracle,
    "q143_mixture_materialize" -> materializeOracle,
    "q152_curriculum_steps" -> curriculumOracle,
    "q156_sequence_packing" -> packingOracle,
    "q157_systematic_pps" -> ppsOracle,
    "q164_neyman_allocation" -> neymanOracle)
}
