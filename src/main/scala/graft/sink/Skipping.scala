package graft.sink

import graft.Tables
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** File-level data-skipping index (q131) — the Delta/Iceberg stats-based
  * pruning model on plain parquet: per-file min/max zone maps plus a
  * 1024-bit per-file Bloom filter over the point-lookup key, consulted
  * BEFORE any file opens. Reference scope: the wrangler re-reads its
  * whole JSON corpus for every lookup (`wrangler.py:174-201`); at lake
  * scale the stats index is what makes a needle query a 1-file read
  * instead of a full scan.
  *
  * Layout: 8 RANGE buckets (`doc_id div cellw`) per lang partition — the
  * clustered write a real lake does (repartitionByRange / OPTIMIZE
  * ZORDER, q123) — so zone maps are tight: a present probe passes
  * min/max in exactly one file per lang, and the ~half of probes drawn
  * beyond the id domain prune to ZERO files from stats alone. The Bloom
  * then trims the wrong-lang files whose ranges overlap. Stored SPARSE:
  * two md5-derived bit positions per row, grouped to (file, word) rows
  * with `bit_or` — the mergeable map-side shape; absent word = 0.
  *
  * The fixture makes every physical claim oracle-checkable (q126
  * discipline): each (lang, range-bucket) cell lands in EXACTLY one
  * file, so DuckDB recomputes zone maps, Bloom words, and every probe
  * verdict from `documents` alone. `pruned_scan_ok` is earned
  * physically: the engine re-reads ONLY the candidate files and must
  * find the row (or nothing, for absent probes / Bloom false
  * positives) — machine-checked pruning, not a claim.
  *
  * Scale shape: the index is one map-side-combined groupBy to one row
  * per (file, occupied word) — metadata-sized, exactly a Delta stats
  * column / parquet footer Bloom; probes consult the broadcast index and
  * open only the survivors. At 100 TB the index lives beside the
  * manifest (q127), maintained per commit; bits-per-row scales with the
  * same arithmetic (m grows, the sparse rows stay proportional to data).
  */
object Skipping extends graft.QueryModule {

  private val Buckets = 8
  private val NProbes = 10
  private val BloomBits = 1024 // stored as 63-bit words (17 words)

  private def md5hex(str: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** First 12 hex chars of md5 as a non-negative long (< 2^48) — the
    * house cross-engine hash. */
  private def h48(str: String): Long =
    java.lang.Long.parseLong(md5hex(str).substring(0, 12), 16)

  /** Bloom bit position j∈{1,2} for key v: (word, bit). */
  private def pos(j: Int, v: Long): (Long, Int) = {
    val g = h48(s"b$j-$v") % BloomBits
    (g / 63, (g % 63).toInt) // 63-bit words: bit 63 is unrepresentable in DuckDB's checked shift
  }

  def q131_data_skipping(s: SparkSession, dir: String): DataFrame = {
    val lake = Orc.scratchDir(s) + "_skip"
    FileUtils.deleteQuietly(new File(lake))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cellw = mx / Buckets + 1 // doc_id div cellw ∈ [0, 8)
    // one staged write instead of 8 sequential appends (r20, the q126
    // batching — see Lake.writeOneFilePerCell); the requires below
    // machine-check the one-file-per-cell invariant the oracle predicts
    // file counts from
    Lake.writeOneFilePerCell(s, docs, expr(s"doc_id div ${cellw}L"), lake)
    val back = s.read.parquet(lake)
      .select(input_file_name().as("file"), col("doc_id"), col("lang"))
    // zone maps: one row per file
    val zones = back
      .groupBy(col("file"), col("lang"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        min(expr(s"doc_id div ${cellw}L")).as("bk_lo"),
        max(expr(s"doc_id div ${cellw}L")).as("bk_hi"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    require(zones.forall(z => z._5 == z._6),
      "data-skipping fixture broken: a file spans range buckets")
    require(zones.map(z => (z._2, z._5)).distinct.length == zones.length,
      "data-skipping fixture broken: a (lang, bucket) cell spans files")
    // sparse Bloom: two bit positions per row, OR-merged per (file, word)
    val g = (j: Int) =>
      s"cast(conv(substring(md5(cast(concat('b$j-', " +
        "cast(doc_id as string)) as binary)), 1, 12), 16, 10) " +
        s"% $BloomBits as bigint)"
    val blooms: Map[String, Map[Long, Long]] = back
      .select(col("file"),
        explode(array(expr(g(1)), expr(g(2)))).as("gg"))
      .groupBy(col("file"), expr("gg div 63").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(gg % 63 as int)))").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (f, rs) => f -> rs.map(t => t._2 -> t._3).toMap }
    val n = mx + 1
    val probeIds = (0 until NProbes)
      .map(i => i -> (h48(s"probe-$i") % (2 * n)))
    // where each present probe really lives (one tiny job)
    val present: Map[Long, String] = docs
      .filter(col("doc_id").isin(probeIds.map(_._2): _*))
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // index consultation is pure driver-side metadata math; the pruned
    // re-scans BATCH into one job (round-14, advice item): read the union
    // of every probe's candidate files ONCE with input_file_name, filter
    // to the probe ids, and attribute hits back per (probe, file) — the
    // per-probe sequential s.read.count() pattern would not survive a
    // larger NProbes.
    val verdicts = probeIds.map { case (i, p) =>
      val (w1, b1) = pos(1, p); val (w2, b2) = pos(2, p)
      def bloomHit(file: String): Boolean = {
        val words = blooms.getOrElse(file, Map.empty)
        ((words.getOrElse(w1, 0L) >>> b1) & 1L) == 1L &&
          ((words.getOrElse(w2, 0L) >>> b2) & 1L) == 1L
      }
      val minmax = zones.filter(z => z._3 <= p && p <= z._4)
      val cand = minmax.filter(z => bloomHit(z._1))
      val isPresent = present.contains(p)
      val trueFile = present.get(p).map { lang =>
        zones.find(z => z._2 == lang && z._5 == p / cellw).get._1
      }
      val noFalseNeg = trueFile.forall(tf => cand.exists(_._1 == tf))
      (i, p, isPresent, minmax, cand, noFalseNeg)
    }
    val allCand = verdicts.flatMap(_._5.map(_._1)).distinct
    // one physical job over the union of candidate files; hit rows are
    // ≤ NProbes so the collect is metadata-sized
    val hits: Set[(String, Long)] =
      if (allCand.isEmpty) Set.empty
      else s.read.parquet(allCand: _*)
        .select(input_file_name().as("file"), col("doc_id"))
        .filter(col("doc_id").isin(verdicts.map(_._2): _*))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val rows = verdicts.map { case (i, p, isPresent, minmax, cand, noFalseNeg) =>
      val found = cand.count(z => hits.contains((z._1, p))).toLong
      val scanOk = found == (if (isPresent) 1L else 0L)
      (i, p, isPresent, zones.length.toLong, minmax.length.toLong,
        cand.length.toLong, if (isPresent) 1L else 0L, noFalseNeg, scanOk)
    }
    FileUtils.deleteQuietly(new File(lake))
    import s.implicits._
    rows.toDF("probe_i", "probe_id", "present", "n_files",
      "n_minmax_pass", "n_candidates", "n_true", "no_false_neg",
      "pruned_scan_ok")
      .orderBy(col("probe_i"))
  }

  /** Oracle: the cell model — one file per (lang, doc_id div cellw) —
    * lets DuckDB recompute zone maps, sparse Bloom words, and every
    * probe verdict from `documents`; `pruned_scan_ok` asserts the
    * physical pruned re-scan found exactly the expected rows. */
  private lazy val skipOracle: String = {
    val og = (j: Int, v: String) =>
      s"(CAST('0x' || substr(md5('b$j-' || CAST($v AS VARCHAR)), 1, 12) " +
        s"AS BIGINT) % $BloomBits)"
    s"""WITH cw AS (SELECT MAX(doc_id) // $Buckets + 1 AS cellw,
       |    MAX(doc_id) + 1 AS n FROM documents),
       |d AS (SELECT doc_id, lang, doc_id // cellw AS bucket FROM documents, cw),
       |cells AS (SELECT lang, bucket, MIN(doc_id) AS mn, MAX(doc_id) AS mx
       |  FROM d GROUP BY 1, 2),
       |bits AS (SELECT lang, bucket, ${og(1, "doc_id")} AS g FROM d
       |  UNION ALL SELECT lang, bucket, ${og(2, "doc_id")} AS g FROM d),
       |bloomw AS (SELECT lang, bucket, g // 63 AS w,
       |    bit_or(CAST(1 AS BIGINT) << CAST(g % 63 AS INTEGER)) AS v
       |  FROM bits GROUP BY 1, 2, 3),
       |probes AS (SELECT CAST(i AS INTEGER) AS probe_i,
       |    CAST('0x' || substr(md5('probe-' || CAST(i AS VARCHAR)), 1, 12)
       |      AS BIGINT) % (2 * n) AS p, cellw
       |  FROM range($NProbes) t(i), cw),
       |pr AS (SELECT probe_i, p, cellw,
       |    ${og(1, "p")} AS g1, ${og(2, "p")} AS g2 FROM probes),
       |truth AS (SELECT pr.*, d2.lang AS tlang
       |  FROM pr LEFT JOIN documents d2 ON d2.doc_id = pr.p),
       |verdict AS (SELECT t.probe_i, t.p, t.tlang IS NOT NULL AS present,
       |    (SELECT COUNT(*) FROM cells) AS n_files,
       |    (SELECT COUNT(*) FROM cells c
       |      WHERE c.mn <= t.p AND t.p <= c.mx) AS n_minmax_pass,
       |    (SELECT COUNT(*) FROM cells c
       |      WHERE c.mn <= t.p AND t.p <= c.mx
       |      AND EXISTS (SELECT 1 FROM bloomw b WHERE b.lang = c.lang
       |        AND b.bucket = c.bucket AND b.w = t.g1 // 63
       |        AND ((b.v >> CAST(t.g1 % 63 AS INTEGER)) & 1) = 1)
       |      AND EXISTS (SELECT 1 FROM bloomw b WHERE b.lang = c.lang
       |        AND b.bucket = c.bucket AND b.w = t.g2 // 63
       |        AND ((b.v >> CAST(t.g2 % 63 AS INTEGER)) & 1) = 1))
       |      AS n_candidates,
       |    CASE WHEN t.tlang IS NOT NULL THEN 1 ELSE 0 END AS n_true,
       |    t.tlang IS NULL OR EXISTS (SELECT 1 FROM cells c
       |      WHERE c.lang = t.tlang AND c.bucket = t.p // t.cellw
       |      AND c.mn <= t.p AND t.p <= c.mx
       |      AND EXISTS (SELECT 1 FROM bloomw b WHERE b.lang = c.lang
       |        AND b.bucket = c.bucket AND b.w = t.g1 // 63
       |        AND ((b.v >> CAST(t.g1 % 63 AS INTEGER)) & 1) = 1)
       |      AND EXISTS (SELECT 1 FROM bloomw b WHERE b.lang = c.lang
       |        AND b.bucket = c.bucket AND b.w = t.g2 // 63
       |        AND ((b.v >> CAST(t.g2 % 63 AS INTEGER)) & 1) = 1))
       |      AS no_false_neg
       |  FROM truth t)
       |SELECT probe_i, p AS probe_id, present,
       |  CAST(n_files AS BIGINT) AS n_files,
       |  CAST(n_minmax_pass AS BIGINT) AS n_minmax_pass,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_true AS BIGINT) AS n_true, no_false_neg,
       |  TRUE AS pruned_scan_ok
       |FROM verdict ORDER BY probe_i""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_data_skipping" -> (q131_data_skipping _))

  override val oracle: Map[String, String] = Map(
    "q131_data_skipping" -> skipOracle)
}
