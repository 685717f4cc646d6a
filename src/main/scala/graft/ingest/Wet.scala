package graft.ingest

import graft.Tables
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** WET-style record ingestion (q149) — the Common Crawl WET/WARC shape
  * every pretraining corpus starts from: a flat text file of
  * concatenated records, each a header block (URI, declared content
  * length) followed by the payload, delimited by a version sentinel.
  * (Format per the public ISO 28500 WARC spec / Common Crawl's WET
  * derivative; this fixture writes a faithful miniature from the
  * `documents` table so the oracle can recompute everything.)
  *
  * The engine-side trick is the SPLITTABLE read: `spark.read.text` with
  * a multi-character `lineSep` set to the record sentinel turns each
  * record into ONE row at the Hadoop line-reader level — no
  * whole-file-to-driver parsing, no regex over a monolithic blob, and
  * record boundaries never straddle a task because the reader handles
  * split-spanning lines exactly as it does for newlines. Header fields
  * then parse with ordinary string expressions (codegen'd), and the
  * DECLARED Content-Length is validated against the measured payload —
  * the integrity check a real WET ingester must do.
  *
  * Scale shape: at 100 TB this is the standard "many multi-GB WET
  * files" layout; the text reader splits within files, header parsing is
  * per-row scalar work, and the per-source audit is one
  * map-side-combined aggregate. The q96 quarantine pattern applies to
  * malformed records (here the fixture is clean by construction and the
  * gate proves the round trip lossless via content signatures).
  */
object Wet extends graft.QueryModule {

  private val Sentinel = "GRAFT-WET/1.0\n"

  private[graft] def scratch(s: SparkSession): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_wet_" +
      s.sparkContext.applicationId

  /** Inner frame (pre-checkpoint) for spec plan/shape assertions. */
  private[graft] def wetAgg(s: SparkSession, dir: String, out: String)
      : DataFrame = {
    // fixture: the documents table serialized as WET records (payload
    // text is sentinel-free by construction: it is whitespace-joined
    // tokens). Record = header lines + blank line + payload + blank line.
    Tables.documents(s, dir)
      .select(concat(
        lit(Sentinel),
        lit("Target-URI: https://graft.example/"), col("source"),
        lit("/"), col("doc_id"), lit("\n"),
        lit("Content-Length: "), length(col("text")), lit("\n\n"),
        col("text"), lit("\n")).as("value"))
      .coalesce(4)
      .write.mode("overwrite").text(out)
    val rec = s.read.option("lineSep", Sentinel).text(out)
      .filter(length(trim(col("value"))) > 0) // leading split artifacts
      .select(
        regexp_extract(col("value"),
          "Target-URI: https://graft\\.example/([a-z0-9]+)/([0-9]+)\n", 1)
          .as("source"),
        regexp_extract(col("value"),
          "Target-URI: https://graft\\.example/([a-z0-9]+)/([0-9]+)\n", 2)
          .cast("long").as("doc_id"),
        regexp_extract(col("value"), "Content-Length: ([0-9]+)\n", 1)
          .cast("long").as("declared_len"),
        // payload: strip the record's trailing newlines FIRST (the value
        // ends "payload\n\n", so a naive last-segment split would return
        // the empty tail), then take the segment after the header/payload
        // blank line
        substring_index(
          regexp_replace(col("value"), "[\n]+$", ""), "\n\n", -1)
          .as("payload"))
    rec.groupBy(col("source"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("declared_len")).as("sum_declared"),
        sum(length(col("payload"))).cast("long").as("sum_measured"),
        sum(when(length(col("payload")) === col("declared_len"), 0L)
          .otherwise(1L)).as("len_mismatches"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(conv(substring(md5(col("payload").cast("binary")), 1, 12),
          16, 10).cast("long")).cast("long").as("payload_sig"))
      .orderBy(col("source"))
  }

  def q149_wet_ingest(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(s)
    val pinned = wetAgg(s, dir, out).localCheckpoint() // tiny
    FileUtils.deleteQuietly(new File(out))
    pinned
  }

  /** Oracle from `documents` alone: a framing bug, header-parse drift,
    * or payload corruption all break the signature/mismatch columns. */
  private lazy val wetOracle: String =
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_records,
       |  CAST(SUM(length(text)) AS BIGINT) AS sum_declared,
       |  CAST(SUM(length(text)) AS BIGINT) AS sum_measured,
       |  CAST(0 AS BIGINT) AS len_mismatches,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT))
       |    AS BIGINT) AS payload_sig
       |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_wet_ingest" -> (q149_wet_ingest _))

  override val oracle: Map[String, String] = Map(
    "q149_wet_ingest" -> wetOracle)
}
