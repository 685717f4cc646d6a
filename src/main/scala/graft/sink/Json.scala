package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S3 JSON sink (SURVEY.md §2.1; wrangler.py:226-279 `generate_json`).
  *
  * The reference writes two indented-JSON artifacts into `./completed/`
  * with date-stamped filenames, using a custom encoder (wrangler.py:43-49):
  * TicketStatus → its name, datetime → ISO-8601, Comment → plain dict. We
  * encode that shape *explicitly in the plan* — `date_format` + `struct`
  * columns — so `df.write.json` needs no serializer and the sink stays a
  * distributed, partition-parallel write (the reference serializes the
  * whole list driver-side in one `json.dump`).
  *
  * Scale: output parallelism = partition count of the input; date-stamping
  * happens once on the driver (filename), never per row. Callers
  * `.repartition(n)` to pick output file counts.
  */
object Json {

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** Encode the nested ticket shape to the reference's serialized form. */
  def encodeTickets(nested: DataFrame): DataFrame =
    nested.select(
      col("ticket_id").as("id"),
      date_format(col("created_at"), IsoFmt).as("created_at"),
      date_format(col("last_updated"), IsoFmt).as("last_updated"),
      col("status"), // enum encoded by name (wrangler.py:43-44)
      col("subject"), col("tags"), col("outcome"), col("ticket_type"),
      transform(col("comments"), c => struct(
        c.getField("comment_id").as("id"),
        date_format(c.getField("created_at"), IsoFmt).as("created_at"),
        c.getField("body").as("body"))).as("comments"))

  /** `processed_tickets{date}.json` — one JSON-lines dataset. `dateStamp`
    * is injected (deterministic tests; the reference stamps with now()). */
  def writeTickets(nested: DataFrame, outDir: String, dateStamp: String): Unit =
    encodeTickets(nested).write.mode("overwrite")
      .json(s"$outDir/processed_tickets$dateStamp")

  /** `corpus_{date}.json` — (ticket_id, doc) corpus rows. */
  def writeCorpus(corpus: DataFrame, outDir: String, dateStamp: String): Unit =
    corpus.write.mode("overwrite").json(s"$outDir/corpus_$dateStamp")
}

/** Hive-partitioned parquet sink — the standard lake layout at 100 TB:
  * one directory per partition value (`lang=en/…`), so downstream scans
  * with a partition predicate read only matching directories (partition
  * pruning happens before any file I/O). Keep partition columns
  * low-cardinality; high-cardinality keys create a small-file explosion. */
object Parquet {
  def writePartitioned(df: DataFrame, outDir: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
}

/** ORC source/sink breadth (S-family): the other columnar lake format a
  * production engine must speak — same pushdown/pruning machinery as
  * parquet (Spark's OrcFileFormat supports predicate pushdown via ORC
  * search arguments and Hive-style partition pruning).
  *
  * The gated query is a ROUND-TRIP: documents (minus the text blob —
  * metadata columns exercise every scalar type the table carries) write
  * as lang-partitioned ORC, read back through a partition-pruning filter,
  * and aggregate per source. The oracle recomputes the same aggregate
  * straight from the parquet table — any loss, truncation or type
  * mangling in the ORC write/read path breaks the hash gate, which is the
  * strongest cross-format check available given DuckDB reads no ORC. */
/** AVRO (round-7 verdict item 7) — blocker CLOSED in round 13: the
  * `spark-avro` DataSource module is still absent (offline resolver), but
  * the Avro CORE libraries on Spark's classpath are enough to build the
  * path directly — see `sink/Avro.scala` for the distributed partitioned
  * writer + DSv2 pruning/splittable source and the q113 round-trip gate
  * (the q88/q91 contract, now on a self-built format). */
object Orc extends graft.QueryModule {
  /** Write + pruned-read + aggregate, PRE-checkpoint — exposed so SinkSpec
    * can assert PartitionFilters on the live ORC scan (the q88 wrapper
    * pins the result and deletes the scratch dir, which replaces the plan
    * with a Scan ExistingRDD). */
  private[graft] def orcRoundTripAgg(s: SparkSession, dir: String,
      out: String): DataFrame = {
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").orc(out)
    s.read.orc(out)
      .filter(col("lang").isin("en", "de")) // partition-pruned scan
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"))
  }

  /** Per-session scratch dir (app id is unique per SparkContext): two JVMs
    * running concurrently (bench + verify) must not overwrite each other's
    * round-trip directory mid-read. The result is pinned BEFORE the
    * directory is deleted, so nothing is left behind after the run. */
  private[graft] def scratchDir(s: SparkSession): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_orc_roundtrip_" +
      s.sparkContext.applicationId

  def q88_orc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(s)
    val pinned = orcRoundTripAgg(s, dir, out).localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    pinned
  }

  /** JSON-LINES round-trip (the unblocked half of the round-7 "Avro /
    * JSON-lines source-sink breadth" item): documents INCLUDING the text
    * blob write as lang-partitioned JSONL and read back through an
    * EXPLICIT schema (the q78 rule — inference is a wasted full pass and
    * silently widens types) with a partition-pruning filter. The
    * aggregate carries a 48-bit md5-prefix SUM over the text column, so
    * string fidelity through the escape/unescape cycle gates
    * content-exact, not just count-exact — the whole point of testing a
    * TEXT format is that quotes/control characters survive. 48 bits keeps
    * the ANSI-mode long sum safe (5000 docs × 2^48 ≪ 2^63); DuckDB's
    * HUGEINT sum casts back to BIGINT. */
  private[graft] def jsonlRoundTripAgg(s: SparkSession, dir: String,
      out: String): DataFrame = {
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").json(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, source STRING, n_chars LONG, lang STRING")
    s.read.schema(schema).json(out)
      .filter(col("lang").isin("en", "de")) // partition-pruned scan
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long")).cast("long").as("text_sig"))
      .orderBy(col("source"))
  }

  def q91_jsonl_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir(s) + "_jsonl"
    val pinned = jsonlRoundTripAgg(s, dir, out).localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    pinned
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_orc_roundtrip" -> (q88_orc_roundtrip _),
    "q91_jsonl_roundtrip" -> (q91_jsonl_roundtrip _))

  override val oracle: Map[String, String] = Map(
    "q88_orc_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY source ORDER BY source""".stripMargin,
    "q91_jsonl_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        | CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |   AS text_sig
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY source ORDER BY source""".stripMargin)
}
