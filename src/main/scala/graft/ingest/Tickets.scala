package graft.ingest

import graft.text.Cleanse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ticket/comment ingest — the reference's wrangling core re-expressed as
  * declarative scans + one join (SURVEY.md §2.1 S1/S2, §2.2 P1-P4, §2.4 J1,
  * §2.3 T6).
  *
  * Reference behavior (intended semantics, de-bugged per SURVEY §0):
  *  - S1 `tickets_reshaped` (wrangler.py:413-438): JSON array of Zendesk
  *    tickets → typed records; `fields[0].value` → ticket_type,
  *    `fields[2].value` → outcome (0-based; Spark `element_at` is 1-based),
  *    missing `tags` → [], lowercase status upcased into the enum domain.
  *  - S2/P2 comment files (wrangler.py:363-381): one JSON object per
  *    ticket, filename prefixed with the ticket id, each value an array of
  *    comment objects (`id`, `created_at`, `plain_body`).
  *  - P3 (wrangler.py:431-438): the ticket description seeds the first
  *    comment at the ticket's created_at; the reference uses
  *    random.randint for the id — untestable, so we derive a deterministic
  *    id with xxhash64 (uniqueness is the only intent).
  *  - J1 `comments_bound` (wrangler.py:343-394): O(tickets × files²)
  *    nested directory rescans in the reference → a single left-outer
  *    equi-join + group-to-nested-array here. Tickets with no comment file
  *    are kept (the reference logs a warning and keeps them).
  *
  * Scale notes: schemas are explicit (inference would cost a full extra
  * pass over 100 TB of JSON); the join shuffles both sides hash-partitioned
  * on ticket_id — no directory listing per row, no quadratic rescans; the
  * nested form groups on the already-partitioned key so the groupBy reuses
  * the join's exchange.
  */
object Tickets {

  /** Fixture inputs are repo-local (FIXTURES.md §A) — the shared sf dirs
    * hold only the driver's parquet tables. */
  val FixturesDir = "/root/repo/fixtures"

  // S1: explicit Zendesk-shaped schema (wrangler.py:417-437 field accesses).
  val ticketRawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("status", StringType),
    StructField("subject", StringType),
    StructField("description", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("fields", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("value", StringType)))))))

  private val commentSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("created_at", StringType),
    StructField("plain_body", StringType)))

  // S2: per-ticket JSON object; every array-valued key holds comments
  // (wrangler.py:375 iterates all values). The fixtures use two keys.
  val commentFileSchema: StructType = StructType(Seq(
    StructField("comments", ArrayType(commentSchema)),
    StructField("internal_notes", ArrayType(commentSchema))))

  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ssX"

  /** P4: status name → enum ordinal (wrangler.py:52-65). */
  def statusOrdinal(status: Column): Column =
    when(status === "OPEN", 1).when(status === "HOLD", 2)
      .when(status === "PENDING", 3).when(status === "SOLVED", 4)
      .when(status === "CLOSED", 5)

  /** S1 scan: a single JSON file holding an array of objects needs
    * multiLine — in line-mode Spark would see broken fragments. On a
    * cluster one such file is one input split; real feeds arrive as many
    * files, so the scan parallelizes by file count. */
  def scanTickets(s: SparkSession, path: String = s"$FixturesDir/tickets.json"): DataFrame =
    s.read.option("multiLine", "true").schema(ticketRawSchema).json(path)

  /** P1 reshape: project/rename/cast per wrangler.py:417-430. */
  def reshapeTickets(raw: DataFrame): DataFrame =
    raw.select(
      col("id").as("ticket_id"),
      to_timestamp(col("created_at"), TsFmt).as("created_at"),
      to_timestamp(col("updated_at"), TsFmt).as("last_updated"),
      upper(col("status")).as("status"),
      col("subject"),
      col("description"),
      coalesce(col("tags"), array()).as("tags"),
      element_at(col("fields"), 3).getField("value").as("outcome"),
      element_at(col("fields"), 1).getField("value").as("ticket_type"))
      .withColumn("status_ord", statusOrdinal(col("status")))

  /** S2 scan + P2 reshape: all comment files in one distributed scan; the
    * ticket id comes from the filename prefix (wrangler.py:368) via
    * input_file_name — no per-ticket directory listing. */
  def scanComments(s: SparkSession, dir: String = s"$FixturesDir/comments"): DataFrame = {
    val raw = s.read.option("multiLine", "true")
      .schema(commentFileSchema).json(dir)
      .withColumn("ticket_id", // anchored at the path separator: the id is
        // the filename *prefix* (wrangler.py:368 startswith), so digits
        // appearing mid-name (e.g. notes_123.json) must not bind
        regexp_extract(input_file_name(), "/([0-9]+)[^/]*\\.json$", 1).cast(LongType))
    raw.select(col("ticket_id"), explode(
        concat(coalesce(col("comments"), array()),
          coalesce(col("internal_notes"), array()))).as("c"))
      .select(col("ticket_id"), col("c.id").as("comment_id"),
        to_timestamp(col("c.created_at"), TsFmt).as("created_at"),
        col("c.plain_body").as("body"))
  }

  /** P3: the description-seeded first comment (wrangler.py:431-438),
    * deterministic id. md5-derived (60 bits of the hex digest), not
    * xxhash64: the id participates in the nested-shape digest q74 gates,
    * and md5 is the one hash both engines compute identically. */
  def seededComments(tickets: DataFrame): DataFrame =
    tickets.select(col("ticket_id"),
      conv(substring(md5(col("ticket_id").cast("string").cast("binary")), 1, 15),
        16, 10).cast(LongType).as("comment_id"),
      col("created_at"), col("description").as("body"))

  /** J1 flat form: seeded ∪ bound comments, one row per (ticket, comment).
    * Tickets with no comment file survive via the seeded row. */
  def allComments(s: SparkSession, tickets: DataFrame,
      commentsDir: String = s"$FixturesDir/comments"): DataFrame =
    seededComments(tickets).unionByName(scanComments(s, commentsDir))

  /** J1 nested form — SURVEY §1.4's Ticket row: comments collected to an
    * ARRAY<STRUCT> ordered by (created_at, comment_id). sort_array (not
    * collect order) keeps the result deterministic under any shuffle. */
  def bindComments(s: SparkSession, tickets: DataFrame,
      commentsDir: String = s"$FixturesDir/comments"): DataFrame = {
    val flat = allComments(s, tickets, commentsDir)
      .select(col("ticket_id"),
        struct(col("created_at"), col("comment_id"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(sort_array(collect_list(col("c"))).as("comments"))
    tickets.join(flat, Seq("ticket_id"), "left_outer")
  }

  /** T6 corpus: one document per ticket — subject + every comment body in
    * (created_at, body) order, full cleanse chain (T1 unescape → T2 NFKC →
    * T4 line filter → T5 PII scrub). Never a driver-side global string. */
  def corpus(s: SparkSession, tickets: DataFrame,
      commentsDir: String = s"$FixturesDir/comments"): DataFrame = {
    val bodies = allComments(s, tickets, commentsDir)
      .select(col("ticket_id"), struct(col("created_at"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(array_join(transform(sort_array(collect_list(col("c"))),
        x => x.getField("body")), " ").as("bodies"))
    tickets.select(col("ticket_id"), col("subject"))
      .join(bodies, Seq("ticket_id"), "left_outer")
      .select(col("ticket_id"),
        Cleanse.cleanse(concat_ws(" ", col("subject"), col("bodies"))).as("doc"))
  }

  // --------------------------------------------------------------- queries
  /** Oracle-facing tokens: T4+T5 only (NFKC/unescape are not expressible in
    * DuckDB; the full chain is covered by unit tests + m_ingest_nested). */
  private def oracleTokens(c: Column): Column = Cleanse.cleanseTokens(c)

  def q34_ingest_tickets(s: SparkSession, dir: String): DataFrame =
    reshapeTickets(scanTickets(s))
      .select(col("ticket_id"), col("created_at"), col("last_updated"),
        col("status"), col("status_ord"), col("subject"),
        size(col("tags")).as("n_tags"), col("outcome"), col("ticket_type"))
      .orderBy(col("ticket_id"))

  def q35_ingest_comments(s: SparkSession, dir: String): DataFrame =
    scanComments(s)
      .select(col("ticket_id"), col("comment_id"), col("created_at"),
        md5(col("body").cast("binary")).as("body_md5"))
      .orderBy(col("ticket_id"), col("comment_id"))

  /** Flat J1 check: per-ticket comment counts + order-stable body digest
    * (seeded description + bound comments). */
  def q36_bind_comments(s: SparkSession, dir: String): DataFrame = {
    val t = reshapeTickets(scanTickets(s))
    allComments(s, t)
      .select(col("ticket_id"), struct(col("created_at"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(count(lit(1)).as("n_comments"),
        min(col("c.created_at")).as("first_at"),
        max(col("c.created_at")).as("last_at"),
        md5(array_join(transform(sort_array(collect_list(col("c"))),
          x => x.getField("body")), " ").cast("binary")).as("bodies_md5"))
      .orderBy(col("ticket_id"))
  }

  /** T6 corpus check (oracle-safe cleanse subset). */
  def q37_ticket_corpus(s: SparkSession, dir: String): DataFrame = {
    val t = reshapeTickets(scanTickets(s))
    val bodies = allComments(s, t)
      .select(col("ticket_id"), struct(col("created_at"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(array_join(transform(sort_array(collect_list(col("c"))),
        x => x.getField("body")), " ").as("bodies"))
    t.select(col("ticket_id"), col("subject"))
      .join(bodies, Seq("ticket_id"), "left_outer")
      .select(col("ticket_id"),
        oracleTokens(concat_ws(" ", col("subject"), col("bodies"))).as("toks"))
      .select(col("ticket_id"), size(col("toks")).as("n_tokens"),
        md5(array_join(col("toks"), " ").cast("binary")).as("doc_md5"))
      .orderBy(col("ticket_id"))
  }

  /** Engine-only: builds the full nested Ticket shape (SURVEY §1.4) with
    * the complete cleanse chain on the corpus column, then projects scalar
    * digests of the nested parts — the driver's rows-only gate still sorts
    * the dump, and raw ARRAY<STRUCT> columns crash that sort (round-1
    * 'unhashable numpy.ndarray' failure). The nested plan is exercised in
    * full; only the dumped shape is flattened. */
  def m_ingest_nested(s: SparkSession, dir: String): DataFrame = {
    val t = reshapeTickets(scanTickets(s))
    bindComments(s, t)
      .join(corpus(s, t), Seq("ticket_id"))
      .select(col("ticket_id"), col("status"), col("status_ord"),
        size(col("tags")).as("n_tags"),
        size(col("comments")).as("n_comments"),
        md5(to_json(col("comments")).cast("binary")).as("comments_md5"),
        length(col("doc")).as("doc_len"),
        md5(col("doc").cast("binary")).as("doc_md5"))
      .orderBy(col("ticket_id"))
  }

  /** The nested Ticket shape, oracle-gated (round-5 advice: every
    * rows-only entry is a place a wrong answer could hide): the full
    * ARRAY<STRUCT> of comments — ids, timestamps, bodies, and their
    * (created_at, comment_id, body) sort — collapses to one canonical
    * per-comment line digest. Unlike m_ingest_nested's to_json (whose
    * serialization is engine-specific), epoch:id:md5(body) lines are
    * engine-neutral, so the digest is exact across Spark and DuckDB.
    * The cleanse-chain doc columns stay in m_ingest_nested (NFKC and the
    * entity table are not DuckDB-expressible). */
  def q74_ingest_nested(s: SparkSession, dir: String): DataFrame = {
    val t = reshapeTickets(scanTickets(s))
    bindComments(s, t)
      .select(col("ticket_id"), col("status"), col("status_ord"),
        size(col("tags")).as("n_tags"),
        size(col("comments")).as("n_comments"),
        md5(array_join(transform(col("comments"),
          x => concat_ws(":",
            x.getField("created_at").cast(LongType),
            x.getField("comment_id"),
            md5(coalesce(x.getField("body"), lit("")).cast("binary")))),
          "\n").cast("binary")).as("comments_md5"))
      .orderBy(col("ticket_id"))
  }

  /** S-family breadth: CSV scan with an EXPLICIT schema and FAILFAST mode
    * — the production posture (inferSchema double-scans the data, and
    * PERMISSIVE silently nulls malformed rows; at 100 TB both are wrong
    * defaults). Quoted fields with embedded commas exercise the parser.
    * Per-team rollup over the agent roster dim. */
  def q78_scan_csv(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("agent_id", LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("team",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("hired",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("tickets_closed", LongType)))
    s.read.schema(schema)
      .option("header", "true").option("mode", "FAILFAST")
      .csv(s"$FixturesDir/agents.csv")
      .groupBy(col("team"))
      .agg(count(lit(1)).as("n_agents"),
        sum(col("tickets_closed")).as("closed"),
        min(col("hired")).as("first_hire"),
        max(col("name")).as("last_name_alpha"))
      .orderBy(col("team"))
  }

  /** CORRUPT-RECORD QUARANTINE — the PERMISSIVE counterpart of q78's
    * FAILFAST: at 100 TB of third-party JSON you cannot abort on the
    * first bad line, you capture it. Deterministically corrupted input
    * (docs whose doc_id md5 bucket is 'd' write TRUNCATED JSON — closing
    * brace dropped; the rest write well-formed lines) reads back under
    * PERMISSIVE with `_corrupt_record` in the schema, and the query emits
    * the quarantine ledger: valid/corrupt counts, the valid-side sum, and
    * an md5 over the sorted captured raw lines — so the reader must
    * capture EXACTLY the bytes of every bad record, not just count them.
    * The oracle re-derives the same lines from `documents` (the writer's
    * line format is plain concat, reproducible in SQL) without touching
    * files. Scratch dir is per-app-id and cleaned up after the ledger is
    * pinned (the q88 discipline).
    *
    * Scale: the quarantine read is one pass; corrupt capture is row-local;
    * the ledger aggregate is a scalar rollup. */
  def q96_corrupt_quarantine(s: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_quarantine_" +
      s.sparkContext.applicationId
    val line = concat(lit("{\"doc_id\":"), col("doc_id"),
      lit(",\"n_chars\":"), col("n_chars"), lit("}"))
    val bucket = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    graft.Tables.documents(s, dir)
      .select(line.as("l"), bucket.as("b"))
      .select(when(col("b") === "d",
        expr("substring(l, 1, length(l) - 1)")).otherwise(col("l")).as("value"))
      .write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("n_chars", LongType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val read = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
    val ledger = read.agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars_valid"),
        md5(concat_ws("\n", sort_array(collect_list(col("_corrupt_record"))))
          .cast("binary")).as("corrupt_md5"))
      .localCheckpoint()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    ledger
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q78_scan_csv"       -> (q78_scan_csv _),
    "q96_corrupt_quarantine" -> (q96_corrupt_quarantine _),
    "q34_ingest_tickets" -> (q34_ingest_tickets _),
    "q35_ingest_comments" -> (q35_ingest_comments _),
    "q36_bind_comments"  -> (q36_bind_comments _),
    "q37_ticket_corpus"  -> (q37_ticket_corpus _),
    "q74_ingest_nested"  -> (q74_ingest_nested _),
    "m_ingest_nested"    -> (m_ingest_nested _))

  // DuckDB twins read the same fixture files (read_json ships in-box).
  private val DTickets =
    s"""read_json('$FixturesDir/tickets.json', columns = {
       | id: 'BIGINT', created_at: 'VARCHAR', updated_at: 'VARCHAR',
       | status: 'VARCHAR', subject: 'VARCHAR', description: 'VARCHAR',
       | tags: 'VARCHAR[]',
       | fields: 'STRUCT(id BIGINT, value VARCHAR)[]'})""".stripMargin
  private val DComments =
    s"""read_json('$FixturesDir/comments/*.json', filename = true, columns = {
       | comments: 'STRUCT(id BIGINT, created_at VARCHAR, plain_body VARCHAR)[]',
       | internal_notes: 'STRUCT(id BIGINT, created_at VARCHAR, plain_body VARCHAR)[]'})""".stripMargin
  // T4 line filter + tokenize + T5 PII scrub. NB coalesce: DuckDB's
  // array_to_string([]) is NULL where Spark's array_join([]) is ''.
  private val DCleanTokens =
    s"""list_filter(list_filter(string_split(trim(coalesce(array_to_string(
       |  list_filter(string_split_regex(doc, '\\r?\\n'),
       |              l -> regexp_matches(l, '^[A-Za-z0-9 ]+$$')), ' '), '')), ' '),
       |  t -> t <> ''), t -> NOT regexp_matches(t, '${Cleanse.PiiRe}'))""".stripMargin
  private val DReshaped =
    s"""SELECT id AS ticket_id,
       | strptime(created_at, '%Y-%m-%dT%H:%M:%SZ') AS created_at,
       | strptime(updated_at, '%Y-%m-%dT%H:%M:%SZ') AS last_updated,
       | upper(status) AS status,
       | CASE upper(status) WHEN 'OPEN' THEN 1 WHEN 'HOLD' THEN 2
       |   WHEN 'PENDING' THEN 3 WHEN 'SOLVED' THEN 4 WHEN 'CLOSED' THEN 5
       | END AS status_ord,
       | subject, description, coalesce(tags, []) AS tags,
       | fields[3].value AS outcome, fields[1].value AS ticket_type
       |FROM $DTickets""".stripMargin
  private val DFlatComments =
    s"""SELECT CAST(regexp_extract(filename, '/([0-9]+)[^/]*\\.json$$', 1) AS BIGINT)
       |   AS ticket_id,
       | c.id AS comment_id,
       | strptime(c.created_at, '%Y-%m-%dT%H:%M:%SZ') AS created_at,
       | c.plain_body AS body
       |FROM (SELECT filename,
       |        unnest(coalesce(comments, []) || coalesce(internal_notes, [])) AS c
       |      FROM $DComments)""".stripMargin
  private val DAllComments =
    s"""SELECT ticket_id, created_at, description AS body FROM ($DReshaped)
       |UNION ALL
       |SELECT ticket_id, created_at, body FROM ($DFlatComments)""".stripMargin
  // the id-carrying twin (q74): seeded ids are the same 60-bit md5 prefix
  // the engine derives in seededComments
  private val DAllCommentsId =
    s"""SELECT ticket_id,
       | CAST('0x' || substr(md5(CAST(ticket_id AS VARCHAR)), 1, 15) AS BIGINT)
       |   AS comment_id,
       | created_at, description AS body FROM ($DReshaped)
       |UNION ALL
       |SELECT ticket_id, comment_id, created_at, body FROM ($DFlatComments)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q78_scan_csv" ->
      s"""SELECT team, CAST(COUNT(*) AS BIGINT) AS n_agents,
         | CAST(SUM(tickets_closed) AS BIGINT) AS closed,
         | MIN(hired) AS first_hire,
         | MAX(name) AS last_name_alpha
         |FROM read_csv('$FixturesDir/agents.csv', header = true, columns = {
         |  'agent_id': 'BIGINT', 'name': 'VARCHAR', 'team': 'VARCHAR',
         |  'hired': 'DATE', 'tickets_closed': 'BIGINT'})
         |GROUP BY team ORDER BY team""".stripMargin,
    // the writer's line format is plain concat, so the oracle re-derives
    // every valid and corrupt line from `documents` without touching files
    "q96_corrupt_quarantine" ->
      """WITH l AS (SELECT doc_id, n_chars,
        |    '{"doc_id":' || doc_id || ',"n_chars":' || n_chars || '}' AS line,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b
        |  FROM documents),
        |c AS (SELECT substr(line, 1, len(line) - 1) AS cl FROM l WHERE b = 'd')
        |SELECT
        |  CAST((SELECT COUNT(*) FROM l WHERE b <> 'd') AS BIGINT) AS n_valid,
        |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_corrupt,
        |  CAST((SELECT SUM(n_chars) FROM l WHERE b <> 'd') AS BIGINT)
        |    AS sum_chars_valid,
        |  md5(COALESCE((SELECT string_agg(cl, chr(10) ORDER BY cl) FROM c), ''))
        |    AS corrupt_md5""".stripMargin,
    "q34_ingest_tickets" ->
      s"""SELECT ticket_id, created_at, last_updated, status,
         | CAST(status_ord AS INTEGER) AS status_ord, subject,
         | CAST(len(tags) AS INTEGER) AS n_tags, outcome, ticket_type
         |FROM ($DReshaped) ORDER BY ticket_id""".stripMargin,
    "q35_ingest_comments" ->
      s"""SELECT ticket_id, comment_id, created_at, md5(body) AS body_md5
         |FROM ($DFlatComments) ORDER BY ticket_id, comment_id""".stripMargin,
    "q36_bind_comments" ->
      s"""SELECT ticket_id, COUNT(*) AS n_comments,
         | MIN(created_at) AS first_at, MAX(created_at) AS last_at,
         | md5(string_agg(body, ' ' ORDER BY created_at, body)) AS bodies_md5
         |FROM ($DAllComments) GROUP BY ticket_id ORDER BY ticket_id""".stripMargin,
    "q74_ingest_nested" ->
      s"""SELECT t.ticket_id, t.status, CAST(t.status_ord AS INTEGER) AS status_ord,
         | CAST(len(t.tags) AS INTEGER) AS n_tags,
         | CAST(c.n_comments AS INTEGER) AS n_comments,
         | c.comments_md5
         |FROM ($DReshaped) t JOIN (
         |  SELECT ticket_id, COUNT(*) AS n_comments,
         |    md5(string_agg(
         |      CAST(epoch(created_at) AS BIGINT) || ':' || comment_id || ':'
         |        || md5(coalesce(body, '')),
         |      chr(10) ORDER BY created_at, comment_id)) AS comments_md5
         |  FROM ($DAllCommentsId) GROUP BY ticket_id) c USING (ticket_id)
         |ORDER BY t.ticket_id""".stripMargin,
    "q37_ticket_corpus" ->
      s"""WITH docs AS (
         |  SELECT t.ticket_id,
         |    t.subject || ' ' || string_agg(a.body, ' ' ORDER BY a.created_at, a.body)
         |      AS doc
         |  FROM ($DReshaped) t JOIN ($DAllComments) a USING (ticket_id)
         |  GROUP BY t.ticket_id, t.subject),
         |toks AS (SELECT ticket_id, $DCleanTokens AS toks FROM docs)
         |SELECT ticket_id, CAST(len(toks) AS INTEGER) AS n_tokens,
         | md5(coalesce(array_to_string(toks, ' '), '')) AS doc_md5
         |FROM toks ORDER BY ticket_id""".stripMargin)
}
