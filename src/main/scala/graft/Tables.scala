package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the shared parquet tables (`TESTDATA.md`). Every relational
  * operator reads through here so scan conventions (ns-timestamp handling,
  * schema expectations) live in one place. All loaders are plain
  * `spark.read.parquet` scans — Catalyst pushes filters/projections down to
  * the parquet reader, so callers should NOT cache or materialize these.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def p(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = p(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = p(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = p(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = p(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = p(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = p(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = p(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = p(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = p(s, d, "embeddings")

  /** Fan-out guard for COMPUTE-AMPLIFYING consumers of a small scan
    * (round-13): scan parallelism is sized by the file's split count —
    * a single-row-group parquet file scans as ONE partition no matter
    * what `maxPartitionBytes` says, which serializes every downstream
    * explode/UDF/aggregate map pass (measured at sf0.1: q70's shared
    * token map stage ran 6.1 s in one task while 31 cores idled). When
    * the natural split count is at or below HALF the cluster's default
    * parallelism, one cheap round-robin exchange of the RAW rows (pre-
    * explode — the cheapest place to shuffle) restores fan-out; on a
    * lake-scale table the splits already exceed parallelism and this is
    * the identity — NO shuffle is added at 100 TB. Only consumers whose
    * downstream work is orders of magnitude larger than the scan
    * (shingle kernels, gram explodes, tokenizer passes) go through here;
    * plain relational reads keep the bare scan. */
  private[graft] def fanned(df: DataFrame, s: SparkSession): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // getNumPartitions only builds the physical RDD — no job runs
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
  def documentsFanned(s: SparkSession, d: String): DataFrame =
    fanned(documents(s, d), s)
  def embeddingsFanned(s: SparkSession, d: String): DataFrame =
    fanned(embeddings(s, d), s)
  /** For full-scan consumers whose MAP SIDE amplifies compute (cube's
    * grouping-set expansion, per-row md5 digests, sketch inserts,
    * multi-column decimal sums) — measured A/B at sf0.1: q40 2.07→1.31,
    * q54 1.74→1.43, q64 1.33→1.15, q50 1.32→1.02 fanned. Holistic or
    * cheap-map aggregates (exact percentile buffers, HLL partials, the
    * resample grid) measured SLOWER fanned — the exchange is never paid
    * back (q41b 2.1→2.8, q_approx 1.9→2.5) — and keep the bare scan, as
    * must any filtered consumer (the exchange blocks predicate pushdown). */
  def lineitemFanned(s: SparkSession, d: String): DataFrame =
    fanned(lineitem(s, d), s)

  /** `events.parquet`'s `ts` encoding has varied across driver-generated
    * datasets: TIMESTAMP(NANOS) (which Spark's parquet reader only accepts
    * as a raw long via the legacy conf) and plain microsecond
    * TIMESTAMP_NTZ. Normalize both to the same three columns so every
    * downstream operator and every DuckDB oracle (`epoch_us(ts)`) agrees:
    *   - `ts_ns` — epoch nanoseconds
    *   - `ts_us` — epoch microseconds (floor division for the nanos case,
    *               matching DuckDB's ns→us truncation)
    *   - `ts`    — TimestampType at microsecond precision
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→LTZ cast below is the identity on the stored micros ONLY
    // under a UTC session. Every graft entry point (Bench, Verify, the
    // test harness) sets it; FAIL LOUDLY for anyone else rather than
    // silently overwriting the caller's timezone — a reader that mutates
    // session state changes the behavior of unrelated timestamp parsing
    // in the same session (round-12 advice).
    val tz = s.conf.get("spark.sql.session.timeZone")
    if (tz != "UTC")
      throw new IllegalStateException(
        s"Tables.events requires spark.sql.session.timeZone=UTC (got '$tz'): " +
          "the NTZ->LTZ ts normalization is timezone-sensitive; set UTC on " +
          "the session builder")
    val raw = p(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val withUs = raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as raw long via the conf
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
          .drop("ts")
      case other =>
        // Fail loudly on a new driver-side encoding (e.g. plain micros
        // long without the nanos logical type, or a string) instead of
        // producing silently wrong ts_us — this class of silent change
        // cost round 10 twelve bench queries.
        throw new IllegalStateException(
          s"events.ts has unsupported encoding $other; expected " +
            "TIMESTAMP(NANOS)-as-long, TIMESTAMP or TIMESTAMP_NTZ")
    }
    // Fixed column order regardless of which branch ran, so select-* and
    // cross-dataset unions see one schema.
    val rest = withUs.columns.filterNot(Set("ts_ns", "ts_us")).map(col).toSeq
    withUs.withColumn("ts", expr("timestamp_micros(ts_us)"))
      .select(rest ++ Seq(col("ts_ns"), col("ts_us"), col("ts")): _*)
  }
}
