package graft.sink

import graft.{Memo, Tables}
import graft.rel.JoinCard
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Range-layout advisor + advised writer (q163/q163b) — the third
  * advisor→executor loop (salting: q153→q46; broadcast: q159→q159b;
  * layout: here). Time-range file layout is THE lakehouse convention
  * for event data (every retention scan, incremental agg and time
  * travel prunes on it), and its one failure mode is unbalanced
  * buckets. The advisor derives equi-depth boundaries the way Spark's
  * own RangePartitioner does — from a SAMPLE's order statistics
  * (sampling theory: the sample q-quantile estimates the population's;
  * DeWitt et al. 1991's percentile splitters for parallel sort) — but
  * with a DETERMINISTIC hash sample (pmod(splitmix64(event_id), 64) =
  * 0) instead of a seeded reservoir, so the whole derivation replays
  * in DuckDB and the report is hash-gateable: boundary values, exact
  * per-bucket counts, permille shares, and structural gates (buckets
  * tile the corpus: Σ n_rows = n_total; the boundary array is sorted).
  *
  * Balance itself is reported, not gated — with 14 sampled points at
  * sf0.001 the shares legitimately swing 10×, and pinning them would
  * gate sample-size luck, not correctness (the spec bounds them at
  * sf0.01 where the sample is honest).
  *
  * Scale shape: the sample is one pushed-down filter + a sample-sized
  * sort (rate sized so corpus/P stays bounded — P rides the q54 KMV
  * count the way q159's does; Spark's production path would reservoir
  * per partition and merge, the documented upgrade). Bucket assignment
  * is a map-side probe of the BROADCAST 7-value boundary array; the
  * per-bucket report is one map-side-combined aggregate. Nothing
  * corpus-scale reaches the driver — the consumer memo is the 7-long
  * boundary array. */
object RangeLayout extends graft.QueryModule {

  private val K = 8
  private val PInv = 64L

  private def sampled(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(pmod(JoinCard.splitmix64(col("event_id")), lit(PInv)) === 0L)
      .select(col("ts_us"))

  /** The 7 boundary values (rank ⌈i·n_s/K⌉ of the sorted sample,
    * i = 1..K−1, duplicates preserved) as a one-row array frame. */
  private def boundaryArr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy(col("ts_us"))
    val ranked = sampled(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("ns", count(lit(1)).over(
        Window.partitionBy()))
    (1 until K).toDF("i")
      .join(ranked, expr(s"rn = (i * ns + ${K - 1}) div $K"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(i, ts_us)))," +
        " x -> x.ts_us)").as("barr"),
        max(col("ns")).as("n_sample"))
  }

  def q163_range_boundaries(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("ts_us"))
    // independent corpus count: `tiles_ok` compares the bucketed total
    // against THIS aggregate, so a bucket expression that dropped or
    // duplicated rows fails the gate (a windowed re-sum of the bucket
    // counts would be a tautology)
    val nEv = ev.agg(count(lit(1)).as("n_ev"))
    val bucketed = ev.crossJoin(broadcast(boundaryArr(s, dir)))
      .withColumn("bucket",
        expr("size(filter(barr, b -> ts_us >= b))"))
    val wAll = Window.partitionBy()
    bucketed.groupBy(col("bucket"), col("n_sample"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts_us")).as("lo_us"), max(col("ts_us")).as("hi_us"),
        max(expr("barr = array_sort(barr)")).as("sorted_ok"))
      .crossJoin(broadcast(nEv))
      .withColumn("n_total", sum(col("n_rows")).over(wAll))
      .withColumn("share_permille",
        expr(s"(1000 * n_rows * $K) div n_total"))
      .withColumn("tiles_ok",
        col("n_total") === col("n_ev") && col("sorted_ok"))
      .select(col("bucket"), col("n_rows"), col("lo_us"), col("hi_us"),
        col("share_permille"), col("n_sample"), col("n_total"),
        col("tiles_ok"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------- q163b

  /** The advised boundary array — what the writer consumes — computed
    * once per session and `events.parquet` listing through [[Memo]]. */
  private[graft] def recommendedBoundaries(s: SparkSession,
      dir: String): Seq[Long] =
    Memo(s, dir, Seq("events"), "boundaries")(
      boundaryArr(s, dir).head().getSeq[Long](0))

  /** Advised writer: lays events out as one file per advisor bucket and
    * reports the physical per-bucket counts next to the advisor's
    * logical ones — `matches_advice` is the loop's closing gate (a
    * writer bucketing by anything else flips it false through the
    * oracle). */
  def q163b_advised_layout(s: SparkSession, dir: String): DataFrame = {
    val bnds = recommendedBoundaries(s, dir)
    val lake = Orc.scratchDir(s) + "_rangelayout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    val barr = typedlit(bnds)
    Tables.events(s, dir)
      .select(col("event_id"), col("ts_us"))
      .withColumn("bucket", size(filter(barr, b => col("ts_us") >= b)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(lake)
    val physical = s.read.parquet(lake)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
    val advised = q163_range_boundaries(s, dir)
      .select(col("bucket"), col("n_rows").as("advised_rows"))
    val files = new java.io.File(lake).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => (d.getName.stripPrefix("bucket=").toInt.toLong,
        d.listFiles().count(_.getName.endsWith(".parquet")).toLong))
    import s.implicits._
    val fileCounts = files.toSeq.toDF("bucket", "n_files")
    val out = physical.join(advised, Seq("bucket"))
      .join(broadcast(fileCounts), Seq("bucket"))
      .select(col("bucket"), col("n_rows"), col("n_files"),
        (col("n_rows") === col("advised_rows")).as("matches_advice"))
      .orderBy(col("bucket"))
    val pinned = out.localCheckpoint()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    pinned
  }

  // ---------------------------------------------------------------- oracle

  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  /** Shared CTE chain: splitmix64 sample → ranked sample → boundary
    * list → per-bucket counts. */
  private lazy val bucketsCte: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""ev AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
       |zs AS (SELECT ts_us, CAST(event_id AS HUGEINT) AS z FROM ev),
       |s1 AS (SELECT ts_us, $z1 AS z1 FROM zs),
       |s2 AS (SELECT ts_us, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT ts_us, $m2 AS z2 FROM s2),
       |s4 AS (SELECT ts_us, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT ts_us, $m3 AS z3 FROM s4),
       |s6 AS (SELECT ts_us, xor(z3, z3 // 2147483648) AS m FROM s5),
       |samp AS (SELECT ts_us FROM s6 WHERE m % 64 = 0),
       |rk AS (SELECT ts_us,
       |    ROW_NUMBER() OVER (ORDER BY ts_us) AS rn,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS ns
       |  FROM samp),
       |bl AS (SELECT i, ts_us FROM (SELECT unnest(range(1, 8)) AS i),
       |    rk WHERE rn = (i * ns + 7) // 8),
       |ba AS (SELECT list(ts_us ORDER BY i) AS barr,
       |    (SELECT MAX(ns) FROM rk) AS n_sample FROM bl),
       |bk AS (SELECT len(list_filter(barr, b -> ts_us >= b)) AS bucket,
       |    ts_us, n_sample
       |  FROM ev, ba),
       |agg AS (SELECT bucket, MAX(n_sample) AS n_sample,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    MIN(ts_us) AS lo_us, MAX(ts_us) AS hi_us
       |  FROM bk GROUP BY bucket)""".stripMargin
  }

  private lazy val boundariesOracle: String =
    s"""WITH $bucketsCte,
       |fin AS (SELECT *,
       |    CAST(SUM(n_rows) OVER () AS BIGINT) AS n_total FROM agg)
       |SELECT CAST(bucket AS INTEGER) AS bucket, n_rows, lo_us, hi_us,
       |  CAST((1000 * n_rows * 8) // n_total AS BIGINT) AS share_permille,
       |  CAST(n_sample AS BIGINT) AS n_sample, n_total,
       |  (n_total = (SELECT COUNT(*) FROM ev) AND
       |   (SELECT barr = list_sort(barr) FROM ba)) AS tiles_ok
       |FROM fin ORDER BY bucket""".stripMargin

  private lazy val layoutOracle: String =
    s"""WITH $bucketsCte
       |SELECT CAST(bucket AS INTEGER) AS bucket, n_rows,
       |  CAST(1 AS BIGINT) AS n_files, TRUE AS matches_advice
       |FROM agg ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_range_boundaries" -> (q163_range_boundaries _),
    "q163b_advised_layout" -> (q163b_advised_layout _))

  override val oracle: Map[String, String] = Map(
    "q163_range_boundaries" -> boundariesOracle,
    "q163b_advised_layout" -> layoutOracle)
}
