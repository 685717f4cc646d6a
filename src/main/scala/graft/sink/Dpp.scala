package graft.sink

import graft.Tables
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** Dynamic partition pruning (q142) — the OTHER half of partition
  * pruning: q88/q91 prove STATIC pruning (literal partition predicates
  * reaching the scan); at lake scale the common star-join shape has no
  * literal — the partition set is decided by a DIMENSION-side filter the
  * optimizer cannot see statically. Spark's DPP (SPARK-11150) turns the
  * broadcast dim into a runtime IN-subquery on the fact scan's partition
  * column, so only qualifying partitions' files ever open.
  *
  * Fixture: documents written lang-partitioned (5 partitions); the dim is
  * the per-lang character mass with an ABOVE-MEAN predicate
  * (`5·chars > total` — integer cross-multiplied, the q87b discipline, so
  * the qualifying set is data-derived and exactly reproducible in SQL).
  * The gated aggregate reads the lake THROUGH the dim join; DppSpec
  * asserts the physical claim — `dynamicpruning` in the fact scan's
  * PartitionFilters AND fewer partitions read than exist (scan metrics).
  *
  * Scale shape: this is THE 100 TB star-join access path — a fact table
  * partitioned on the join key's functional ancestor, dims broadcast,
  * runtime pruning bounding I/O to qualifying partitions. Nothing here
  * is bench-scale-specific: the fixture's 5 partitions stand in for
  * 10^4 date/tenant partitions.
  */
object Dpp extends graft.QueryModule {

  /** Lake + inner (pre-checkpoint) frame, exposed for DppSpec's
    * plan/metrics assertions (the q88 pattern: the returned query pins
    * and cleans up, REPLACING the plan with Scan ExistingRDD). */
  private[graft] def dppAgg(s: SparkSession, dir: String, out: String)
      : DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    // dim: per-lang char mass off the RAW table, above-mean predicate
    // (integer cross-multiplied; 5 = |langs|, recomputed not hardcoded)
    val stats = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(sum(col("n_chars")).as("chars"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val dim = stats
      .withColumn("total", sum(col("chars")).over(wAll))
      .withColumn("n_langs", count(lit(1)).over(wAll))
      .filter(col("chars") * col("n_langs") > col("total"))
      .select(col("lang"))
    val fact = s.read.parquet(out)
    fact.join(broadcast(dim), Seq("lang")) // → runtime DPP on the scan
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long")).cast("long").as("text_sig"))
      .orderBy(col("lang"))
  }

  def q142_dpp_star_lake(s: SparkSession, dir: String): DataFrame = {
    val out = Orc.scratchDir(s) + "_dpp"
    val pinned = dppAgg(s, dir, out).localCheckpoint() // tiny
    FileUtils.deleteQuietly(new File(out))
    pinned
  }

  /** Oracle recomputes the dim predicate and the pruned aggregate from
    * `documents` alone — a lake round-trip corruption or a wrong pruning
    * decision (missing/extra partitions) fails the hash gate. */
  private lazy val dppOracle: String =
    s"""WITH stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars
       |  FROM documents GROUP BY 1),
       |dim AS (SELECT lang FROM stats,
       |    (SELECT SUM(chars) AS total, COUNT(*) AS n_langs FROM stats) t
       |  WHERE chars * n_langs > total)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CAST('0x' || substr(md5(d.text), 1, 12) AS BIGINT))
       |    AS BIGINT) AS text_sig
       |FROM documents d JOIN dim USING (lang)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_dpp_star_lake" -> (q142_dpp_star_lake _))

  override val oracle: Map[String, String] = Map(
    "q142_dpp_star_lake" -> dppOracle)
}
