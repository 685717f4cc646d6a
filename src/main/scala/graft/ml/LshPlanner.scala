package graft.ml

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MinHash-LSH parameter planner (q151) — the banding-theorem S-curve
  * analysis every LSH deployment runs before picking (bands, rows)
  * (Leskovec, Rajaraman & Ullman, "Mining of Massive Datasets" §3.4):
  * for a candidate config the collision probability of a pair at
  * Jaccard s is p(s) = 1 − (1 − s^r)^b, the threshold is the S-curve
  * inflection ≈ (1/b)^(1/r), and the quality of a config against a
  * target τ is the false-positive area below τ plus the false-negative
  * area above it (uniform-grid Riemann masses — the standard planner
  * heuristic; the REAL pair-similarity distribution refines the weights
  * when known, which is what the q84/q33 measured kernels provide).
  *
  * Everything integerizes per grid point (round(1e6·p) BEFORE any
  * summation — the ln/pow knife-edge class documented since q125), so
  * the areas are exact BIGINT sums and the winner flag is
  * integer-arithmetic on those sums: cross-engine gateable. The corpus
  * contributes its advisory scale column (n_docs — what the candidate
  * budget C(n,2)·p integrates against at deploy time).
  *
  * Scale shape: the planner itself is O(configs × grid) rows of scalar
  * math — a catalog computation. Its OUTPUT is what bounds 100 TB
  * work: choosing (b, r) fixes the band-bucket fan-out of the q30/q84
  * pipelines before any corpus-side pass runs.
  */
object LshPlanner extends graft.QueryModule {

  private val Configs: Seq[(Int, Int)] =
    Seq((8, 16), (16, 8), (32, 4), (64, 2), (16, 16), (32, 8))
  private val GridStep = 50 // permille grid: 50, 100, ..., 950
  private val TargetPermille = 700 // the q84 near-dup regime

  def q151_lsh_planner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nDocs = Tables.documents(s, dir).count()
    val grid = (GridStep until 1000 by GridStep).map(_.toLong)
    val rows = Configs.toDF("b", "r")
      .crossJoin(grid.toDF("s_permille"))
      .withColumn("p_micro",
        round(lit(1e6) * (lit(1.0) -
          pow(lit(1.0) - pow(col("s_permille") / lit(1000.0), col("r")),
            col("b")))).cast("long"))
    val perCfg = rows.groupBy(col("b"), col("r"))
      .agg(
        sum(when(col("s_permille") < TargetPermille, col("p_micro"))
          .otherwise(0L)).as("fp_area"),
        sum(when(col("s_permille") >= TargetPermille,
          lit(1000000L) - col("p_micro")).otherwise(0L)).as("fn_area"))
      .withColumn("s_star_micro",
        round(lit(1e6) * pow(lit(1.0) / col("b"), lit(1.0) / col("r")))
          .cast("long"))
      .withColumn("loss", col("fp_area") + col("fn_area"))
    val best = Window.partitionBy()
    perCfg
      .withColumn("is_best", col("loss") ===
        min(col("loss")).over(best))
      .withColumn("n_docs", lit(nDocs))
      .select(col("b"), col("r"), col("s_star_micro"), col("fp_area"),
        col("fn_area"), col("loss"), col("is_best"), col("n_docs"))
      .orderBy(col("b"), col("r"))
  }

  private lazy val plannerOracle: String = {
    val cfgVals = Configs.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH cfg(b, r) AS (VALUES $cfgVals),
       |grid AS (SELECT CAST(g AS BIGINT) AS s_permille
       |  FROM range($GridStep, 1000, $GridStep) t(g)),
       |pts AS (SELECT b, r, s_permille,
       |    CAST(round(1000000.0 * (1.0 -
       |      pow(1.0 - pow(s_permille / 1000.0, r), b))) AS BIGINT)
       |      AS p_micro
       |  FROM cfg, grid),
       |per AS (SELECT b, r,
       |    CAST(SUM(CASE WHEN s_permille < $TargetPermille
       |      THEN p_micro ELSE 0 END) AS BIGINT) AS fp_area,
       |    CAST(SUM(CASE WHEN s_permille >= $TargetPermille
       |      THEN 1000000 - p_micro ELSE 0 END) AS BIGINT) AS fn_area
       |  FROM pts GROUP BY 1, 2),
       |fin AS (SELECT b, r,
       |    CAST(round(1000000.0 * pow(1.0 / b, 1.0 / r)) AS BIGINT)
       |      AS s_star_micro,
       |    fp_area, fn_area, fp_area + fn_area AS loss
       |  FROM per)
       |SELECT CAST(b AS INTEGER) AS b, CAST(r AS INTEGER) AS r,
       |  s_star_micro, fp_area, fn_area, CAST(loss AS BIGINT) AS loss,
       |  loss = (SELECT MIN(loss) FROM fin) AS is_best,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs
       |FROM fin ORDER BY b, r""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_lsh_planner" -> (q151_lsh_planner _))

  override val oracle: Map[String, String] = Map(
    "q151_lsh_planner" -> plannerOracle)
}
