package graft.ml

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Margin-based bitext mining (q181) — the parallel-corpus miner for
  * translation training data (Artetxe & Schwenk 2019's ratio margin, the
  * CCMatrix/LASER recipe): for candidate pair (x, y) across two
  * collections, margin = cos(x,y) / mean of the 2k nearest-neighbor
  * cosines of x and y — normalizing by local density kills hub vectors
  * that plain cosine thresholds over-select.
  *
  * Exactness: cosines evaluate on both engines as the identical IEEE
  * tree (dot/sqrt — the q19 precedent), integerize ONCE to micro-units,
  * and every downstream quantity is either a BIGINT sum of those micro
  * units (k-NN denominator mass — summation-order-proof) or one IEEE
  * division of exact integers (the margin) — so the full mining result
  * hash-gates with no tolerance contract.
  *
  * Scale: this is the BRUTE baseline (the q19 role) — |A|×|B| scored
  * pairs with the smaller collection broadcast. The production path at
  * 100 TB swaps the candidate generator for the q82 IVF / m_ann_lsh
  * shortlists (margin only needs each side's top-k neighborhood, which
  * ANN supplies) and keeps this kernel as the per-candidate scorer; the
  * per-side top-k is a bounded-heap window either way. */
object Bitext extends graft.QueryModule {
  private val KNn = 4
  private val TopPairs = 20

  def q181_bitext_margin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("x_id"), col("emb").as("xe"))
    val b = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("y_id"), col("emb").as("ye"))
    val cos = VecFunctions.dot_d(col("xe"), col("ye")) /
      (sqrt(VecFunctions.dot_d(col("xe"), col("xe"))) *
        sqrt(VecFunctions.dot_d(col("ye"), col("ye"))))
    val pairs = a.crossJoin(broadcast(b))
      .select(col("x_id"), col("y_id"),
        round(cos * lit(1000000.0), 0).cast(LongType).as("cos_u"))
    val wx = Window.partitionBy(col("x_id"))
      .orderBy(col("cos_u").desc, col("y_id"))
    val wy = Window.partitionBy(col("y_id"))
      .orderBy(col("cos_u").desc, col("x_id"))
    val sx = pairs.withColumn("rk", row_number().over(wx))
      .filter(col("rk") <= KNn)
      .groupBy(col("x_id")).agg(sum(col("cos_u")).as("sx"))
    val sy = pairs.withColumn("rk", row_number().over(wy))
      .filter(col("rk") <= KNn)
      .groupBy(col("y_id")).agg(sum(col("cos_u")).as("sy"))
    val wBest = Window.partitionBy(col("x_id"))
      .orderBy(col("marg").desc, col("y_id"))
    pairs.join(sx, "x_id").join(sy, "y_id")
      .filter(col("sx") + col("sy") =!= 0L)
      .withColumn("marg", expr(
        s"CAST(cos_u AS DOUBLE) * ${2 * KNn}.0 / CAST(sx + sy AS DOUBLE)"))
      .withColumn("best", row_number().over(wBest))
      .filter(col("best") === 1)
      .orderBy(col("marg").desc, col("x_id"))
      .limit(TopPairs)
      .selectExpr("x_id", "y_id", "cos_u", "round(marg, 6) AS margin_r")
      .orderBy(col("x_id"))
  }

  private lazy val bitextOracle: String =
    s"""WITH e AS (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |a AS (SELECT vec_id AS x_id, emb AS xe FROM e WHERE vec_id % 2 = 0),
       |b AS (SELECT vec_id AS y_id, emb AS ye FROM e WHERE vec_id % 2 = 1),
       |pairs AS (SELECT x_id, y_id,
       |    CAST(round(list_dot_product(xe, ye) /
       |      (sqrt(list_dot_product(xe, xe)) * sqrt(list_dot_product(ye, ye)))
       |      * 1000000.0) AS BIGINT) AS cos_u
       |  FROM a CROSS JOIN b),
       |sx AS (SELECT x_id, CAST(SUM(cos_u) AS BIGINT) AS sx FROM (
       |    SELECT x_id, cos_u, ROW_NUMBER() OVER (PARTITION BY x_id
       |      ORDER BY cos_u DESC, y_id) AS rk FROM pairs)
       |  WHERE rk <= $KNn GROUP BY x_id),
       |sy AS (SELECT y_id, CAST(SUM(cos_u) AS BIGINT) AS sy FROM (
       |    SELECT y_id, cos_u, ROW_NUMBER() OVER (PARTITION BY y_id
       |      ORDER BY cos_u DESC, x_id) AS rk FROM pairs)
       |  WHERE rk <= $KNn GROUP BY y_id),
       |m AS (SELECT p.x_id, p.y_id, p.cos_u,
       |    CAST(cos_u AS DOUBLE) * ${2 * KNn}.0 / CAST(sx + sy AS DOUBLE)
       |      AS marg
       |  FROM pairs p JOIN sx USING (x_id) JOIN sy USING (y_id)
       |  WHERE sx + sy <> 0),
       |best AS (SELECT x_id, y_id, cos_u, marg, ROW_NUMBER() OVER (
       |    PARTITION BY x_id ORDER BY marg DESC, y_id) AS best FROM m),
       |top AS (SELECT x_id, y_id, cos_u, marg FROM best WHERE best = 1
       |  ORDER BY marg DESC, x_id LIMIT $TopPairs)
       |SELECT x_id, y_id, cos_u, round(marg, 6) AS margin_r
       |FROM top ORDER BY x_id""".stripMargin

  // ----------------------------------------- q197 hard-negative mining
  private val Anchors = 8
  private val NegK = 4

  /** Triplet mining for contrastive embedding training (the
    * in-batch-negatives upgrade: Schroff et al. 2015's semi-hard
    * negatives, SimCSE/DPR-style retrieval training data): per anchor,
    * the top-1 neighbor is the positive and the next [[NegK]] are the
    * hard negatives, each reported with its micro-cosine and the
    * positive-negative margin (an exact BIGINT difference — the
    * "semi-hardness" the trainer curricula sort by). Brute scoring like
    * q19/q181 (the declared baseline role); the production candidate
    * generator is the ANN shortlist, scorer unchanged. */
  def q197_triplet_mining(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("anchor_id"), col("emb").as("qemb"))
    val cos = VecFunctions.dot_d(col("qemb"), col("emb")) /
      (sqrt(VecFunctions.dot_d(col("qemb"), col("qemb"))) *
        sqrt(VecFunctions.dot_d(col("emb"), col("emb"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos_u").desc, col("vec_id"))
    val ranked = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        round(cos * lit(1000000.0), 0).cast(LongType).as("cos_u"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 1 + NegK)
    val pos = ranked.filter(col("rk") === 1)
      .select(col("anchor_id"), col("vec_id").as("pos_id"),
        col("cos_u").as("pos_u"))
    ranked.filter(col("rk") > 1)
      .join(broadcast(pos), "anchor_id")
      .selectExpr("anchor_id", "pos_id", "vec_id AS neg_id",
        "CAST(rk - 1 AS INTEGER) AS neg_rank", "pos_u",
        "cos_u AS neg_u", "pos_u - cos_u AS margin_u")
      .orderBy(col("anchor_id"), col("neg_rank"))
  }

  private lazy val tripletOracle: String =
    s"""WITH e AS (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT vec_id AS anchor_id, emb AS qemb FROM e
       |  WHERE vec_id < $Anchors),
       |ranked AS (SELECT anchor_id, vec_id, cos_u, ROW_NUMBER() OVER (
       |    PARTITION BY anchor_id ORDER BY cos_u DESC, vec_id) AS rk
       |  FROM (SELECT anchor_id, vec_id,
       |      CAST(round(list_dot_product(qemb, emb) /
       |        (sqrt(list_dot_product(qemb, qemb)) *
       |        sqrt(list_dot_product(emb, emb))) * 1000000.0) AS BIGINT)
       |        AS cos_u
       |    FROM q CROSS JOIN e WHERE vec_id <> anchor_id)),
       |pos AS (SELECT anchor_id, vec_id AS pos_id, cos_u AS pos_u
       |  FROM ranked WHERE rk = 1)
       |SELECT r.anchor_id, p.pos_id, r.vec_id AS neg_id,
       |  CAST(r.rk - 1 AS INTEGER) AS neg_rank, p.pos_u,
       |  r.cos_u AS neg_u, p.pos_u - r.cos_u AS margin_u
       |FROM ranked r JOIN pos p USING (anchor_id)
       |WHERE r.rk > 1 AND r.rk <= ${1 + NegK}
       |ORDER BY r.anchor_id, neg_rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_bitext_margin" -> (q181_bitext_margin _),
    "q197_triplet_mining" -> (q197_triplet_mining _))

  override val oracle: Map[String, String] = Map(
    "q181_bitext_margin" -> bitextOracle,
    "q197_triplet_mining" -> tripletOracle)
}
