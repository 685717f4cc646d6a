package graft.ml

import graft.Tables
import graft.rel.SplitMix64Kernel
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded random projection with a distortion audit (q160) — the
  * Johnson–Lindenstrauss dimension-budget report: project d=64
  * embeddings through a ±1 sign matrix (Achlioptas 2003, "Database-
  * friendly random projections": Rademacher entries satisfy the JL
  * lemma with the same variance as Gaussians and cost one add/sub per
  * element) and measure, for target dimensions k ∈ {4, 8, 16, 32}, how
  * well ‖Rx‖²/k preserves ‖x‖² over a fixed 50-pair panel. The report
  * carries two gated contracts per k: the mean ratio sits in [0.7, 1.4]
  * (E[ratio] = 1 under JL), and the ratio SPREAD shrinks monotonically
  * against the k=4 row — the concentration the lemma promises as k
  * grows (variance ∝ 1/k). This is the report a platform reads before
  * shipping short projections to an ANN tier — the projected twin of
  * the q158 truncation audit (truncation needs Matryoshka-trained
  * embeddings; JL projection works on ANY embedding).
  *
  * Sign derivation is splitmix64 parity over r·64+j — no RNG object,
  * no library pow/ln — so the DuckDB twin re-derives the ENTIRE matrix
  * from first principles in HUGEINT limbs (the q83 recipe) rather than
  * trusting embedded constants. All doubles flow through the same
  * op-order on both engines (zip_with diff, sequential-fold dot and
  * square-sum), and every per-pair ratio integerizes (round(1e6·x)
  * BEFORE summation — the micro-nat discipline), so the per-k rows are
  * exact BIGINT arithmetic: rows+schema+hash gateable.
  *
  * Scale shape: the projection itself is a map-side operator — k dot
  * products per row against a BROADCAST k×d sign matrix (here embedded
  * as literals; k·d = 2048 doubles), no shuffle, no driver state. The
  * audit panel is a 50-row broadcast join; at 100 TB the same audit
  * runs over any fixed query panel while the projection maps the
  * corpus. */
object Projection extends graft.QueryModule {

  private val D = 64
  private val K = 32
  private val Ks = Seq(4, 8, 16, 32)

  /** R[r][j] = +1 if splitmix64(r·64+j) is even else −1 — the exact
    * derivation the oracle replays in HUGEINT. */
  private lazy val signs: IndexedSeq[IndexedSeq[Double]] =
    (0 until K).map(r => (0 until D).map(j =>
      if ((SplitMix64Kernel.mix(r * 64L + j) & 1L) == 0L) 1.0 else -1.0))

  private def dot(a: Column, b: Column): Column = VecFunctions.dot_d(a, b)

  def q160_jl_projection(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("pair_id"), col("emb").as("xa"))
    val b = e.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      .select((col("vec_id") - 100).as("pair_id"), col("emb").as("xb"))
    // 50-row panel: everything below the join is panel-sized
    val pairs = a.join(b, "pair_id")
      .withColumn("diff", zip_with(col("xa"), col("xb"), (x, y) => x - y))
      .withColumn("d2o", dot(col("diff"), col("diff")))
      .withColumn("dts", array((0 until K).map(r =>
        dot(col("diff"), typedlit(signs(r)))): _*))
    val perK = pairs.select(col("pair_id"), col("d2o"),
        explode(array(Ks.map(k => struct(lit(k).as("k"),
          aggregate(transform(slice(col("dts"), 1, k), x => x * x),
            lit(0.0), (acc, x) => acc + x).as("d2p"))): _*)).as("kr"))
      .select(col("pair_id"), col("kr.k").as("k"),
        round(lit(1e6) * col("kr.d2p") / (col("kr.k") * col("d2o")))
          .cast("long").as("ratio_micro"))
    val agg = perK.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ratio_micro")).as("sum_ratio_micro"),
        min(col("ratio_micro")).as("min_ratio_micro"),
        max(col("ratio_micro")).as("max_ratio_micro"))
      .withColumn("spread_micro",
        col("max_ratio_micro") - col("min_ratio_micro"))
    val wk = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("mean_ok", col("sum_ratio_micro")
        .between(lit(700000L) * col("n_pairs"),
          lit(1400000L) * col("n_pairs")))
      .withColumn("tighter_ok",
        col("spread_micro") <= first(col("spread_micro")).over(wk))
      .select(col("k"), col("n_pairs"), col("sum_ratio_micro"),
        col("min_ratio_micro"), col("max_ratio_micro"), col("spread_micro"),
        col("mean_ok"), col("tighter_ok"))
      .orderBy(col("k"))
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

  /** Re-derives the sign matrix from splitmix64 parity in HUGEINT (2^64
    * is even, so unsigned `m % 2` equals the signed bit test), rebuilds
    * the per-row sign lists ordered by j, and replays the identical
    * fold arithmetic. */
  private lazy val jlOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH idx AS (SELECT unnest(range(0, 2048)) AS i),
       |zs AS (SELECT i, CAST(i AS HUGEINT) AS z FROM idx),
       |s1 AS (SELECT i, $z1 AS z1 FROM zs),
       |s2 AS (SELECT i, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT i, $m2 AS z2 FROM s2),
       |s4 AS (SELECT i, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT i, $m3 AS z3 FROM s4),
       |s6 AS (SELECT i, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sgn AS (SELECT i // 64 AS r, i % 64 AS j,
       |  CASE WHEN m % 2 = 0 THEN 1.0 ELSE -1.0 END AS sg FROM s6),
       |srow AS (SELECT r, list(CAST(sg AS DOUBLE) ORDER BY j) AS srow
       |  FROM sgn GROUP BY r),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |pa AS (SELECT vec_id AS pair_id, emb AS xa FROM e WHERE vec_id < 50),
       |pb AS (SELECT vec_id - 100 AS pair_id, emb AS xb FROM e
       |  WHERE vec_id >= 100 AND vec_id < 150),
       |pr AS (SELECT pair_id,
       |    list_transform(range(1, 65), i -> xa[i] - xb[i]) AS diff
       |  FROM pa JOIN pb USING (pair_id)),
       |pd AS (SELECT pair_id, diff, list_dot_product(diff, diff) AS d2o
       |  FROM pr),
       |dots AS (SELECT pair_id, d2o, r, list_dot_product(diff, srow) AS dt
       |  FROM pd, srow),
       |dl AS (SELECT pair_id, any_value(d2o) AS d2o,
       |    list(dt ORDER BY r) AS dts FROM dots GROUP BY pair_id),
       |ks(k) AS (VALUES (4), (8), (16), (32)),
       |pk AS (SELECT k, pair_id,
       |    CAST(round(1000000.0 *
       |      list_reduce(list_transform(dts[1:k], x -> x * x),
       |        (a, b) -> a + b)
       |      / (k * d2o)) AS BIGINT) AS ratio_micro
       |  FROM dl, ks),
       |agg AS (SELECT k,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(ratio_micro) AS BIGINT) AS sum_ratio_micro,
       |    CAST(MIN(ratio_micro) AS BIGINT) AS min_ratio_micro,
       |    CAST(MAX(ratio_micro) AS BIGINT) AS max_ratio_micro,
       |    CAST(MAX(ratio_micro) - MIN(ratio_micro) AS BIGINT)
       |      AS spread_micro
       |  FROM pk GROUP BY k)
       |SELECT CAST(k AS INTEGER) AS k, n_pairs, sum_ratio_micro,
       |  min_ratio_micro, max_ratio_micro, spread_micro,
       |  sum_ratio_micro BETWEEN 700000 * n_pairs AND 1400000 * n_pairs
       |    AS mean_ok,
       |  spread_micro <= FIRST_VALUE(spread_micro)
       |    OVER (ORDER BY k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS tighter_ok
       |FROM agg ORDER BY k""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q160_jl_projection" -> (q160_jl_projection _))

  override val oracle: Map[String, String] = Map(
    "q160_jl_projection" -> jlOracle)
}
