package graft.text

import graft.ml.JobCount
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Holds `TextOps.minhashSignaturesOf` (one compiled `minhash_signature`
  * per row, then a per-doc min) to the formulation it replaced
  * ([[sqlReference]]: explode, md5 hex per (seed, token), min per doc),
  * rows and schema, and `Sessions.streamBandRows`' per-row signature to
  * the same minima. */
class MinhashSignatureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def sqlReference(toks: DataFrame): DataFrame = {
    val hashes = TextOps.MinhashSeeds.zipWithIndex.map { case (seed, i) =>
      min(md5(concat(lit(seed), col("term")).cast("binary"))).as(s"h${i + 1}")
    }
    toks.select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy(col("doc_id"))
      .agg(hashes.head, hashes.tail: _*)
  }

  private val Schema = StructType.fromDDL("doc_id LONG, t ARRAY<STRING>")

  private def frame(rows: Seq[(java.lang.Long, Seq[String])], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (d, t) => Row(d, t) }, parts), Schema)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(toks: DataFrame): Seq[String] = {
    val got = TextOps.minhashSignaturesOf(toks)
    val want = sqlReference(toks)
    assert(got.schema == want.schema, s"schema ${got.schema} vs ${want.schema}")
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(g == w, s"kernel=${g.size} reference=${w.size} " +
      s"onlyKernel=${g.diff(w).take(3)} onlyReference=${w.diff(g).take(3)}")
    g
  }

  private def corpus(seed: Int, n: Int): Seq[(java.lang.Long, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = Seq("a", "b", "z", "é", "中", "😀", "")
    (0 until n).map { i =>
      val toks = Seq.fill(rnd.nextInt(12))(
        Seq.fill(rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size))).mkString)
      (java.lang.Long.valueOf(i.toLong), toks)
    }
  }

  test("signatures equal the md5-hex reference: multi-byte and empty tokens") {
    val rows = assertSame(frame(corpus(5, 300)))
    assert(rows.size > 250)
  }

  test("null and empty arrays give no row; null tokens are skipped") {
    val rows = assertSame(frame(Seq[(java.lang.Long, Seq[String])](
      (1L, null), (2L, Seq.empty), (3L, Seq(null, "x", null)), (4L, Seq(null)),
      (5L, Seq("x")), (null, Seq("y", "é")))))
    assert(rows.map(_.takeWhile(_ != ',')) == Seq("[3", "[4", "[5", "[null"))
    assert(rows.exists(_.startsWith("[4,null,null,null,null")))
  }

  test("rows sharing a doc_id merge into one signature") {
    val base = corpus(9, 60)
    val dup = base ++ base.map { case (d, t) => (java.lang.Long.valueOf(d % 7), t.reverse :+ "w") }
    assertSame(frame(dup))
  }

  test("streamBandRows carries the same per-doc minima as the band table") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "été 中文 x"), (3L, "  "))
      .toDF("doc_id", "text")
    val got = graft.streaming.Sessions.streamBandRows(docs, "doc_id", "text")
    val sig = TextOps.minhashSignaturesOf(
      docs.select(col("doc_id"), Cleanse.tokens(col("text")).as("t")))
    val want = sig.select(col("doc_id"), explode(array((1 to 4).map(i =>
      struct(lit(i).as("band"), col(s"h$i").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
    assert(rowsOf(got) == rowsOf(want))
  }

  test("the signature is computed once per row") {
    val plan = TextOps.minhashSignaturesOf(frame(corpus(5, 10)))
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("minhash_signature\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("one job per collect of the per-row signatures, nothing left persisted") {
    val toks = frame(corpus(5, 100)).localCheckpoint()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val perRow = toks.select(TextFunctions.minhash_signature(col("t")))
    assert(JobCount.of(spark) { perRow.collect() } == 1)
    assert(sc.getPersistentRDDs.keySet == before)
    graft.Pins.rddOf(toks).unpersist(blocking = true)
  }
}
