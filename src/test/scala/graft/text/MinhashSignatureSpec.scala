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
    if (g != w) fail(s"kernel=${g.size} reference=${w.size} " +
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

  test("the token memo: long tokens, byte prefixes, empty, multi-byte and null tokens") {
    val long = "é" * 16 + "x" // 33 bytes: one past the memo's key limit
    val words = Seq("", "a", "ab", "abc", "abcd", "é", "e\u0301", "中", "中文", "😀",
      "x" * TokenMemo.MaxKeyBytes, "x" * (TokenMemo.MaxKeyBytes + 1), long, long.init, "y" * 500)
    val rnd = new scala.util.Random(3)
    val rows = (0 until 400).map(i => (java.lang.Long.valueOf(i.toLong),
      Seq.fill(1 + rnd.nextInt(6))(if (rnd.nextInt(9) == 0) null else words(rnd.nextInt(words.size)))))
    assertSame(frame(rows))
  }

  test("the token memo over a pinned UnsafeRow frame: it clears mid-partition, and colliding tokens stay apart") {
    // The kernel reads the pinned rows through a shuffle, whose reader puts
    // every row in one reused buffer: the two tokens of a colliding pair,
    // in consecutive rows of one doc, sit at the same offset of it. Each
    // partition holds more distinct tokens than the memo.
    val pairs = TokenMemoSpec.collidingPairs(400000)(i => f"m$i%07d")
    assert(pairs.size >= 3, pairs)
    val rows = (0 until 10500).flatMap { i =>
      val d = java.lang.Long.valueOf(i.toLong)
      val (a, b) = pairs(i % pairs.size)
      if (i % 2 == 0) Seq((d, Seq(a)), (d, Seq(b)))
      else Seq((d, (0 until 12).map(j => s"u${i * 12 + j}") ++
        Seq(s"v${i % 50}", "ab", "abc", null, "é", "")))
    }
    assert(10500 / 2 / 3 * 12 > TokenMemo.Capacity) // distinct u-tokens per partition
    val pinned = frame(rows, parts = 3).localCheckpoint()
    try {
      assert(pinned.rdd.getNumPartitions == 3)
      assert(assertSame(pinned).size == 10500)
      assert(assertSame(pinned.repartition(3, col("doc_id"))).size == 10500)
    } finally graft.Pins.rddOf(pinned).unpersist(blocking = true)
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
