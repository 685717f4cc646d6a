package graft.ml

import graft.text.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Guards `ngramJaccardPairs`. On seeded random corpora with near-dup
  * clusters, the kernel's pair set must equal an in-memory reference
  * computed over STRING 3-gram shingles with the same df ∈ [2, 20]
  * stop-shingle cap: a hash that collides in-doc, a mis-ridden size, or a
  * broken pair orientation diverges HERE even if the fixture corpus never
  * exercises it. The differential tests below hold the primitive RDD
  * kernel to the Catalyst formulation it replaced ([[sqlReference]]),
  * rows and schema, on the edge cases of that formulation. */
class NgramJaccardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The kernel's exact contract, string-shingled: distinct 3-gram
    * shingles per doc; only shingles with document frequency in [2, 20]
    * generate candidate pairs AND intersection counts; sizes are FULL
    * distinct-shingle counts; jaccard rounded half-up to 6. */
  private def brute(docs: Seq[(Long, Seq[String])]): Set[(Long, Long, Double)] = {
    val shingles = docs.map { case (id, t) =>
      id -> t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    val df = shingles.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val pairable: Set[String] = df.collect { case (s, n) if n >= 2 && n <= 20 => s }.toSet
    (for {
      (a, sa) <- shingles.toSeq; (b, sb) <- shingles.toSeq if a < b
      inter = (sa & sb & pairable).size if inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter)
      jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.5
    } yield (a, b, jr)).toSet
  }

  /** The previous formulation of the kernel, verbatim: a compiled UDF of
    * distinct hashed shingles, explode, collect_list + sort_array per
    * shingle, the interpreted pair-expansion lambda, a 4-column groupBy. */
  private val hashedShingles = udf { (t: Seq[String]) =>
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val n = t.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = t(i)
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < s.length) { h = (h ^ s.charAt(j)) * 0x100000001b3L; j += 1 }
      th(i) = h
      i += 1
    }
    val sh = new Array[Long](n - 2)
    i = 0
    while (i < n - 2) {
      sh(i) = mix(mix(mix(th(i)) ^ th(i + 1)) ^ th(i + 2))
      i += 1
    }
    java.util.Arrays.sort(sh)
    var k = 0
    i = 0
    while (i < sh.length) {
      if (i == 0 || sh(i) != sh(i - 1)) { sh(k) = sh(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(sh, k)
  }

  private def sqlReference(toks: DataFrame): DataFrame = {
    val sh = toks
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), hashedShingles(col("t")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n"),
        explode(col("shs")).as("shingle"))
    val buckets = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
    val pairs = buckets
      .filter(size(col("ds")).between(2, 20))
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y ->
          |    struct(x.doc_id AS doc_a, x.n AS na,
          |           y.doc_id AS doc_b, y.n AS nb))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.na"), col("p.doc_b"), col("p.nb"))
    pairs
      .groupBy(col("doc_a"), col("na"), col("doc_b"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Same rows (as a multiset) and the same schema as the reference. */
  private def assertSame(toks: DataFrame, what: String): Seq[String] = {
    val got = Similarity.ngramJaccardPairs(toks)
    val want = sqlReference(toks)
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val (g, w) = (rowsOf(got), rowsOf(want))
    assert(g == w, s"$what: kernel=${g.size} reference=${w.size} " +
      s"onlyKernel=${g.diff(w).take(3)} onlyReference=${w.diff(g).take(3)}")
    g
  }

  private val TokSchema = StructType.fromDDL("doc_id LONG, t ARRAY<STRING>")

  private def frame(rows: Seq[(java.lang.Long, Seq[String])], schema: StructType = TokSchema,
      parts: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (d, t) => Row(d, t) }, parts), schema)

  private def corpus(seed: Int, nDocs: Int, vocab: Int): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    (0L until nDocs).map { id =>
      val base = rnd.nextInt(5)
      val protoRnd = new scala.util.Random(100 + base)
      val proto = Seq.fill(10 + protoRnd.nextInt(10))("w" + protoRnd.nextInt(vocab))
      // near-dup mutation: drop/append a few tokens so pairs straddle 0.5;
      // a shared hot prefix pushes some shingles over the df cap
      val mutated = Seq("hot", "hot", "hot") ++
        proto.drop(rnd.nextInt(3)) ++
        Seq.fill(rnd.nextInt(3))("w" + rnd.nextInt(vocab))
      (id, mutated)
    }
  }

  test("hashed-shingle kernel equals the string-shingle reference with the df cap") {
    import spark.implicits._
    for (seed <- Seq(7, 23, 91)) {
      val docs = corpus(seed, nDocs = 60, vocab = 40)
      val got = Similarity.ngramJaccardPairs(
        docs.toDF("doc_id", "t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = brute(docs)
      assert(got == want, s"seed $seed: kernel=${got.size} brute=${want.size} " +
        s"onlyKernel=${(got -- want).take(3)} onlyBrute=${(want -- got).take(3)}")
    }
  }

  private def boxed(docs: Seq[(Long, Seq[String])]): Seq[(java.lang.Long, Seq[String])] =
    docs.map { case (d, t) => (java.lang.Long.valueOf(d), t) }

  test("duplicate doc_id rows pair as the reference does, (d, d) pairs included") {
    val base = corpus(7, nDocs = 30, vocab = 20)
    val dup = base ++ base.take(8) ++ base.slice(3, 6).map { case (d, t) => (d, t :+ "tail") }
    val rows = assertSame(frame(boxed(dup)), "duplicate ids")
    assert(rows.exists { r => val f = r.stripPrefix("[").split(","); f(0) == f(1) },
      "the corpus must produce a (d, d) pair")
  }

  test("a null doc_id pairs as null, sorted first") {
    val base = boxed(corpus(23, nDocs = 30, vocab = 20))
    val withNull = base ++ Seq[(java.lang.Long, Seq[String])](
      (null, base(0)._2), (null, base(1)._2), (null, base(0)._2 :+ "x"))
    val rows = assertSame(frame(withNull), "null ids")
    assert(rows.exists(_.startsWith("[null,")), "a null doc must pair")
  }

  test("INT ids keep the output schema; docs under 3 tokens, multi-byte tokens") {
    val base = corpus(91, nDocs = 40, vocab = 20).map { case (d, t) =>
      (d.toInt, if (d % 5 == 0) t.map(_ + "\u00e9\u4e2d\ud83d\ude00") else t)
    }
    val short = Seq((1000, Seq.empty[String]), (1001, Seq("hot")), (1002, Seq("hot", "hot")),
      (1003, null))
    val schema = StructType.fromDDL("doc_id INT, t ARRAY<STRING>")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      (base ++ short).map { case (d, t) => Row(d, t) }, 3), schema)
    assertSame(df, "int ids")
    assert(Similarity.ngramJaccardPairs(df).schema("doc_a").dataType == IntegerType)
  }

  test("a shingle shared by exactly 20 docs pairs them, by 21 does not") {
    // 4 tokens: 2 shingles per doc, both at df 20 (J = 1) or both at df 21
    val at20 = (0 until 20).map(i => (java.lang.Long.valueOf(i.toLong), Seq("a", "b", "c", "d")))
    val at21 = (0 until 21).map(i => (java.lang.Long.valueOf(100L + i), Seq("p", "q", "r", "s")))
    val rows = assertSame(frame(at20 ++ at21), "df cap")
    assert(rows.size == 20 * 19 / 2, s"only the df-20 docs pair: ${rows.size}")
  }

  test("an empty frame gives no pairs") {
    assert(assertSame(frame(Seq.empty), "empty").isEmpty)
  }

  test("1 and 7 input partitions give the same pairs, whatever the row order") {
    // shuffled rows: buckets must not rely on incidences arriving in doc order
    val docs = new scala.util.Random(5).shuffle(boxed(corpus(23, nDocs = 60, vocab = 40)))
    val one = assertSame(frame(docs, parts = 1), "1 partition")
    val seven = assertSame(frame(docs, parts = 7), "7 partitions")
    assert(one == seven && one.nonEmpty)
  }

  test("one job per collect, nothing left persisted") {
    val toks = frame(boxed(corpus(7, nDocs = 60, vocab = 40))).localCheckpoint()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var pairs: DataFrame = null
    assert(JobCount.of(spark) { pairs = Similarity.ngramJaccardPairs(toks) } == 0)
    assert(JobCount.of(spark) { pairs.collect() } == 1)
    assert(sc.getPersistentRDDs.keySet == before)
    graft.Pins.rddOf(toks).unpersist(blocking = true)
  }

  test("a non-integral doc_id fails naming the column") {
    val schema = StructType.fromDDL("doc_id STRING, t ARRAY<STRING>")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("a", Seq("x", "y", "z"))), 1), schema)
    val e = intercept[IllegalArgumentException](Similarity.ngramJaccardPairs(df))
    assert(e.getMessage.contains("doc_id"), e.getMessage)
  }
}
