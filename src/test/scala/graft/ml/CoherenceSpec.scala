package graft.ml

import graft.text.SparkTestSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** c_v against a brute-force oracle that literally enumerates every sliding
  * window of every row (the generalised form of MlSpec's M4 oracle): seeded
  * random corpora with edge-length documents and null rows, overlapping
  * topics, duplicated topic words, words absent from the corpus, and rows
  * that share a doc_id. */
class CoherenceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val Eps = 1e-12

  /** Per-topic c_v by enumeration; None where no word has a cosine. */
  private def oracle(corpus: Seq[Option[Seq[String]]],
      topics: Seq[Seq[String]]): Seq[Option[Double]] = {
    val n = Coherence.WindowSize
    val windows: Seq[Set[String]] = corpus.flatMap {
      case None => Seq(Set.empty[String])
      case Some(toks) =>
        val starts = if (toks.length <= n) Seq(0) else 0 to (toks.length - n)
        starts.map(s => toks.slice(s, s + n).toSet)
    }
    val w = windows.size.toDouble
    def p(ws: String*): Double = windows.count(win => ws.forall(win)) / w
    def npmi(a: String, b: String): Double = {
      val pij = p(a, b)
      math.log((pij + Eps) / (p(a) * p(b) + Eps)) / -math.log(pij + Eps)
    }
    topics.map { ws =>
      // every (wi, wj) of the list, duplicates included
      val grid = for (a <- ws; b <- ws) yield (a, b, npmi(a, b))
      val sv = grid.groupBy(_._2).map { case (b, r) => b -> r.map(_._3).sum }
      val sNorm = math.sqrt(sv.values.map(x => x * x).sum)
      val cos = ws.distinct.flatMap { a =>
        val r = grid.filter(_._1 == a)
        val vNorm = math.sqrt(r.map(x => x._3 * x._3).sum)
        if (vNorm == 0.0 || sNorm == 0.0) None
        else Some(r.map(x => x._3 * sv(x._2)).sum / (vNorm * sNorm))
      }
      if (cos.isEmpty) None else Some(cos.sum / cos.size)
    }
  }

  private def frame(rows: Seq[(Option[Long], Option[Seq[String]])]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "tokens")
  }

  private def numbered(docs: Seq[Option[Seq[String]]]): DataFrame =
    frame(docs.zipWithIndex.map { case (t, i) => (Some(i.toLong), t) })

  private def cv(df: DataFrame, topics: Seq[Seq[String]]): Seq[Option[Double]] = {
    val got = Coherence.cv(spark, df, topics).collect()
    assert(got.map(_.getInt(0)).toSeq == topics.indices, "one row per topic, in order")
    got.toSeq.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  private def assertClose(got: Seq[Option[Double]], want: Seq[Option[Double]]): Unit = {
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach {
      case ((Some(g), Some(e)), t) => assert(math.abs(g - e) < 1e-9, s"topic $t: c_v $g, expected $e")
      case ((g, e), t) => assert(g == e, s"topic $t: c_v $g, expected $e")
    }
  }

  test("M4 c_v matches brute-force window enumeration on seeded random corpora") {
    val vocab = (0 until 12).map(i => s"w$i")
    val lengths = Seq(0, 1, 109, 110, 111, 297, 300, 5, 40)
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // topic words are common; the filler keeps windows from saturating
      def token(): String =
        if (rnd.nextDouble() < 0.15) vocab(rnd.nextInt(vocab.size)) else s"f${rnd.nextInt(50)}"
      val docs: Seq[Option[Seq[String]]] =
        lengths.map(l => Some(Seq.fill(l)(token()))) ++
          Seq(None) ++ Seq.fill(4)(Some(Seq.fill(rnd.nextInt(320))(token())))
      val topics = Seq(
        Seq("w0", "w1", "w2", "w3"),
        Seq("w2", "w3", "w4", "w5", "w6"),       // overlaps topic 0
        Seq("w7", "w8", "w7", "w9"),             // duplicated word
        Seq(vocab(rnd.nextInt(12)), vocab(rnd.nextInt(12)), vocab(rnd.nextInt(12))))
      assertClose(cv(numbered(rnd.shuffle(docs)).repartition(3), topics),
        oracle(docs, topics))
    }
  }

  test("M4 c_v: each row is one document, whatever its doc_id") {
    val docs = Seq(Some(Seq("apple", "x")), Some(Seq("banana", "y")),
      Some(Seq("apple", "banana")), None, Some(Seq("cherry")))
    val topics = Seq(Seq("apple", "banana", "cherry"))
    val sameId = frame(docs.map(t => (Some(7L), t)))
    val nullId = frame(docs.map(t => (None, t)))
    val want = oracle(docs, topics)
    assertClose(cv(numbered(docs), topics), want)
    assertClose(cv(sameId, topics), want)
    assertClose(cv(nullId, topics), want)
  }

  test("M4 c_v: words absent from the corpus leave the mean; all-absent topic is null") {
    val docs = Seq(Some(Seq("apple", "banana")), Some(Seq("apple", "banana")),
      Some(Seq("apple", "cherry")), Some(Seq("dog")))
    val got = cv(numbered(docs), Seq(Seq("apple", "banana", "zebra"), Seq("zebra", "yak"),
      Seq("apple", "banana"), Seq.empty))
    // the absent word changes nothing: same value as the golden topic
    assert(math.abs(got(0).get - 0.9241484) < 1e-6, s"c_v was ${got(0)}")
    assert(math.abs(got(0).get - got(2).get) < 1e-12)
    assert(got(1).isEmpty && got(3).isEmpty)
  }
}
