package graft

import graft.text.{Cleanse, Phrases, SparkTestSession, TokenMemo, TokenMemoSpec, Tokenize}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties for the pure (non-Spark) kernels. */
object PureProperties extends Properties("graft.pure") {

  private val bytesGen = Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte))

  property("DecodeStub.features: deterministic + unit-norm") =
    Prop.forAll(bytesGen) { bs =>
      val a = multimodal.Media.DecodeStub.features(bs)
      val b = multimodal.Media.DecodeStub.features(bs.clone())
      val norm = a.map(x => x.toDouble * x).sum
      a.sameElements(b) && math.abs(norm - 1.0) < 1e-4
    }

  property("DecodeStub.frames: n chunks, bytes conserved, in order") =
    Prop.forAll(Gen.nonEmptyContainerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte)),
      Gen.choose(1, 8)) { (bs, n) =>
      val fs = multimodal.Media.DecodeStub.frames(bs, n)
      fs.size == n && fs.forall(_.nonEmpty) &&
        (bs.length < n || fs.flatten.sameElements(bs)) // exact cover when enough bytes
    }

  private val vecGen: Gen[Array[Double]] =
    Gen.nonEmptyContainerOf[Array, Double](Gen.chooseNum(-1e3, 1e3))

  property("QuantUtil: per-element quantization error ≤ scale/2") =
    Prop.forAll(vecGen) { v =>
      val wrapped = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      val sc = ml.QuantUtil.scale(wrapped)
      val q = ml.QuantUtil.quantize(wrapped, sc)
      v.indices.forall { i =>
        math.abs(q(i) * sc - v(i)) <= sc / 2 + 1e-12 * math.abs(v(i))
      }
    }

  property("QuantUtil: dot of quantized vectors within the analytic bound") =
    Prop.forAll(vecGen, vecGen) { (a0, b0) =>
      val n = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(n), b0.take(n))
      val (wa, wb) = (org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      val (sa, sb) = (ml.QuantUtil.scale(wa), ml.QuantUtil.scale(wb))
      val approx = ml.QuantUtil.dot(
        ml.QuantUtil.quantize(wa, sa), ml.QuantUtil.quantize(wb, sb)) * sa * sb
      val exact = a.zip(b).map { case (x, y) => x * y }.sum
      // |Δ| ≤ Σ (|a_i|·sb/2 + |b_i|·sa/2 + sa·sb/4), plus float slack
      val bound = a.zip(b).map { case (x, y) =>
        math.abs(x) * sb / 2 + math.abs(y) * sa / 2 + sa * sb / 4 }.sum
      math.abs(approx - exact) <= bound * (1 + 1e-9) + 1e-9
    }

  property("Sessions.sessionsOf: gap-consistent partition of the input") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, 10L * streaming.Sessions.GapMs))) { ts =>
      val sorted = ts.sorted
      val sessions = streaming.Sessions.sessionsOf(sorted)
      val within = sessions.forall(s =>
        s.zip(s.drop(1)).forall { case (a, b) => b - a <= streaming.Sessions.GapMs })
      val separated = sessions.zip(sessions.drop(1)).forall {
        case (a, b) => b.head - a.last > streaming.Sessions.GapMs
      }
      sessions.flatten == sorted && within && separated
    }

  // -------- JaroWinkler kernel: closed forms on random DISTINCT-char
  // strings (adjacent swap -> m=n, t=1; last-char drop -> m=n-1, t=0 —
  // both give exact expected doubles, mirroring the kernel's op order)
  private def jw(a: String, b: String): Double =
    text.JaroWinklerKernel.jw(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private val distinctStr: Gen[String] =
    Gen.choose(4, 20).map(n =>
      new String(scala.util.Random.javaRandomToRandom(
        new java.util.Random(n * 7919L)).shuffle(
        ('a' to 'z').toList).take(n).toArray))

  property("JaroWinkler: adjacent swap closed form") =
    Prop.forAll(distinctStr, Gen.choose(0, 18)) { (a, i0) =>
      val n = a.length
      val i = i0 % (n - 1)
      val b = a.updated(i, a(i + 1)).updated(i + 1, a(i))
      val jaro = ((n.toDouble / n) + (n.toDouble / n) +
        ((n - 1).toDouble / n)) / 3
      val l = math.min(i, 4)
      val expect = if (jaro > 0.7) jaro + l * 0.1 * (1 - jaro) else jaro
      jw(a, b) == expect
    }

  property("JaroWinkler: last-char drop closed form") =
    Prop.forAll(distinctStr) { a =>
      val n = a.length
      val b = a.dropRight(1)
      val m = (n - 1).toDouble
      val jaro = (m / n + m / (n - 1) + m / m) / 3
      val l = math.min(n - 1, 4)
      val expect = if (jaro > 0.7) jaro + l * 0.1 * (1 - jaro) else jaro
      jw(a, b) == expect && jw(a, b) == jw(b, a)
    }

  private val asciiStr: Gen[String] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  property("JaroWinkler: identity, bounds, symmetry on random ascii") =
    Prop.forAll(asciiStr, asciiStr) { (a, b) =>
      val v = jw(a, b)
      v >= 0.0 && v <= 1.0 && v == jw(b, a) && jw(a, a) == 1.0
    }

  // arbitrary well-formed Unicode strings, BMP + supplementary mixed
  private val uniStr: Gen[String] = Gen.choose(0, 20).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(
      Gen.choose(0x20, 0x7e),           // ASCII
      Gen.choose(0xa0, 0xd7ff),         // BMP non-surrogate
      Gen.choose(0x10000, 0x10fff)))    // supplementary plane
      .map(_.map(Character.toChars(_).mkString).mkString))

  property("cuLength equals String.length (UTF-16 code units) on Unicode") =
    Prop.forAll(uniStr) { s =>
      text.JaroWinklerKernel.cuLength(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == s.length
    }

  // Idempotence is NOT a Porter2 invariant on arbitrary letter strings:
  // step 5 e-deletion can expose a step-1a 's' that only a RE-stem would
  // strip (stem("buybrse") = "buybrs", stem("buybrs") = "buybr" — the
  // published algorithm runs the steps once, so both are correct outputs).
  // What the algorithm does guarantee on any input: stems never lengthen,
  // and re-stemming is monotonically non-increasing. Idempotence over the
  // REAL corpus vocabulary (where it does hold) is gated in Porter2Spec.
  property("Porter2: stems never lengthen; re-stem is non-increasing") =
    Prop.forAll(asciiStr.map(_.toLowerCase.filter(_.isLetter))) { w =>
      val s1 = text.Porter2Kernel.stem(w)
      val s2 = text.Porter2Kernel.stem(s1)
      s1.length <= w.length && s2.length <= s1.length &&
        text.Porter2Kernel.stem(w) == s1 // deterministic
    }

}

/** Batched property checks for Column transforms: all generated cases run
  * as ONE DataFrame job per property (SURVEY §5.2 item 3). */
class ColumnPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val seed = new scala.util.Random(42)
  private def randomTexts(n: Int, extra: String = ""): Seq[String] = {
    val alphabet = "abcXYZ019 .,&#;<>@/-\n\r\tﬁ１" + extra
    Seq.fill(n)(Seq.fill(seed.nextInt(80))(
      alphabet(seed.nextInt(alphabet.length))).mkString)
  }

  test("cleanse is idempotent over random noisy strings") {
    import spark.implicits._
    val df = randomTexts(300).toDF("s")
      .select(Cleanse.cleanse(col("s")).as("once"))
      .select(col("once"), Cleanse.cleanse(col("once")).as("twice"))
    assert(df.filter(col("once") =!= col("twice")).count() == 0)
  }

  test("scrubPii never increases token count; output is a subset") {
    import spark.implicits._
    val df = randomTexts(300).toDF("s")
      .select(Cleanse.tokens(col("s")).as("toks"))
      .select(size(col("toks")).as("n"),
        size(Cleanse.scrubPii(col("toks"))).as("m"),
        size(array_except(Cleanse.scrubPii(col("toks")), col("toks"))).as("extra"))
    assert(df.filter(col("m") > col("n") || col("extra") =!= 0).count() == 0)
  }

  test("lemma never lengthens a token and is a no-op on non-matching tokens") {
    import spark.implicits._
    val toks = Seq("queries", "classes", "loading", "loaded", "slowly",
      "errors", "ss", "a", "run", "amazingly", "supposedly", "glass")
    val df = toks.toDF("t")
      .select(col("t"), Tokenize.lemma(col("t")).as("l"))
    val out = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("queries") == "query" && out("classes") == "class")
    assert(out("loading") == "load" && out("loaded") == "load")
    assert(out("errors") == "error" && out("glass") == "glass")
    assert(out.forall { case (t, l) => l.length <= t.length })
  }

  test("window-parity greedy merge ≡ sequential reference on random streams") {
    import spark.implicits._
    // independent reference: the literal word2vec loop — walk left to
    // right, merge on phrase hit, skip the consumed token
    def seqMerge(t: Seq[String], ph: Set[(String, String)]): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && ph((t(i), t(i + 1)))) {
          out += s"${t(i)}_${t(i + 1)}"; i += 2
        } else { out += t(i); i += 1 }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d")
    val phrases = Seq("a" -> "a", "a" -> "b", "b" -> "c", "d" -> "a")
    val docs = (1L to 120L).map(id =>
      (id, Seq.fill(1 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.length)))))
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.map { case (id, t) =>
      val m = seqMerge(t, phrases.toSet)
      id -> (t.length.toLong, m.length.toLong, md5Of(m.mkString(" ")))
    }.toMap
    val got = Phrases.greedyMerge(docs.toDF("doc_id", "t"),
        phrases.toDF("w1", "w2")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_before").toLong, r.getAs[Long]("n_after"),
          r.getAs[String]("digest")))).toMap
    assert(got == expected)
  }

  test("native LemmaTokens kernel ≡ builtin-HOF pipeline on random text") {
    import spark.implicits._
    // U+212A KELVIN SIGN and U+0130 lower-case to ASCII letters
    val texts = randomTexts(400, "\u212A\u0130") ++ Seq(
      "", "   ", "a b c", "Loading QUERIES slowly!!", "the and of",
      "mixed123tokens999loaded", "ünïcödé Straße amazingly",
      // the token memo: byte prefixes, case folds, its key limit and past it
      "ab abc abcd abcde AB Abc", "load loads LOADING Loaded loadings",
      "x" * TokenMemo.MaxKeyBytes, "X" * (TokenMemo.MaxKeyBytes + 1),
      "Amazingly" * 4 + " " + "s" * 200 + " " + "ab" * 16 + "s", "é中😀ab cd",
      "\u212Aelvin x\u0130y", null)
    def mismatches(df: DataFrame): Long = df.select(
      Tokenize.lemmaTokens(col("s")).as("fast"),
      Tokenize.lemmaTokensHof(col("s")).as("ref"))
      .filter(not(col("fast") <=> col("ref"))).count()
    assert(mismatches(texts.toDF("s")) == 0)

    // a pinned UnsafeRow frame of 3 partitions, each with more distinct
    // tokens than the memo holds, and tokens whose memo hashes collide
    def letters(n: Int): String =
      (0 until 5).map(k => ('a' + n / math.pow(26, k).toInt % 26).toChar).mkString
    val pairs = TokenMemoSpec.collidingPairs(400000)(i => s"q${letters(i)}x")
    assert(pairs.size >= 3, pairs)
    val rows = (0 until 10200).map { i =>
      val (a, b) = pairs(i % pairs.size)
      (Seq(a, b.toUpperCase, s"w${letters(i * 7 % 3400 + 5000 * (i % 3))}ing") ++
        (0 until 6).map(j => s"z${letters(i * 6 + j)}") ++ Seq("the", "loads", "é"))
        .mkString(" ")
    }
    assert(10200 / 3 * 6 > TokenMemo.Capacity) // distinct z-tokens per partition
    val pinned = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_)), 3),
      StructType.fromDDL("s STRING")).localCheckpoint()
    try assert(mismatches(pinned) == 0)
    finally Pins.rddOf(pinned).unpersist(blocking = true)
  }

  test("LemmaTokens lower-cases a non-ASCII capital whose lower case is ASCII") {
    import spark.implicits._
    val lemmas = Seq("\u212Aelvin loads").toDF("s") // U+212A KELVIN SIGN, not ASCII K
      .select(Tokenize.lemmaTokens(col("s"))).head().getSeq[String](0)
    assert(lemmas == Seq("kelvin", "load"))
  }
}
