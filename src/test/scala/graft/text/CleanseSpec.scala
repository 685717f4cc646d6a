package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // Fixed at 4 cores whatever SPARK_GRAFT_CPUS says: the specs assert
  // 4-partition job shapes. The factory registers the SQL functions
  // (ln_shared, …) + optimizer rules, so every suite sees the production
  // session surface regardless of which suites run or in what order.
  lazy val spark: SparkSession = graft.GraftSession.local(4)
}

class CleanseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def one(expr: org.apache.spark.sql.Column, input: String): String = {
    import spark.implicits._
    Seq(input).toDF("s").select(expr.as("r")).collect()(0).getString(0)
  }

  test("html_unescape: named, decimal, hex entities (wrangler.py:318 semantics)") {
    assert(one(Cleanse.htmlUnescape(col("s")), "a &amp; b &lt;x&gt; &quot;q&quot;") == "a & b <x> \"q\"")
    assert(one(Cleanse.htmlUnescape(col("s")), "&#65;&#x42;&#x1F600;") == "AB😀")
    assert(one(Cleanse.htmlUnescape(col("s")), "no entities") == "no entities")
    assert(one(Cleanse.htmlUnescape(col("s")), "&bogus; &#xZZ; &") == "&bogus; &#xZZ; &")
    // single pass: unescaped '&' is not re-interpreted
    assert(one(Cleanse.htmlUnescape(col("s")), "&amp;lt;") == "&lt;")
  }

  test("html_unescape: full WHATWG named table — accents, symbols, Greek, math") {
    // the &eacute;-class entities the 16-entry table missed (round-4 verdict)
    assert(one(Cleanse.htmlUnescape(col("s")),
      "caf&eacute; &Eacute;cole Gau&szlig; &ntilde;o&ccedil;") ==
      "café École Gauß ñoç")
    assert(one(Cleanse.htmlUnescape(col("s")),
      "&trade; 90&deg; &plusmn;5 &frac12; &euro;10 &micro;s &sup2;") ==
      "™ 90° ±5 ½ €10 µs ²")
    assert(one(Cleanse.htmlUnescape(col("s")), "&alpha;&beta;&Omega;&pi;") ==
      "αβΩπ")
    assert(one(Cleanse.htmlUnescape(col("s")), "x &ne; y &le; z &rarr; &infin;") ==
      "x ≠ y ≤ z → ∞")
    // HTML5 codepoints where they diverge from deprecated HTML4 (lang/rang)
    assert(one(Cleanse.htmlUnescape(col("s")), "&lang;v&rang;") ==
      "⟨v⟩")
    // case-sensitive names: &Oslash; vs &oslash;
    assert(one(Cleanse.htmlUnescape(col("s")), "&Oslash;&oslash;") ==
      "Øø")
  }

  test("normalize_nfkc: ligatures, fullwidth digits, NBSP") {
    assert(one(Cleanse.normalizeNfkc(col("s")), "ﬁle") == "file")
    assert(one(Cleanse.normalizeNfkc(col("s")), "１２３") == "123")
    assert(one(Cleanse.normalizeNfkc(col("s")), "a b") == "a b")
  }

  test("nfkc expression survives codegen inside a filter+projection plan") {
    import spark.implicits._
    val out = Seq(("ﬁx１", 1L), ("plain", 2L)).toDF("s", "id")
      .select(Cleanse.normalizeNfkc(col("s")).as("n"), col("id"))
      .filter(length(col("n")) >= 3)
      .collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("fix1", "plain"))
  }

  test("scrub_pii drops email/url/uuid/md5/ipv4 tokens, keeps the rest") {
    val in = "contact user@example.com at https://x.io/a or 10.0.0.1 " +
      "id 123e4567-e89b-12d3-a456-426614174000 hash d41d8cd98f00b204e9800998ecf8427e ok"
    assert(one(array_join(Cleanse.scrubPii(Cleanse.tokens(col("s"))), " "), in)
      == "contact at or id hash ok")
  }

  test("keepAlnumLines drops punct/blank lines, keeps alnum lines (de-bugged wrangler.py:316-325)") {
    val in = "good line 1\n!!!\n\nsecond good 2\n---"
    assert(one(Cleanse.keepAlnumLines(col("s")), in) == "good line 1 second good 2")
  }

  test("cleanse is idempotent (SURVEY §5.2 property)") {
    val in = "Hello world 42\nnoise!\nmore text here"
    val once = one(Cleanse.cleanse(col("s")), in)
    assert(one(Cleanse.cleanse(col("s")), once) == once)
  }

  test("tokens drops empty tokens from repeated/trailing spaces") {
    assert(one(array_join(Cleanse.tokens(col("s")), "|"), "  a  b c  ") == "a|b|c")
  }
}
