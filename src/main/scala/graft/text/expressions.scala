package graft.text

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers referenced from generated code — must be stable, public,
  * and deterministic. */
object TextUtil {
  def nfkc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFKC))

  /** html.unescape-equivalent for the entity classes the reference's data
    * carries (wrangler.py:318): the 5 predefined XML entities, the common
    * named HTML entities, and decimal/hex numeric character references.
    * Single left-to-right pass — no double-unescaping of produced '&'. */
  def htmlUnescape(u: UTF8String): UTF8String = {
    val s = u.toString
    if (s.indexOf('&') < 0) return u
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          val repl: String =
            if (body.startsWith("#x") || body.startsWith("#X")) {
              try new String(Character.toChars(Integer.parseInt(body.substring(2), 16)))
              catch { case _: Exception => null }
            } else if (body.startsWith("#")) {
              try new String(Character.toChars(Integer.parseInt(body.substring(1))))
              catch { case _: Exception => null }
            } else named.getOrElse(body, null)
          if (repl != null) { out.append(repl); i = semi + 1 }
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    UTF8String.fromString(out.toString)
  }

  /** Named character references: the full HTML4 set (252 entities — the
    * Latin-1 block, general punctuation, Greek, letterlike symbols, arrows,
    * math operators, misc technical/shapes) plus XHTML `apos`. These are
    * the entity classes `html.unescape` resolves that occur in real ticket
    * text; the HTML5 long tail (~2000 multi-codepoint aliases like
    * `CounterClockwiseContourIntegral`) is intentionally out — names longer
    * than 9 chars never match the `semi - i <= 10` scan bound above.
    * Codepoints per the WHATWG named-references table (public;
    * `lang`/`rang` use the HTML5 mathematical-bracket codepoints that
    * Python html.unescape emits, not the deprecated HTML4 ones). */
  private val named: Map[String, String] = Map(
    // XML predefined + XHTML apos
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    // Latin-1 supplement (U+00A0-U+00FF)
    "nbsp" -> "\u00a0", "iexcl" -> "\u00a1", "cent" -> "\u00a2",
    "pound" -> "\u00a3", "curren" -> "\u00a4", "yen" -> "\u00a5",
    "brvbar" -> "\u00a6", "sect" -> "\u00a7", "uml" -> "\u00a8",
    "copy" -> "\u00a9", "ordf" -> "\u00aa", "laquo" -> "\u00ab",
    "not" -> "\u00ac", "shy" -> "\u00ad", "reg" -> "\u00ae",
    "macr" -> "\u00af", "deg" -> "\u00b0", "plusmn" -> "\u00b1",
    "sup2" -> "\u00b2", "sup3" -> "\u00b3", "acute" -> "\u00b4",
    "micro" -> "\u00b5", "para" -> "\u00b6", "middot" -> "\u00b7",
    "cedil" -> "\u00b8", "sup1" -> "\u00b9", "ordm" -> "\u00ba",
    "raquo" -> "\u00bb", "frac14" -> "\u00bc", "frac12" -> "\u00bd",
    "frac34" -> "\u00be", "iquest" -> "\u00bf",
    "Agrave" -> "\u00c0", "Aacute" -> "\u00c1", "Acirc" -> "\u00c2",
    "Atilde" -> "\u00c3", "Auml" -> "\u00c4", "Aring" -> "\u00c5",
    "AElig" -> "\u00c6", "Ccedil" -> "\u00c7", "Egrave" -> "\u00c8",
    "Eacute" -> "\u00c9", "Ecirc" -> "\u00ca", "Euml" -> "\u00cb",
    "Igrave" -> "\u00cc", "Iacute" -> "\u00cd", "Icirc" -> "\u00ce",
    "Iuml" -> "\u00cf", "ETH" -> "\u00d0", "Ntilde" -> "\u00d1",
    "Ograve" -> "\u00d2", "Oacute" -> "\u00d3", "Ocirc" -> "\u00d4",
    "Otilde" -> "\u00d5", "Ouml" -> "\u00d6", "times" -> "\u00d7",
    "Oslash" -> "\u00d8", "Ugrave" -> "\u00d9", "Uacute" -> "\u00da",
    "Ucirc" -> "\u00db", "Uuml" -> "\u00dc", "Yacute" -> "\u00dd",
    "THORN" -> "\u00de", "szlig" -> "\u00df",
    "agrave" -> "\u00e0", "aacute" -> "\u00e1", "acirc" -> "\u00e2",
    "atilde" -> "\u00e3", "auml" -> "\u00e4", "aring" -> "\u00e5",
    "aelig" -> "\u00e6", "ccedil" -> "\u00e7", "egrave" -> "\u00e8",
    "eacute" -> "\u00e9", "ecirc" -> "\u00ea", "euml" -> "\u00eb",
    "igrave" -> "\u00ec", "iacute" -> "\u00ed", "icirc" -> "\u00ee",
    "iuml" -> "\u00ef", "eth" -> "\u00f0", "ntilde" -> "\u00f1",
    "ograve" -> "\u00f2", "oacute" -> "\u00f3", "ocirc" -> "\u00f4",
    "otilde" -> "\u00f5", "ouml" -> "\u00f6", "divide" -> "\u00f7",
    "oslash" -> "\u00f8", "ugrave" -> "\u00f9", "uacute" -> "\u00fa",
    "ucirc" -> "\u00fb", "uuml" -> "\u00fc", "yacute" -> "\u00fd",
    "thorn" -> "\u00fe", "yuml" -> "\u00ff",
    // Latin Extended-A/B + spacing modifiers
    "OElig" -> "\u0152", "oelig" -> "\u0153", "Scaron" -> "\u0160",
    "scaron" -> "\u0161", "Yuml" -> "\u0178", "fnof" -> "\u0192",
    "circ" -> "\u02c6", "tilde" -> "\u02dc",
    // Greek
    "Alpha" -> "\u0391", "Beta" -> "\u0392", "Gamma" -> "\u0393",
    "Delta" -> "\u0394", "Epsilon" -> "\u0395", "Zeta" -> "\u0396",
    "Eta" -> "\u0397", "Theta" -> "\u0398", "Iota" -> "\u0399",
    "Kappa" -> "\u039a", "Lambda" -> "\u039b", "Mu" -> "\u039c",
    "Nu" -> "\u039d", "Xi" -> "\u039e", "Omicron" -> "\u039f",
    "Pi" -> "\u03a0", "Rho" -> "\u03a1", "Sigma" -> "\u03a3",
    "Tau" -> "\u03a4", "Upsilon" -> "\u03a5", "Phi" -> "\u03a6",
    "Chi" -> "\u03a7", "Psi" -> "\u03a8", "Omega" -> "\u03a9",
    "alpha" -> "\u03b1", "beta" -> "\u03b2", "gamma" -> "\u03b3",
    "delta" -> "\u03b4", "epsilon" -> "\u03b5", "zeta" -> "\u03b6",
    "eta" -> "\u03b7", "theta" -> "\u03b8", "iota" -> "\u03b9",
    "kappa" -> "\u03ba", "lambda" -> "\u03bb", "mu" -> "\u03bc",
    "nu" -> "\u03bd", "xi" -> "\u03be", "omicron" -> "\u03bf",
    "pi" -> "\u03c0", "rho" -> "\u03c1", "sigmaf" -> "\u03c2",
    "sigma" -> "\u03c3", "tau" -> "\u03c4", "upsilon" -> "\u03c5",
    "phi" -> "\u03c6", "chi" -> "\u03c7", "psi" -> "\u03c8",
    "omega" -> "\u03c9", "thetasym" -> "\u03d1", "upsih" -> "\u03d2",
    "piv" -> "\u03d6",
    // general punctuation
    "ensp" -> "\u2002", "emsp" -> "\u2003", "thinsp" -> "\u2009",
    "zwnj" -> "\u200c", "zwj" -> "\u200d", "lrm" -> "\u200e",
    "rlm" -> "\u200f", "ndash" -> "\u2013", "mdash" -> "\u2014",
    "lsquo" -> "\u2018", "rsquo" -> "\u2019", "sbquo" -> "\u201a",
    "ldquo" -> "\u201c", "rdquo" -> "\u201d", "bdquo" -> "\u201e",
    "dagger" -> "\u2020", "Dagger" -> "\u2021", "bull" -> "\u2022",
    "hellip" -> "\u2026", "permil" -> "\u2030", "prime" -> "\u2032",
    "Prime" -> "\u2033", "lsaquo" -> "\u2039", "rsaquo" -> "\u203a",
    "oline" -> "\u203e", "frasl" -> "\u2044", "euro" -> "\u20ac",
    // letterlike symbols
    "weierp" -> "\u2118", "image" -> "\u2111", "real" -> "\u211c",
    "trade" -> "\u2122", "alefsym" -> "\u2135",
    // arrows
    "larr" -> "\u2190", "uarr" -> "\u2191", "rarr" -> "\u2192",
    "darr" -> "\u2193", "harr" -> "\u2194", "crarr" -> "\u21b5",
    "lArr" -> "\u21d0", "uArr" -> "\u21d1", "rArr" -> "\u21d2",
    "dArr" -> "\u21d3", "hArr" -> "\u21d4",
    // mathematical operators
    "forall" -> "\u2200", "part" -> "\u2202", "exist" -> "\u2203",
    "empty" -> "\u2205", "nabla" -> "\u2207", "isin" -> "\u2208",
    "notin" -> "\u2209", "ni" -> "\u220b", "prod" -> "\u220f",
    "sum" -> "\u2211", "minus" -> "\u2212", "lowast" -> "\u2217",
    "radic" -> "\u221a", "prop" -> "\u221d", "infin" -> "\u221e",
    "ang" -> "\u2220", "and" -> "\u2227", "or" -> "\u2228",
    "cap" -> "\u2229", "cup" -> "\u222a", "int" -> "\u222b",
    "there4" -> "\u2234", "sim" -> "\u223c", "cong" -> "\u2245",
    "asymp" -> "\u2248", "ne" -> "\u2260", "equiv" -> "\u2261",
    "le" -> "\u2264", "ge" -> "\u2265", "sub" -> "\u2282",
    "sup" -> "\u2283", "nsub" -> "\u2284", "sube" -> "\u2286",
    "supe" -> "\u2287", "oplus" -> "\u2295", "otimes" -> "\u2297",
    "perp" -> "\u22a5", "sdot" -> "\u22c5",
    // misc technical / shapes / suits
    "lceil" -> "\u2308", "rceil" -> "\u2309", "lfloor" -> "\u230a",
    "rfloor" -> "\u230b", "lang" -> "\u27e8", "rang" -> "\u27e9",
    "loz" -> "\u25ca", "spades" -> "\u2660", "clubs" -> "\u2663",
    "hearts" -> "\u2665", "diams" -> "\u2666")
}

/** T2 `normalize_nfkc` (wrangler.py:318 `unicodedata.normalize("NFKC", s)`)
  * as a native Catalyst expression: null-safe, codegen'd via a static call —
  * stays inside WholeStageCodegen unlike a Scala UDF. */
case class NormalizeNFKC(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_nfkc"
  override protected def nullSafeEval(input: Any): Any =
    TextUtil.nfkc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextUtil.nfkc($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeNFKC =
    copy(child = newChild)
}

/** T1 `html_unescape` (wrangler.py:318 `html.unescape` per line) as a native
  * Catalyst expression (same rationale as NormalizeNFKC). */
case class HtmlUnescape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_unescape"
  override protected def nullSafeEval(input: Any): Any =
    TextUtil.htmlUnescape(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextUtil.htmlUnescape($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlUnescape =
    copy(child = newChild)
}

/** Jaro-Winkler string similarity — the fuzzy-matching kernel of record
  * linkage / entity resolution (Winkler 1990, "String Comparator Metrics
  * and Enhanced Decision Rules in the Fellegi-Sunter Model of Record
  * Linkage"; the SAME parameterization DuckDB 1.0 ships, verified
  * bit-exact over 3000+ pairs in the q137 gate's value domain):
  * standard Jaro over the match window floor(max(|a|,|b|)/2)−1 with
  * half-transposition counting, then the Winkler prefix boost
  * `jaro + l·0.1·(1−jaro)` (common prefix l capped at 4) applied ONLY
  * when jaro > 0.7 (the published boost threshold). The floating-point
  * op ORDER mirrors the reference form `(m/l1 + m/l2 + (m−t)/m)/3`
  * exactly, so IEEE doubles — and therefore the micro-quantized gate
  * values — agree cross-engine bit-for-bit. Walks UTF-16 code units
  * (identical to code points on the BMP text this corpus carries). */
object JaroWinklerKernel {

  /** UTF-16 code-unit length of a UTF8String — the SAME length notion
    * `jw` scores with (String.length / charAt) — computed from the UTF-8
    * bytes without materializing a java.lang.String: one unit per 1/2/3
    * byte sequence, two per 4-byte (supplementary-plane) sequence. The
    * [[graft.plans.JaroPrefilter]] length guard must measure in these
    * units: Spark's `Length` counts CODE POINTS, which diverge from code
    * units by up to 2× on supplementary-plane text, and a guard computed
    * in the wrong units can reject a pair whose true jw ≥ t (round-14
    * advice item). */
  def cuLength(u: UTF8String): Int = {
    val nb = u.numBytes
    var i = 0; var n = 0
    while (i < nb) {
      val b = u.getByte(i) & 0xFF
      if (b < 0x80) { n += 1; i += 1 }
      else if (b < 0xE0) { n += 1; i += 2 }
      else if (b < 0xF0) { n += 1; i += 3 }
      else { n += 2; i += 4 }
    }
    n
  }

  def jw(u1: UTF8String, u2: UTF8String): Double = {
    val s1 = u1.toString; val s2 = u2.toString
    if (s1 == s2) return 1.0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2, i + window + 1)
      var j = math.max(0, i - window)
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3
    var l = 0
    val maxp = math.min(math.min(l1, l2), 4)
    while (l < maxp && s1.charAt(l) == s2.charAt(l)) l += 1
    if (jaro > 0.7) jaro + l * 0.1 * (1 - jaro) else jaro
  }
}

/** UTF-16 code-unit length as a native expression (codegen'd static
  * call) — the length notion [[JaroWinklerKernel.jw]] scores with, used
  * by [[graft.plans.JaroPrefilter]] so its necessary-length guard is
  * computed in the kernel's own units (code points ≠ code units off the
  * BMP). O(bytes) — strictly cheaper than the O(|a|·|b|) window walk it
  * guards. */
case class Utf16Length(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "utf16_length"
  override protected def nullSafeEval(input: Any): Any =
    JaroWinklerKernel.cuLength(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.JaroWinklerKernel.cuLength($c)")
  override protected def withNewChildInternal(newChild: Expression): Utf16Length =
    copy(child = newChild)
}

/** `jaro_winkler(a, b)` as a native Catalyst expression: null-safe,
  * codegen'd via a static kernel call — stays inside WholeStageCodegen
  * (same rationale as NormalizeNFKC). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerKernel.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.text.JaroWinklerKernel.jw($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** The 4-permutation MinHash signature of one token array: for each seed
  * s of `TextOps.MinhashSeeds`, the least md5(s ‖ token) over the
  * array's tokens, as the 32-character lowercase hex string Spark's `md5`
  * returns. Digests compare as unsigned 128-bit numbers, the order of
  * their hex strings, and only the winners are hex-encoded. Null tokens
  * are skipped (a non-empty array of nulls gives null fields); an empty
  * array gives no signature (null).
  *
  * Text repeats its tokens (pipebench's dedup input draws 720k
  * occurrences from 1,000 words), so each thread keeps a [[TokenMemo]] of
  * the tokens it has digested, with their four 16-byte digests beside it:
  * a repeated token costs one in-place hash and compare instead of four
  * md5 runs. A token is digested from the memo's copy of its UTF-8 bytes;
  * one longer than `TokenMemo.MaxKeyBytes` is digested in place and not
  * kept. Per thread this holds the memo's 576 KiB plus 64 bytes per entry,
  * about 1.6 MiB in all, and the table clears itself when full. It pays
  * off once a thread sees a token more than once; on text where every
  * token is new it costs about a tenth more than digesting alone.
  */
object MinhashKernel {
  private val seeds: Array[Array[Byte]] =
    TextOps.MinhashSeeds.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  val Fields: StructType =
    StructType(seeds.indices.map(i => StructField(s"h${i + 1}", StringType)))
  private val Hex = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Width = 16 * seeds.length

  /** One thread's memo: entry e's digests are `digests(e·Width until (e + 1)·Width)`;
    * the extra last block holds an unkept token's digests. */
  private final class Memo {
    val tokens = new TokenMemo
    val digests = new Array[Byte]((TokenMemo.Capacity + 1) * Width)
    private val md = java.security.MessageDigest.getInstance("MD5")

    /** Where `u`'s digests start in `digests`. */
    def digestsOf(u: UTF8String): Int = {
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val len = u.numBytes
      var e = tokens.find(base, off, len)
      if (e >= 0) return e * Width
      e = tokens.add(base, off, len)
      if (e >= 0) digest(tokens.keys, tokens.keyStart(e), len, e * Width)
      else {
        val bb = u.getByteBuffer
        digest(bb.array, bb.arrayOffset + bb.position, len, TokenMemo.Capacity * Width)
      }
    }

    private def digest(src: Array[Byte], from: Int, len: Int, at: Int): Int = {
      var s = 0
      while (s < seeds.length) {
        md.update(seeds(s))
        md.update(src, from, len)
        md.digest(digests, at + 16 * s, 16)
        s += 1
      }
      at
    }
  }
  private val memos = ThreadLocal.withInitial[Memo](() => new Memo)

  def signature(t: ArrayData): InternalRow = {
    val n = t.numElements()
    if (n == 0) return null
    val k = seeds.length
    val best = new Array[Byte](16 * k)
    val memo = memos.get()
    val d = memo.digests
    var found = false
    var i = 0
    while (i < n) {
      if (!t.isNullAt(i)) {
        val at = memo.digestsOf(t.getUTF8String(i))
        var s = 0
        while (s < k) {
          val from = at + 16 * s
          if (!found || java.util.Arrays.compareUnsigned(d, from, from + 16, best, 16 * s, 16 * s + 16) < 0)
            System.arraycopy(d, from, best, 16 * s, 16)
          s += 1
        }
        found = true
      }
      i += 1
    }
    val out = new Array[Any](k)
    if (found) {
      var s = 0
      while (s < k) {
        val hex = new Array[Byte](32)
        var j = 0
        while (j < 16) {
          val b = best(16 * s + j) & 0xff
          hex(2 * j) = Hex(b >>> 4); hex(2 * j + 1) = Hex(b & 0xf)
          j += 1
        }
        out(s) = UTF8String.fromBytes(hex)
        s += 1
      }
    }
    new GenericInternalRow(out)
  }
}

/** `minhash_signature(tokens)`: struct<h1..h4 STRING> of
  * [[MinhashKernel.signature]], one codegen'd static call per row. */
case class MinhashSignature(child: Expression) extends UnaryExpression {
  override def dataType: DataType = MinhashKernel.Fields
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    MinhashKernel.signature(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.text.MinhashKernel.signature($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** Column-level API for the custom expressions. */
object TextFunctions {
  def normalize_nfkc(c: Column): Column =
    GraftSqlBridge.column(NormalizeNFKC(GraftSqlBridge.expression(c)))
  def html_unescape(c: Column): Column =
    GraftSqlBridge.column(HtmlUnescape(GraftSqlBridge.expression(c)))
  def jaro_winkler(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaroWinkler(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def minhash_signature(tokens: Column): Column =
    GraftSqlBridge.column(MinhashSignature(GraftSqlBridge.expression(tokens)))
}
