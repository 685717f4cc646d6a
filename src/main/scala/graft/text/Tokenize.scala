package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationSupport, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** M1 `tokenize_lemmatize` (SURVEY §2.6; LDA_logic.py:230-261) — the
  * Spark-native stand-in for the reference's spaCy `en_core_web_lg`
  * pipeline: keep alphabetic, non-stopword tokens, lowercased, lemmatized.
  *
  * Declared fidelity gap (SURVEY §7.4): true statistical POS tagging and
  * lemmatization need a model we neither ship nor depend on. We implement
  * the deterministic subset — word-boundary tokenization, alpha filter,
  * stopword removal (MLlib's English list, same family as NLTK's), and a
  * suffix-rule lemmatizer (Porter-step-1-flavored) — entirely as builtin
  * expressions, so the whole pipe stays inside whole-stage codegen; there
  * is no UDF and no per-row interpreter work.
  */
object Tokenize extends graft.QueryModule {

  /** MLlib's bundled English stopwords (Snowball-derived, same lineage as
    * the NLTK list the reference loads at app.py:37). */
  val EnglishStopwords: Seq[String] =
    org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english").toSeq

  /** Ordered suffix rules (first match wins), shared verbatim with the
    * DuckDB oracle: (pattern, replacement). Guards keep short roots intact. */
  val LemmaRules: Seq[(String, String)] = Seq(
    "(....)ingly$" -> "$1",   // amazingly -> amaz
    "(...)edly$"   -> "$1",   // supposedly -> suppos
    "(..)ies$"     -> "$1y",  // queries -> query
    "(..)sses$"    -> "$1ss", // classes -> class
    "(...)ing$"    -> "$1",   // loading -> load
    "(...)ed$"     -> "$1",   // loaded -> load
    "(..)ly$"      -> "$1",   // slowly -> slow
    "([^s])s$"     -> "$1")   // errors -> error (not 'ss')

  /** \W+ word split, lowercase, alpha-only, stopword filter. */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-zA-Z]+"),
      t => t.rlike("^[a-z]+$") && length(t) >= 2 &&
        !t.isin(EnglishStopwords.map(x => x: Any): _*))

  /** Apply the first matching suffix rule to one token: a flat
    * first-non-null `coalesce` over `when(rlike, replace)` arms — linear
    * expression size. (A fold threading a "done" flag re-nests every prior
    * arm into each next one: O(rules²) tree growth, measured 91 s for q38
    * at sf0.01 vs ~1 s for this form.) */
  def lemma(token: Column): Column =
    coalesce(
      (LemmaRules.map { case (pat, rep) =>
        when(token.rlike(pat), regexp_replace(token, pat, rep))
      } :+ token): _*)

  /** Full M1 pipe: text → lemmatized content tokens.
    *
    * Runs as ONE native codegen'd expression (LemmaTokens): the
    * builtin-HOF form (`transform(filter(split(...)))` with per-token
    * rlike + a 180-word isin) evaluates interpreted per element — 5.2 s
    * for 5k docs at sf0.1; the compiled kernel with a static stopword
    * hash set and precompiled patterns is the same trade DotProductD
    * documents. `words`/`lemma` stay as the column-level reference
    * semantics (PropertySpec cross-checks the two forms). */
  def lemmaTokens(text: Column): Column =
    GraftSqlBridge.column(LemmaTokens(GraftSqlBridge.expression(text)))

  /** The builtin-HOF reference form of lemmaTokens (kept for the
    * equivalence property test). */
  def lemmaTokensHof(text: Column): Column = transform(words(text), t => lemma(t))

  /** Oracle-gated query: per-document lemma stream digest + per-corpus
    * top lemmas (checks tokenization, stopwords and rules end-to-end). */
  def q38_lemma_tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), lemmaTokens(col("text")).as("lemmas"))
      .select(col("doc_id"),
        size(col("lemmas")).as("n_lemmas"),
        md5(array_join(col("lemmas"), " ").cast("binary")).as("lemmas_md5"))
      .orderBy(col("doc_id"))

  /** Engine-only: the quantitative M1 fidelity measurement (round-14
    * verdict item 7) — token-level agreement between the oracle-gated
    * lemma-lite rules and the published Porter2 stemmer over the corpus'
    * M1 token stream. Works on the DISTINCT word table (Heaps-bounded —
    * metadata-scale) with token counts carried alongside, so both the
    * vocabulary-level and occurrence-weighted agreement report from one
    * catalog-sized pass; the corpus-side work is one explode + one
    * map-side-combined count. Engine-only: Porter2's region arithmetic
    * has no tractable SQL twin (Porter2Spec carries goldens + the
    * idempotence property instead). */
  def m_stem_agreement(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsFanned(s, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(length(col("tok")) >= 2 &&
        !col("tok").isin(EnglishStopwords.map(x => x: Any): _*))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(col("tok"), col("n"),
        lemma(col("tok")).as("lemma_lite"),
        Porter2.porter2_stem(col("tok")).as("porter2"))
      .withColumn("agree", (col("lemma_lite") === col("porter2")).cast("long"))
    vocab.agg(
      sum(col("n")).as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      expr("(1000 * sum(agree)) div count(1)").as("vocab_agree_permille"),
      expr("(1000 * sum(agree * n)) div sum(n)").as("token_agree_permille"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_lemma_tokens" -> (q38_lemma_tokens _),
    "m_stem_agreement" -> (m_stem_agreement _))

  private def sqlIn(xs: Seq[String]): String =
    xs.map(x => "'" + x.replace("'", "''") + "'").mkString("(", ",", ")")

  // DuckDB twin: same split/filter/rules. list_transform + chained CASE.
  private val DWords =
    s"""list_filter(string_split_regex(lower(text), '[^a-zA-Z]+'),
       | t -> regexp_matches(t, '^[a-z]+$$') AND len(t) >= 2
       |      AND t NOT IN ${sqlIn(EnglishStopwords)})""".stripMargin
  private val DLemma = LemmaRules.zipWithIndex.reverse.foldLeft("t") {
    case (acc, ((pat, rep), _)) =>
      val drep = rep.replace("$1", "\\1")
      s"CASE WHEN regexp_matches(t, '$pat') THEN regexp_replace(t, '$pat', '$drep') ELSE $acc END"
  }

  override val oracle: Map[String, String] = Map(
    "q38_lemma_tokens" ->
      s"""WITH w AS (SELECT doc_id, $DWords AS ws FROM documents),
         |l AS (SELECT doc_id, list_transform(ws, t -> $DLemma) AS lemmas FROM w)
         |SELECT doc_id, CAST(len(lemmas) AS INTEGER) AS n_lemmas,
         | md5(coalesce(array_to_string(lemmas, ' '), '')) AS lemmas_md5
         |FROM l ORDER BY doc_id""".stripMargin)
}

/** Compiled kernel behind the LemmaTokens expression — static, public,
  * deterministic (referenced from generated code). Token scan: runs of
  * ASCII letters in the text's UTF-8 bytes, case-folded, length/stopword
  * filter against a hash set, then the first matching precompiled suffix
  * rule. The pieces are those of `split(lower(text), "[^a-zA-Z]+")`: on
  * all-ASCII text the scan folds case itself; at the first byte of 0x80
  * or above it re-scans the document lower-cased as Spark's `lower` does
  * (ICU case mappings, Spark's default), because a few non-ASCII
  * characters lower-case to ASCII letters (U+212A KELVIN SIGN to `k`,
  * U+0130 to `i` and a combining dot). Every byte of a non-ASCII
  * character is 0x80 or above, so what stays non-ASCII separates tokens.
  *
  * Text repeats its tokens (pipebench's topics input draws 120k
  * occurrences from 12,200 words), so each thread keeps a [[TokenMemo]] of
  * the case-folded tokens it has seen, with each token's lemma, or null
  * for a stopword, beside it: a repeated token costs one in-place hash and
  * compare instead of a `String`, a stopword probe and up to eight regex
  * matchers. A token longer than `TokenMemo.MaxKeyBytes` is evaluated and
  * not kept. Per thread this holds the memo's 576 KiB plus, per entry, one
  * reference and at most one lemma of at most 32 ASCII bytes (a
  * `UTF8String` and its array, under 80 bytes): under 2 MiB in all, and
  * the table clears itself when full. Lemmas are immutable and shared by
  * every row that holds the token. The memo pays off once a thread sees a
  * token more than once; on text where every token is new it costs a few
  * percent. */
object LemmaUtil {
  private val stop: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String]()
    Tokenize.EnglishStopwords.foreach(h.add)
    h
  }
  private val compiled: Array[(java.util.regex.Pattern, String)] =
    Tokenize.LemmaRules.map { case (p, r) =>
      (java.util.regex.Pattern.compile(p), r)
    }.toArray

  private def applyRules(tok: String): String = {
    var j = 0
    while (j < compiled.length) {
      val m = compiled(j)._1.matcher(tok)
      if (m.find()) return m.replaceAll(compiled(j)._2)
      j += 1
    }
    tok
  }

  /** A token's lemma, or null for a stopword. */
  private def evaluate(tok: String): UTF8String =
    if (stop.contains(tok)) null else UTF8String.fromString(applyRules(tok))

  /** One thread's memo; `token` holds the current token's case-folded bytes. */
  private final class Memo {
    val tokens = new TokenMemo
    val lemmas = new Array[UTF8String](TokenMemo.Capacity)
    val token = new Array[Byte](TokenMemo.MaxKeyBytes)

    def lemmaOf(len: Int): UTF8String = {
      val e = tokens.find(token, Platform.BYTE_ARRAY_OFFSET, len)
      if (e >= 0) return lemmas(e)
      val l = evaluate(new String(token, 0, len, java.nio.charset.StandardCharsets.US_ASCII))
      lemmas(tokens.add(token, Platform.BYTE_ARRAY_OFFSET, len)) = l
      l
    }
  }
  private val memos = ThreadLocal.withInitial[Memo](() => new Memo)

  private def foldedString(base: AnyRef, at: Long, len: Int): String = {
    val cs = new Array[Char](len)
    var j = 0
    while (j < len) { cs(j) = (Platform.getByte(base, at + j) | 0x20).toChar; j += 1 }
    new String(cs)
  }

  def lemmaTokens(u: UTF8String): ArrayData = {
    val lemmas = scan(u, lowered = false)
    new GenericArrayData(
      if (lemmas != null) lemmas else scan(CollationSupport.Lower.execBinaryICU(u), lowered = true))
  }

  /** The lemmas of `u`'s tokens, or null if `u` has a non-ASCII byte and
    * is not `lowered` yet. */
  private def scan(u: UTF8String, lowered: Boolean): Array[Any] = {
    val memo = memos.get()
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var len = 0
    var i = 0
    while (i <= n) { // one past the end flushes the final token
      val b = if (i < n) Platform.getByte(base, off + i) else ' '.toByte
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
        if (len < TokenMemo.MaxKeyBytes) memo.token(len) = (b | 0x20).toByte
        len += 1
      } else {
        if (b < 0 && !lowered) return null
        if (len >= 2) {
          val l =
            if (len <= TokenMemo.MaxKeyBytes) memo.lemmaOf(len)
            else evaluate(foldedString(base, off + i - len, len))
          if (l != null) out += l
        }
        len = 0
      }
      i += 1
    }
    out.toArray
  }
}

/** M1 tokenize+lemmatize as ONE native codegen'd expression (see
  * Tokenize.lemmaTokens for the measured rationale). */
case class LemmaTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lemma_tokens"
  override protected def nullSafeEval(input: Any): Any =
    LemmaUtil.lemmaTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.LemmaUtil.lemmaTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): LemmaTokens =
    copy(child = newChild)
}
