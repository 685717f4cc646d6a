package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operator surface over `documents` (SURVEY.md §2.3 T1-T6,
  * §2.5 G20 + the LLM-pipeline text operators: quality scoring, language
  * ID, token counting, fingerprinting).
  *
  * Literal word lists are shared between the Spark plans and the generated
  * DuckDB oracle SQL, so both engines evaluate identical semantics.
  * Everything is builtin string/array/higher-order functions — fully
  * codegen'd, no UDFs in any of these paths; at 100 TB these are pure
  * map-side projections that scale linearly with input splits.
  */
object TextOps extends graft.QueryModule {

  /** Lucene/classic English stopword list (public domain). */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** Tiny per-language marker profiles for the n-gram/stopword language-ID
    * heuristic (top function words per language — public knowledge). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for", "with", "as"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "auf", "ist"),
    "fr" -> Seq("le", "les", "de", "et", "des", "un", "une", "du", "dans", "est"))

  val MinhashSeeds: Seq[String] = Seq("s1:", "s2:", "s3:", "s4:")

  private def sqlIn(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ",", ")")
  private def sqlArr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** DuckDB twin of `Cleanse.tokens`: non-empty whitespace tokens. */
  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"
  /** DuckDB twin of `Cleanse.cleanseTokens` (alnum-line filter + PII scrub).
    * NB coalesce: DuckDB's array_to_string([]) is NULL, Spark's
    * array_join([]) is ''. */
  private val DCleanToks =
    s"""list_filter(list_filter(string_split(trim(coalesce(array_to_string(
       |  list_filter(string_split_regex(text, '\\r?\\n'),
       |              l -> regexp_matches(l, '^[A-Za-z0-9 ]+$$')), ' '), '')), ' '),
       |  t -> t <> ''), t -> NOT regexp_matches(t, '${Cleanse.PiiRe}'))""".stripMargin

  // ---------------------------------------------------------------- T3/T4/T5
  /** Composed cleanse to scrubbed tokens; md5 digest makes the oracle
    * compare compact and content-exact. */
  def q21_cleanse_tokens(s: SparkSession, dir: String): DataFrame = {
    val toks = Cleanse.cleanseTokens(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(array_join(toks, " ").cast("binary")).as("clean_md5"),
      size(toks).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------- T1
  /** html_unescape against a constructed entity-bearing prefix — the oracle
    * side carries the already-unescaped literal (decoded BY HAND, never via
    * the expression under test), so this checks our Catalyst expression
    * against Python-html.unescape semantics. The prefix spans every entity
    * class the decoder table covers: XML predefined, numeric dec/hex,
    * Latin-1 accents, symbols (trade/deg/plusmn/euro), Greek, math and
    * arrows. Both sides strip '&' from the corpus text so the equivalence
    * never depends on whether the fixture corpus happens to contain
    * entities (round-1 advice: a regenerated corpus with entities would
    * silently diverge). */
  val EntityPrefix: String =
    "&amp;x &lt;tag&gt; &quot;q&quot; &#65; &#x42; &eacute;&Eacute; " +
      "&trade; &deg;C &plusmn;2 &frac12; &ouml;&szlig; &alpha;&beta;&Omega; " +
      "&euro;99 &ne;&le;&ge; &infin;&rarr;&hellip;&bull; &curren;&laquo;x&raquo; "

  def q22_html_unescape(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(Cleanse.htmlUnescape(
        concat(lit(EntityPrefix),
          regexp_replace(col("text"), "&", "")))
        .cast("binary")).as("unescaped_md5"))
      .orderBy(col("doc_id"))

  // -------------------------------------------------------------------- A3
  def q23_corpus_stats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(size(Cleanse.tokens(col("text")))).cast(LongType).as("total_tokens"),
      sum(length(col("text"))).cast(LongType).as("total_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))

  // ------------------------------------------------------------------- G20
  def q26_text_stats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast(LongType).as("sum_chars"),
        sum(size(Cleanse.tokens(col("text")))).cast(LongType).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"))
      .orderBy(col("lang"))

  // ---------------------------------------------------- quality scoring
  /** Per-document quality signals: token counts, type-token ratio, stopword
    * ratio, non-alnum character count — the classic LLM-corpus filters. */
  def q27_quality_score(s: SparkSession, dir: String): DataFrame = {
    val toks = Cleanse.tokens(col("text"))
    val nTok = size(toks)
    val nUniq = size(array_distinct(toks))
    val nStop = size(filter(toks, t => t.isin(Stopwords.map(x => x: Any): _*)))
    Tables.documents(s, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nUniq.as("n_uniq_tokens"),
      (nUniq.cast(DoubleType) / nTok).as("type_token_ratio"),
      (nStop.cast(DoubleType) / nTok).as("stopword_ratio"),
      length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("n_nonalnum"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------- token counting
  /** BPE-ish regex token count (word pieces + digit runs + single
    * punctuation marks). */
  def q28_token_count(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("n_bpeish_tokens"),
      size(Cleanse.tokens(col("text"))).as("n_ws_tokens"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------- language ID
  /** Stopword-overlap language ID: score each doc against tiny per-language
    * marker profiles (broadcast 4-row dim), argmax per doc. */
  /** Language-ID confusion matrix (q236) — eval loop #10, over q29's
    * marker heuristic against the documents table's labeled `lang`: per
    * (true lang, prediction) cell the count, per true lang the recall
    * permille, and the overall accuracy riding every row. The corpus
    * includes a language with NO marker profile (zh), so the matrix
    * exposes the classifier's coverage gap honestly — its row can never
    * be correct, which is exactly what a governance review needs to see
    * before trusting q29 as a filter.
    *
    * Scale shape: the q29 chain (broadcast profile cross, per-doc
    * argmax window keyed by doc) plus a |langs|²-sized rollup. */
  def q236_langid_eval(s: SparkSession, dir: String): DataFrame = {
    val preds = q29_lang_id(s, dir)
      .select(col("doc_id"), col("lang_guess"))
    val truth = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val cells = truth.join(preds, Seq("doc_id"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
    val perLang = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    val overall = cells.agg(
      sum(when(col("lang") === col("lang_guess"), col("n")).otherwise(0L))
        .as("n_correct"),
      sum(col("n")).as("n_total"))
    cells.join(broadcast(perLang), Seq("lang"))
      .crossJoin(broadcast(overall))
      .select(col("lang"), col("lang_guess"), col("n"),
        expr("(1000 * n) div n_lang").as("cell_permille"),
        expr("(1000 * n_correct) div n_total").as("overall_permille"))
      .orderBy(col("lang"), col("lang_guess"))
  }

  def q29_lang_id(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profiles = LangMarkers.toDF("lang_guess", "markers")
    val toks = array_distinct(Cleanse.tokens(col("text")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("lang_guess"))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("toks"))
      .crossJoin(broadcast(profiles))
      .select(col("doc_id"), col("lang_guess"),
        size(array_intersect(col("toks"), col("markers"))).as("hits"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang_guess"), col("hits"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------- PII incidence
  /** PII incidence report — the compliance-audit twin of the T5 scrub:
    * per source, how many tokens match each PII class (email / URL /
    * UUID / MD5 hex / IPv4 — the same anchored regexes `scrubPii`
    * removes, shared verbatim with the oracle) plus the any-class total.
    * A scrub you can't audit is a scrub you can't trust: this is the
    * table a data-governance review reads before a corpus ships.
    * Map-side regex evaluation + one small-key aggregation — scales like
    * word count. */
  def q89_pii_report(s: SparkSession, dir: String): DataFrame = {
    val classes = Seq(
      "email" -> Cleanse.EmailRe, "url" -> Cleanse.UrlRe,
      "uuid" -> Cleanse.UuidRe, "md5" -> Cleanse.Md5Re,
      "ipv4" -> Cleanse.Ipv4Re)
    val aggs = count(lit(1)).as("n_tokens") +:
      classes.map { case (n, re) =>
        sum(col("t").rlike(re).cast("long")).as(s"n_$n")
      } :+ sum(col("t").rlike(Cleanse.PiiRe).cast("long")).as("n_pii_any")
    Tables.documents(s, dir)
      .select(col("source"), explode(Cleanse.tokens(col("text"))).as("t"))
      .groupBy(col("source"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("source"))
  }

  // ------------------------------------------------- fingerprint / minhash
  /** 4-permutation MinHash signature via md5 under distinct seeds — the
    * SQL-expressible twin of MinHashLSH (G18). One explode + one groupBy:
    * at scale this is the standard shingle→minhash map-reduce. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(Tables.documentsFanned(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t")))

  /** The signature kernel over any (doc_id, t) token frame — q73 feeds it
    * the shared checkpointed frame so its three near-dup signals tokenize
    * the corpus once. Each row's signature is one compiled
    * `minhash_signature` call ([[MinhashKernel]]); rows with a null or
    * empty array give none, and rows sharing a doc_id merge through a
    * min per hash, so the aggregation shuffles one row per document. */
  def minhashSignaturesOf(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) > 0) // on the input: a filter on sig would compute it twice
      .select(col("doc_id"), TextFunctions.minhash_signature(col("t")).as("sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("sig.h1")).as("h1"), min(col("sig.h2")).as("h2"),
        min(col("sig.h3")).as("h3"), min(col("sig.h4")).as("h4"))

  def q30_minhash_signature(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(s, dir).orderBy(col("doc_id"))

  /** (doc_id, band, h) band table from the 4-permutation signatures — the
    * corpus-side LSH index. Shared by q31's buckets and the streaming
    * near-dup gate's static side (`streaming.Sessions.nearDupCandidates`).
    * At scale this IS the index a continuous-ingest pipeline maintains:
    * partitioned on (band, h), appended as the corpus grows. */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(s, dir).select(col("doc_id"), explode(array(
      (1 to 4).map(i => struct(lit(i).as("band"), col(s"h$i").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))

  /** LSH banding: docs sharing any minhash band land in one bucket; buckets
    * with >1 doc are near-dup candidates. Pair generation happens per
    * bucket (engine-only MLlib variant covers the full join). */
  def q31_minhash_buckets(s: SparkSession, dir: String): DataFrame =
    minhashBands(s, dir).groupBy(col("band"), col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("band"), col("h"))

  // ------------------------------------------- rolling-hash fingerprint
  /** Rabin-Karp-style positional document fingerprint: fold
    * h ← (h·31 + code(token)) mod 1e9+7 over the token stream. Pure
    * map-side `aggregate` HOF — order-sensitive (a permuted document gets a
    * different fingerprint, unlike minhash) and O(tokens) per doc. */
  def q39_fingerprint(s: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val toks = Cleanse.tokens(col("text"))
    val code = (t: org.apache.spark.sql.Column) => ascii(t) * length(t)
    Tables.documents(s, dir).select(
      col("doc_id"),
      aggregate(toks, lit(7L), (acc, t) => (acc * 31 + code(t)) % M)
        .as("fingerprint"),
      size(toks).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ flagship (§7.2)
  /** Corpus pipeline: cleanse → tokenize → stopword-filter → per-language
    * term frequencies → top-10 terms per language. scan → scalar fns →
    * explode → agg → window → top-k in one Catalyst plan. */
  def q32_corpus_pipeline(s: SparkSession, dir: String): DataFrame = {
    val toks = Cleanse.cleanseTokens(col("text"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("freq").desc, col("term"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(toks).as("term"))
      .filter(!col("term").isin(Stopwords.map(x => x: Any): _*))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .orderBy(col("lang"), col("rank"))
  }

  // ---------------------------------------------------------------- tf-idf
  /** Relational TF-IDF, top-3 terms per document: tf from one (doc, term)
    * agg, df from one (term) agg, idf = ln(N/df) joined back through the
    * *term-keyed* side (vocabulary-sized, broadcastable at any corpus
    * scale), ranked per doc. Two hash shuffles + one window — the whole
    * thing stays relational, so at 100 TB it is exactly the doc2bow plan
    * plus a broadcast join. */
  def q48_tfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df.crossJoin(n)), "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * log(col("n_docs").cast(DoubleType) / col("df"))).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf_r"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // ------------------------------------------------- deterministic sample
  /** Reproducible hash sampling — the train/test-split / corpus-subsample
    * primitive: keep rows whose md5(key) starts in a fixed bucket range
    * (here 2/16 ≈ 12.5 %). Unlike rand()-sampling this is stable across
    * runs, engines, partitionings and cluster sizes — at 100 TB the split
    * must be a pure function of the key, never of execution order. Pure
    * map-side filter; no shuffle. */
  def q49_hash_sample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
        .isin("0", "1"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_tfidf"            -> (q48_tfidf _),
    "q49_hash_sample"      -> (q49_hash_sample _),
    "q21_cleanse_tokens"   -> (q21_cleanse_tokens _),
    "q22_html_unescape"    -> (q22_html_unescape _),
    "q23_corpus_stats"     -> (q23_corpus_stats _),
    "q26_text_stats"       -> (q26_text_stats _),
    "q27_quality_score"    -> (q27_quality_score _),
    "q28_token_count"      -> (q28_token_count _),
    "q29_lang_id"          -> (q29_lang_id _),
    "q236_langid_eval"     -> (q236_langid_eval _),
    "q30_minhash_signature"-> (q30_minhash_signature _),
    "q31_minhash_buckets"  -> (q31_minhash_buckets _),
    "q39_fingerprint"      -> (q39_fingerprint _),
    "q32_corpus_pipeline"  -> (q32_corpus_pipeline _),
    "q89_pii_report"       -> (q89_pii_report _))

  override val oracle: Map[String, String] = Map(
    // same anchored regexes as the Spark side, verbatim (Java ∩ RE2 subset)
    "q89_pii_report" -> {
      val classes = Seq(
        "email" -> Cleanse.EmailRe, "url" -> Cleanse.UrlRe,
        "uuid" -> Cleanse.UuidRe, "md5" -> Cleanse.Md5Re,
        "ipv4" -> Cleanse.Ipv4Re)
      val cols = classes.map { case (n, re) =>
        s"CAST(SUM(CASE WHEN regexp_matches(t, '$re') THEN 1 ELSE 0 END) AS BIGINT) AS n_$n"
      }.mkString(",\n ")
      s"""WITH toks AS (SELECT source, unnest($DToks) AS t FROM documents)
         |SELECT source, COUNT(*) AS n_tokens,
         | $cols,
         | CAST(SUM(CASE WHEN regexp_matches(t, '${Cleanse.PiiRe}') THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_any
         |FROM toks GROUP BY source ORDER BY source""".stripMargin
    },
    "q48_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
         |  FROM tf JOIN df USING (term), n),
         |ranked AS (SELECT doc_id, term, tf, df, tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df,
         | round(tfidf, 6) AS tfidf_r
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q49_hash_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,
    "q21_cleanse_tokens" ->
      s"""WITH c AS (SELECT doc_id, $DCleanToks AS toks FROM documents)
         |SELECT doc_id, md5(array_to_string(toks, ' ')) AS clean_md5,
         | CAST(len(toks) AS INTEGER) AS n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,
    // the literal below is EntityPrefix decoded by hand (independent of
    // TextUtil.htmlUnescape — the gate must not be circular)
    "q22_html_unescape" ->
      """SELECT doc_id,
        | md5('&x <tag> "q" A B éÉ ™ °C ±2 ½ öß αβΩ €99 ≠≤≥ ∞→…• ¤«x» '
        |      || regexp_replace(text, '&', '', 'g')) AS unescaped_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q23_corpus_stats" ->
      s"""SELECT COUNT(*) AS n_docs,
         | CAST(SUM(len($DToks)) AS BIGINT) AS total_tokens,
         | CAST(SUM(len(text)) AS BIGINT) AS total_chars,
         | MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         |FROM documents""".stripMargin,
    "q26_text_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         | CAST(SUM(len($DToks)) AS BIGINT) AS sum_tokens,
         | COUNT(DISTINCT source) AS n_sources,
         | CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q27_quality_score" ->
      s"""WITH c AS (SELECT doc_id, text, $DToks AS toks FROM documents)
         |SELECT doc_id,
         | CAST(len(toks) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
         | CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
         | CAST(len(list_filter(toks, t -> t IN ${sqlIn(Stopwords)})) AS DOUBLE) / len(toks) AS stopword_ratio,
         | CAST(len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INTEGER) AS n_nonalnum
         |FROM c ORDER BY doc_id""".stripMargin,
    "q28_token_count" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish_tokens,
         | CAST(len($DToks) AS INTEGER) AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, list_distinct($DToks) AS toks FROM documents),
         |profiles AS (SELECT * FROM (VALUES ${LangMarkers.map { case (l, ws) => s"('$l', ${sqlArr(ws)})" }.mkString(", ")}) p(lang_guess, markers)),
         |scored AS (SELECT doc_id, lang_guess,
         |  CAST(len(list_intersect(toks, markers)) AS INTEGER) AS hits FROM toks, profiles),
         |ranked AS (SELECT doc_id, lang_guess, hits,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_guess) AS rn FROM scored)
         |SELECT doc_id, lang_guess, hits FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q236_langid_eval" ->
      s"""WITH toks AS (SELECT doc_id, list_distinct($DToks) AS toks FROM documents),
         |profiles AS (SELECT * FROM (VALUES ${LangMarkers.map { case (l, ws) => s"('$l', ${sqlArr(ws)})" }.mkString(", ")}) p(lang_guess, markers)),
         |scored AS (SELECT doc_id, lang_guess,
         |  CAST(len(list_intersect(toks, markers)) AS INTEGER) AS hits FROM toks, profiles),
         |preds AS (SELECT doc_id, lang_guess FROM (SELECT doc_id, lang_guess,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_guess) AS rn FROM scored)
         |  WHERE rn = 1),
         |cells AS (SELECT d.lang, p.lang_guess, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents d JOIN preds p USING (doc_id) GROUP BY 1, 2),
         |pl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1),
         |ov AS (SELECT CAST(SUM(CASE WHEN lang = lang_guess THEN n ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(SUM(n) AS BIGINT) AS n_total FROM cells)
         |SELECT c.lang, c.lang_guess, c.n,
         |  (1000 * c.n) // pl.n_lang AS cell_permille,
         |  (1000 * ov.n_correct) // ov.n_total AS overall_permille
         |FROM cells c JOIN pl USING (lang) CROSS JOIN ov
         |ORDER BY c.lang, c.lang_guess""".stripMargin,
    "q30_minhash_signature" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DToks) AS term FROM documents)
         |SELECT doc_id,
         |${MinhashSeeds.zipWithIndex.map { case (seed, i) => s" min(md5('$seed' || term)) AS h${i + 1}" }.mkString(",\n")}
         |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q31_minhash_buckets" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DToks) AS term FROM documents),
         |sig AS (SELECT doc_id,
         |${MinhashSeeds.zipWithIndex.map { case (seed, i) => s" min(md5('$seed' || term)) AS h${i + 1}" }.mkString(",\n")}
         | FROM toks GROUP BY doc_id),
         |bands AS (${(1 to 4).map(i => s"SELECT doc_id, $i AS band, h$i AS h FROM sig").mkString(" UNION ALL ")})
         |SELECT band, h, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM bands GROUP BY band, h HAVING COUNT(*) > 1 ORDER BY band, h""".stripMargin,
    "q39_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents)
         |SELECT doc_id,
         | list_reduce([CAST(7 AS BIGINT)] ||
         |   list_transform(t, x -> CAST(ascii(x) * len(x) AS BIGINT)),
         |   (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint,
         | CAST(len(t) AS INTEGER) AS n_tokens
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q32_corpus_pipeline" ->
      s"""WITH toks AS (SELECT lang, unnest($DCleanToks) AS term FROM documents),
         |freqs AS (SELECT lang, term, COUNT(*) AS freq FROM toks
         |  WHERE term NOT IN ${sqlIn(Stopwords)} GROUP BY lang, term),
         |ranked AS (SELECT lang, term, freq,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rank FROM freqs)
         |SELECT lang, term, freq, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY lang, rank""".stripMargin)
}
