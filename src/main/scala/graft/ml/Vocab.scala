package graft.ml

import graft.Tables
import graft.text.Cleanse
import org.apache.spark.ml.feature.CountVectorizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dictionary + bag-of-words (SURVEY.md §2.4 A1/A2) — the Spark-native
  * replacement for gensim `Dictionary`/`doc2bow` (LDA_logic.py:274-277).
  *
  * Two implementations of the same semantics:
  *  - a fully relational form (explode → doc-frequency agg → rank) that the
  *    DuckDB oracle can check row-by-row;
  *  - MLlib `CountVectorizer` (engine path feeding LDA) — same pruning
  *    parameters, vector-typed output, engine-only.
  *
  * The reference prunes with `filter_extremes(no_below=5, no_above=0.5,
  * keep_n=5000)` (LDA_logic.py:276). On the synthetic `documents` corpus a
  * 0.5 ceiling keeps 1 term (tiny 31-word vocabulary, df up to 80%), so the
  * declared queries use no_above=0.9 to stay meaningful.
  */
object Vocab extends graft.QueryModule {

  val MinDF = 5
  val MaxDFFrac = 0.9
  val VocabSize = 5000

  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("term"))

  /** A1 relational twin: term → dense id ranked by (df desc, term asc),
    * pruned by document-frequency floor/ceiling and vocab cap.
    *
    * Scale: doc-frequency agg is a (term) hash shuffle with map-side
    * partial aggregation; the vocab cap is applied with orderBy+limit —
    * TakeOrderedAndProject, a distributed per-partition top-K followed by
    * a driver-side merge of K-row heaps — so no single partition ever
    * holds the full term table (pre-cap vocabularies reach tens of
    * millions of terms at 100 TB). Only the already-capped VocabSize rows
    * pass through the global rank window that assigns dense ids. */
  def dictionary(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dfreq = toks(s, dir)
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("df").desc, col("term"))
    dfreq.crossJoin(n)
      .filter(col("df") >= MinDF && col("df") <= col("n_docs") * MaxDFFrac)
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term")).limit(VocabSize)
      .withColumn("term_id", (row_number().over(w) - 1).cast(LongType))
      .select(col("term_id"), col("term"), col("df"))
  }

  def q24_dictionary(s: SparkSession, dir: String): DataFrame =
    dictionary(s, dir).orderBy(col("term_id"))

  /** A2 relational twin: per-doc sparse (term_id, freq) pairs. */
  def q25_doc2bow(s: SparkSession, dir: String): DataFrame =
    toks(s, dir)
      .join(dictionary(s, dir), "term")
      .groupBy(col("doc_id"), col("term_id"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("doc_id"), col("term_id"))

  /** Engine-only query: CountVectorizer vocabulary as (term_id, term). */
  def m_vocab_countvectorizer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("tokens"))
    val model = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setMinDF(MinDF).setVocabSize(VocabSize)
      .fit(docs)
    model.vocabulary.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("term_id", "term").orderBy(col("term_id"))
  }

  // ------------------------------------------------- feature hashing (A2')
  /** Hashing-trick vectorizer (q168) — Weinberger et al. 2009, "Feature
    * hashing for large scale multitask learning": tokens map straight
    * into B = 256 buckets via a hash, with an independent ±1 sign hash
    * making the estimator unbiased (E[⟨φ(x), φ(y)⟩] = ⟨x, y⟩). This is
    * the VOCABULARY-FREE doc2bow: where q24/q25 materialize a
    * dictionary (a corpus-wide distinct-term table that must fit
    * somewhere), the hashed path has NO trained state at all — the one
    * vectorizer that needs no fit pass, no broadcast table and no
    * stage coordination at 100 TB (it is what fastText and Vowpal
    * Wabbit ship). Cost: collisions fold features together — which is
    * measurable, so the report carries per-doc nnz and L1 next to the
    * exact sparse-vector digest.
    *
    * Bucket and sign reuse the q104 md5 recipe (salt-prefixed, exactly
    * replayable in DuckDB): bucket = md5('b ' tok) % 256, sign from
    * md5('s ' tok) parity. Zero-weight buckets (collision cancellation)
    * are DROPPED — true sparse semantics, asserted through the gate.
    *
    * Scale: explode → (doc, bucket) aggregate with map-side combine;
    * the per-doc digest folds the ≤B-entry vector ordered by bucket.
    * Nothing corpus-global anywhere. */
  def q168_feature_hashing(s: SparkSession, dir: String): DataFrame = {
    val B = 256
    def h12(salt: String, tok: Column): Column =
      conv(substring(md5(concat(lit(salt), lit(" "), tok)
        .cast("binary")), 1, 12), 16, 10).cast("long")
    val toksE = Tables.documentsFanned(s, dir)
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("tok"))
    toksE
      .select(col("doc_id"), (h12("b", col("tok")) % B).as("bucket"),
        when(h12("s", col("tok")) % 2 === 0L, 1L).otherwise(-1L).as("sg"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sg")).as("wgt"))
      .filter(col("wgt") =!= 0L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nnz"),
        sum(abs(col("wgt"))).as("l1"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("bucket"), col("wgt")))),
          x => concat(x("bucket").cast("string"), lit(":"),
            x("wgt").cast("string"))), " ").cast("binary")).as("vec_digest"))
      .select(col("doc_id"), col("nnz"), col("l1"), col("vec_digest"))
      .orderBy(col("doc_id"))
  }

  /** Hashing-fidelity contract (q169) — the accuracy twin of q168: the
    * hashing trick's value proposition is that signed buckets preserve
    * inner products in expectation (Weinberger et al. 2009, Thm 2), so
    * the audit MEASURES it: over the fixed 50-pair panel, exact
    * bag-of-words cosine vs hashed-vector cosine, per-pair delta in
    * exact milli units (integerized BEFORE the summary sums), gated on
    * mean ≤ 60 ‰ and max ≤ 300 ‰ (measured 24–30 / 67–167 across SFs —
    * 2× margin). Dots and norms are pure integers; the only doubles
    * are the two same-op-order cosines.
    *
    * Scale: panel-sized — term vectors only for the 100 panel docs
    * (pushed-down id filter), dot products via term/bucket equi-joins.
    * The corpus never enters. */
  def q169_hashing_fidelity(s: SparkSession, dir: String): DataFrame = {
    val B = 256
    def h12(salt: String, tok: Column): Column =
      conv(substring(md5(concat(lit(salt), lit(" "), tok)
        .cast("binary")), 1, 12), 16, 10).cast("long")
    val panel = Tables.documents(s, dir)
      .filter(col("doc_id") < 50 ||
        (col("doc_id") >= 100 && col("doc_id") < 150))
      .select(col("doc_id"), explode(Cleanse.tokens(col("text"))).as("tok"))
    val tv = panel.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val hv = panel
      .select(col("doc_id"), (h12("b", col("tok")) % B).as("bucket"),
        when(h12("s", col("tok")) % 2 === 0L, 1L).otherwise(-1L).as("sg"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sg")).as("w"))
      .filter(col("w") =!= 0L)
    def norms(df: DataFrame, v: String): DataFrame =
      df.groupBy(col("doc_id")).agg(sum(col(v) * col(v)).as("n2"))
    def dots(df: DataFrame, key: String, v: String): DataFrame =
      df.filter(col("doc_id") < 50).select(col("doc_id").as("pair_id"),
          col(key), col(v).as("va"))
        .join(df.filter(col("doc_id") >= 100)
          .select((col("doc_id") - 100).as("pair_id"), col(key),
            col(v).as("vb")), Seq("pair_id", key))
        .groupBy(col("pair_id"))
        .agg(sum(col("va") * col("vb")).as("num"))
    val pairs = Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select(col("doc_id").as("pair_id"))
    def cosFrame(df: DataFrame, key: String, v: String,
        out: String): DataFrame =
      pairs
        .join(dots(df, key, v), Seq("pair_id"), "left")
        .join(norms(df, v).select(col("doc_id").as("pair_id"),
          col("n2").as("na")), "pair_id")
        .join(norms(df, v).select((col("doc_id") - 100).as("pair_id"),
          col("n2").as("nb")), "pair_id")
        .select(col("pair_id"),
          (coalesce(col("num"), lit(0L)).cast("double") /
            sqrt((col("na") * col("nb")).cast("double"))).as(out))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    cosFrame(tv, "tok", "c", "cos_e")
      .join(cosFrame(hv, "bucket", "w", "cos_h"), "pair_id")
      .withColumn("delta_milli",
        round(lit(1000.0) * abs(col("cos_e") - col("cos_h"))).cast("long"))
      .withColumn("cos_e_r", round(col("cos_e"), 6))
      .withColumn("cos_h_r", round(col("cos_h"), 6))
      .withColumn("n_pairs", count(lit(1)).over(wAll))
      .withColumn("mean_ok",
        sum(col("delta_milli")).over(wAll) <= lit(60L) * col("n_pairs"))
      .withColumn("max_ok",
        max(col("delta_milli")).over(wAll) <= 300L)
      .select(col("pair_id"), col("cos_e_r"), col("cos_h_r"),
        col("delta_milli"), col("n_pairs"), col("mean_ok"), col("max_ok"))
      .orderBy(col("pair_id"))
  }

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"
  private val DictSql =
    s"""toks AS (SELECT doc_id, unnest($DToks) AS term FROM documents),
       |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |dict AS (SELECT term_id, term, df FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS BIGINT) - 1 AS term_id, term, df
       |  FROM dfreq, n WHERE df >= $MinDF AND df <= n_docs * $MaxDFFrac) r
       | WHERE term_id < $VocabSize)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_dictionary" -> (q24_dictionary _),
    "q25_doc2bow"    -> (q25_doc2bow _),
    "q168_feature_hashing" -> (q168_feature_hashing _),
    "q169_hashing_fidelity" -> (q169_hashing_fidelity _),
    "m_vocab_countvectorizer" -> (m_vocab_countvectorizer _))

  override val oracle: Map[String, String] = Map(
    "q24_dictionary" ->
      s"""WITH $DictSql
         |SELECT term_id, term, df FROM dict ORDER BY term_id""".stripMargin,
    "q25_doc2bow" ->
      s"""WITH $DictSql
         |SELECT t.doc_id, d.term_id, COUNT(*) AS freq
         |FROM toks t JOIN dict d ON t.term = d.term
         |GROUP BY t.doc_id, d.term_id ORDER BY doc_id, term_id""".stripMargin,
    "q169_hashing_fidelity" ->
      s"""WITH panel AS (SELECT doc_id, unnest($DToks) AS tok
         |  FROM documents
         |  WHERE doc_id < 50 OR (doc_id >= 100 AND doc_id < 150)),
         |tv AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM panel GROUP BY 1, 2),
         |hv AS (SELECT doc_id, bucket, CAST(SUM(sg) AS BIGINT) AS w
         |  FROM (SELECT doc_id,
         |      CAST('0x' || substr(md5('b ' || tok), 1, 12) AS BIGINT)
         |        % 256 AS bucket,
         |      CASE WHEN CAST('0x' || substr(md5('s ' || tok), 1, 12)
         |        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sg
         |    FROM panel) GROUP BY 1, 2 HAVING SUM(sg) <> 0),
         |tn AS (SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2
         |  FROM tv GROUP BY 1),
         |hn AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
         |  FROM hv GROUP BY 1),
         |td AS (SELECT a.doc_id AS pair_id,
         |    CAST(SUM(a.c * b.c) AS BIGINT) AS num
         |  FROM tv a JOIN tv b
         |    ON b.doc_id = a.doc_id + 100 AND a.tok = b.tok
         |  WHERE a.doc_id < 50 GROUP BY 1),
         |hd AS (SELECT a.doc_id AS pair_id,
         |    CAST(SUM(a.w * b.w) AS BIGINT) AS num
         |  FROM hv a JOIN hv b
         |    ON b.doc_id = a.doc_id + 100 AND a.bucket = b.bucket
         |  WHERE a.doc_id < 50 GROUP BY 1),
         |pr AS (SELECT doc_id AS pair_id FROM documents WHERE doc_id < 50),
         |ce AS (SELECT pr.pair_id,
         |    CAST(COALESCE(td.num, 0) AS DOUBLE) /
         |      sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cos_e
         |  FROM pr LEFT JOIN td ON td.pair_id = pr.pair_id
         |  JOIN tn na ON na.doc_id = pr.pair_id
         |  JOIN tn nb ON nb.doc_id = pr.pair_id + 100),
         |ch AS (SELECT pr.pair_id,
         |    CAST(COALESCE(hd.num, 0) AS DOUBLE) /
         |      sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cos_h
         |  FROM pr LEFT JOIN hd ON hd.pair_id = pr.pair_id
         |  JOIN hn na ON na.doc_id = pr.pair_id
         |  JOIN hn nb ON nb.doc_id = pr.pair_id + 100),
         |fin AS (SELECT ce.pair_id, cos_e, cos_h,
         |    CAST(round(1000.0 * abs(cos_e - cos_h)) AS BIGINT)
         |      AS delta_milli
         |  FROM ce JOIN ch ON ce.pair_id = ch.pair_id)
         |SELECT pair_id, round(cos_e, 6) AS cos_e_r,
         |  round(cos_h, 6) AS cos_h_r, delta_milli,
         |  CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs,
         |  CAST(SUM(delta_milli) OVER () AS BIGINT) <=
         |    60 * CAST(COUNT(*) OVER () AS BIGINT) AS mean_ok,
         |  CAST(MAX(delta_milli) OVER () AS BIGINT) <= 300 AS max_ok
         |FROM fin ORDER BY pair_id""".stripMargin,
    "q168_feature_hashing" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DToks) AS tok FROM documents),
         |hashed AS (SELECT doc_id,
         |    CAST('0x' || substr(md5('b ' || tok), 1, 12) AS BIGINT) % 256
         |      AS bucket,
         |    CASE WHEN CAST('0x' || substr(md5('s ' || tok), 1, 12)
         |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sg
         |  FROM toks),
         |vec AS (SELECT doc_id, bucket, CAST(SUM(sg) AS BIGINT) AS wgt
         |  FROM hashed GROUP BY 1, 2 HAVING SUM(sg) <> 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
         |  CAST(SUM(abs(wgt)) AS BIGINT) AS l1,
         |  md5(string_agg(CAST(bucket AS VARCHAR) || ':' ||
         |    CAST(wgt AS VARCHAR), ' ' ORDER BY bucket)) AS vec_digest
         |FROM vec GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
