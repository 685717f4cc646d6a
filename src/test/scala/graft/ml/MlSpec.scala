package graft.ml

import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ML-layer invariants (SURVEY §5.2 items 3-4): dictionary/doc2bow
  * properties, the c_v golden test, LDA smoke, P5 validation. */
class MlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("P5 validate_params mirrors the reference bounds (LDA_logic.py:145-168)") {
    Lda.validateParams(passes = 5, iterations = 100, numTopics = 5)
    intercept[IllegalArgumentException](Lda.validateParams(20, 100, 5))
    intercept[IllegalArgumentException](Lda.validateParams(5, 200, 5))
    intercept[IllegalArgumentException](Lda.validateParams(5, 100, 0))
  }

  test("A1 dictionary: term ids dense in [0, vocab), df within bounds") {
    val d = Vocab.dictionary(spark, dir).collect()
    val ids = d.map(_.getAs[Long]("term_id")).sorted
    assert(ids.toSeq == ids.indices.map(_.toLong)) // dense 0..n-1
    val nDocs = graft.Tables.documents(spark, dir).count()
    d.foreach { r =>
      val df = r.getAs[Long]("df")
      assert(df >= Vocab.MinDF && df <= nDocs * Vocab.MaxDFFrac)
    }
  }

  test("A2 doc2bow: per-doc freq sums equal in-dictionary token counts") {
    import spark.implicits._
    val bowSums = Vocab.q25_doc2bow(spark, dir)
      .groupBy(col("doc_id")).agg(sum(col("freq")).as("bow"))
    val dictTerms = Vocab.dictionary(spark, dir).select(col("term"))
    val tokCounts = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.text.Cleanse.tokens(col("text"))).as("term"))
      .join(dictTerms, "term")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("toks"))
    val bad = bowSums.join(tokCounts, "doc_id")
      .filter(col("bow") =!= col("toks")).count()
    assert(bad == 0)
  }

  test("M4 c_v golden test: hand-computed toy corpus (SURVEY §7.4)") {
    import spark.implicits._
    // one window per doc (all docs < 110 tokens):
    // p(apple)=3/4, p(banana)=2/4, p(apple,banana)=2/4
    // npmi(a,b)=log(.5/.375)/-log(.5)=0.415037; self-npmi=1
    // one-set cosine of v_a=(1,.415), v_b=(.415,1) vs their sum → 0.9241484
    val docs = Seq(
      (1L, Seq("apple", "banana")), (2L, Seq("apple", "banana")),
      (3L, Seq("apple", "cherry")), (4L, Seq("dog")))
      .toDF("doc_id", "tokens")
    val c = Coherence.cv(spark, docs, Seq(Seq("apple", "banana")))
      .collect()(0).getAs[Double]("coherence")
    assert(math.abs(c - 0.9241484) < 1e-6, s"c_v was $c")
  }

  test("M4 c_v sliding windows: matches brute-force window enumeration") {
    import spark.implicits._
    // doc1: 220 tokens with apple@100, banana@115 — the pair straddles a
    // 110-token tumbling boundary, so only true sliding windows co-count it
    val t1 = Array.fill(220)("x")
    t1(100) = "apple"; t1(115) = "banana"
    val corpus = Seq(t1.toSeq, Seq("apple", "banana", "y"))
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tokens")
    val got = Coherence.cv(spark, docs, Seq(Seq("apple", "banana")))
      .collect()(0).getAs[Double]("coherence")

    // independent oracle: literally enumerate every sliding window
    val windows = corpus.flatMap { toks =>
      val L = toks.length
      val starts = if (L <= Coherence.WindowSize) Seq(0)
      else 0 to (L - Coherence.WindowSize)
      starts.map(s => toks.slice(s, s + Coherence.WindowSize).toSet)
    }
    val W = windows.size.toDouble
    def p(ws: String*): Double = windows.count(w => ws.forall(w)) / W
    val eps = 1e-12
    def npmi(a: String, b: String): Double = {
      val pij = p(a, b)
      math.log((pij + eps) / (p(a) * p(b) + eps)) / -math.log(pij + eps)
    }
    val words = Seq("apple", "banana")
    val vecs = words.map(wi => words.map(wj => npmi(wi, wj)))
    val sv = words.indices.map(j => vecs.map(_(j)).sum)
    def norm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    val expect = vecs.map(v =>
      v.zip(sv).map { case (a, b) => a * b }.sum / (norm(v) * norm(sv)))
      .sum / vecs.size
    assert(math.abs(got - expect) < 1e-7, s"c_v was $got, expected $expect")
  }

  test("M2/M5 LDA smoke: fixed seed, k topics, finite weights, top-5 terms") {
    val (feats, cv) = Lda.prepare(spark, dir)
    val model = Lda.train(feats, k = 3, maxIter = 5)
    val topics = Lda.describe(spark, model, cv.vocabulary, topN = 5).collect()
    assert(topics.map(_.getAs[Int]("topic")).distinct.sorted.toSeq == Seq(0, 1, 2))
    assert(topics.length == 15) // 3 topics x 5 ranked terms
    topics.foreach { r =>
      assert(!r.getAs[Double]("weight").isNaN)
      assert(cv.vocabulary.contains(r.getAs[String]("term")))
    }
  }

  test("describe and m_lda_topics' sort run no job after train, with the posexplode form's rows") {
    val (feats, cv) = Lda.prepare(spark, dir)
    val model = Lda.train(feats, k = 5, maxIter = 5)
    val vocabCol = typedlit(cv.vocabulary.toSeq)
    val exploded = model.describeTopics(5)
      .select(col("topic"), posexplode(col("termIndices")).as(Seq("rank", "term_idx")),
        col("termWeights"))
      .select(col("topic"), (col("rank") + 1).as("rank"),
        element_at(vocabCol, col("term_idx") + 1).as("term"),
        round(element_at(col("termWeights"), col("rank") + 1), 6).as("weight"))
      .orderBy(col("topic"), col("rank"))
    var got: Array[org.apache.spark.sql.Row] = null
    val jobs = JobCount.of(spark) {
      val sorted = Lda.describe(spark, model, cv.vocabulary).orderBy(col("topic"), col("rank"))
      assert(sorted.schema == exploded.schema)
      assert(sorted.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      got = sorted.collect()
    }
    assert(jobs == 0)
    assert(got.toSeq == exploded.collect().toSeq)
  }

  test("m_lda_sweep scores each k once: the LDA.fit-era log_likelihood and log_perplexity, bit for bit") {
    val got = Lda.m_lda_sweep(spark, dir).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Double]("log_likelihood"), r.getAs[Double]("log_perplexity")))
      .toSeq
    // the values the sweep returned when it fitted with LDA.fit and called
    // logLikelihood and logPerplexity per k (sf0.001)
    val pinned = Seq(
      (2, -96226.36197812499, 3.44415913161262),
      (3, -96941.54449381435, 3.4697571313867477),
      (4, -97452.21151803146, 3.4880350591657345),
      (5, -97769.03475889732, 3.4993748795195723),
      (6, -97811.89003998452, 3.5009087669560297))
    assert(got == pinned)
    // and the same through MLlib's own fit and scoring calls
    val (feats, _) = Lda.prepare(spark, dir)
    val mllib = (2 to 6).map { k =>
      val m = new org.apache.spark.ml.clustering.LDA().setK(k).setMaxIter(Lda.MaxIter / 2)
        .setSeed(Lda.Seed).setFeaturesCol("features").fit(feats)
      (k, m.logLikelihood(feats), m.logPerplexity(feats))
    }
    assert(got == mllib)
  }

  test("M7 doc-topic distributions: one row per doc, valid simplex, deterministic") {
    val rows = Lda.m_lda_doc_topics(spark, dir).collect()
    val nDocs = graft.Tables.documents(spark, dir).count()
    assert(rows.length == nDocs, "one distribution per document")
    rows.foreach { r =>
      val top = r.getAs[Int]("top_topic")
      assert(top >= 0 && top < 5, s"argmax topic in [0,5): $top")
      val w = r.getAs[Double]("top_weight")
      assert(w >= 1.0 / 5 - 1e-6 && w <= 1.0, s"argmax weight ≥ uniform: $w")
      val distJson = r.getAs[String]("dist")
      assert(distJson.startsWith("[") && distJson.endsWith("]"), s"dist is a JSON array digest: $distJson")
      val dist = distJson.stripPrefix("[").stripSuffix("]").split(",").map(_.toDouble).toSeq
      assert(dist.length == 5)
      assert(math.abs(dist.sum - 1.0) < 1e-3, s"simplex sums to 1: ${dist.sum}")
      val h = r.getAs[Double]("entropy")
      assert(h >= -1e-9 && h <= math.log(5.0) + 1e-6, s"entropy in [0, ln k]: $h")
    }
    // M6: fixed seed ⟹ re-running the fit reproduces the distributions
    val again = Lda.m_lda_doc_topics(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "seeded doc-topic transform is deterministic")
  }

  test("M7 relevance ranking: k×topN rows, sane probabilities, proportions sum to 1") {
    val rows = Lda.m_lda_relevance(spark, dir).collect()
    assert(rows.length == 25, "5 topics × 5 relevance-ranked terms")
    val byTopic = rows.groupBy(_.getAs[Int]("topic"))
    assert(byTopic.keySet == (0 until 5).toSet)
    byTopic.values.foreach { trs =>
      val rel = trs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("relevance"))
      assert(rel.zip(rel.tail).forall { case (a, b) => a >= b },
        "relevance non-increasing within topic")
      trs.foreach { r =>
        val p = r.getAs[Double]("p_wt")
        assert(p > 0 && p <= 1, s"p(w|t) in (0,1]: $p")
      }
    }
    val props = rows.map(r =>
      r.getAs[Int]("topic") -> r.getAs[Double]("topic_prop")).toMap
    assert(math.abs(props.values.sum - 1.0) < 1e-3,
      s"topic proportions sum to 1: ${props.values.sum}")
  }

  test("S4 run log: one JSON line per completed query") {
    val path = java.nio.file.Files.createTempDirectory("graft-log")
      .resolve("run.jsonl").toString
    val l = graft.sink.RunLog.attach(spark, path)
    try {
      graft.Tables.documents(spark, dir).limit(3).collect()
      // listener fires asynchronously on the listener bus
      val deadline = System.nanoTime() + 10e9.toLong
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) &&
        System.nanoTime() < deadline) Thread.sleep(100)
      val lines = scala.io.Source.fromFile(path).getLines().toList
      assert(lines.nonEmpty)
      assert(lines.forall(_.contains("\"status\":\"ok\"")))
      // the CollectLimit root keeps no row metric: its limit applied to
      // the scan's count
      assert(lines.head.contains("\"rows_hint\":3,"), lines.head)
    } finally spark.listenerManager.unregister(l)
  }

  test("DotProductD: codegen'd native dot product matches reference math") {
    import spark.implicits._
    // literal-only frames constant-fold to LocalTableScan, so check values
    // there but plan shape over a real parquet scan
    val vals = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0)),
      (Seq(1.5), Seq(-2.0)))
      .toDF("a", "b")
      .select(VecFunctions.dot_d(col("a"), col("b")).as("d"))
    assert(vals.collect().map(_.getDouble(0)).toSeq == Seq(32.0, 0.0, -3.0))

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("e"))
      .filter(VecFunctions.dot_d(col("e"), col("e")) > 0)
      .select(VecFunctions.dot_d(col("e"), col("e")).as("sq"))
    assert(emb.count() > 0)
    val plan = emb.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expected codegen in plan:\n$plan")
  }
}
