package graft.ml

import scala.jdk.CollectionConverters._

import graft.Pins
import graft.text.SparkTestSession
import org.apache.spark.SparkException
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.scalatest.funsuite.AnyFunSuite

/** `Lda.fitOnline` is MLlib's online variational Bayes run as one Spark
  * job per iteration. It must return what `LDA.fit` returns, to 1e-12
  * relative (bit equality is expected: the same E-step code, the same
  * seeds and the same merge order), run exactly one job per iteration,
  * and reject what `LDA.fit` rejects. */
class LdaOnlineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val Vocab = (0 until 40).map(i => s"w$i").toArray

  /** Seeded corpus of `n` documents over 40 terms in four loose themes,
    * plus one document with no in-vocabulary term (an all-zero vector),
    * laid out in `parts` partitions and pinned like the benchmark's
    * features (hash-partitioned, localCheckpoint). */
  private def corpus(n: Int, parts: Int, seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val docs = (0 until n).map { d =>
      val theme = d % 4
      val len = 3 + rnd.nextInt(25)
      val toks = Seq.fill(len) {
        if (rnd.nextDouble() < 0.7) Vocab(theme * 10 + rnd.nextInt(10))
        else Vocab(rnd.nextInt(Vocab.length))
      }
      (d.toLong, toks)
    } :+ ((n.toLong, Seq("oov", "words", "only")))
    val feats = new CountVectorizerModel(Vocab).setInputCol("tokens")
      .setOutputCol("features")
      .transform(docs.toDF("doc_id", "tokens"))
      .select(col("doc_id"), col("features"))
    val laid = if (parts == 1) feats.coalesce(1) else feats.repartition(parts, col("doc_id"))
    laid.sortWithinPartitions(col("doc_id")).localCheckpoint()
  }

  private def lda(k: Int, maxIter: Int): LDA =
    new LDA().setK(k).setMaxIter(maxIter).setSeed(Lda.Seed).setFeaturesCol("features")

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def assertSameModel(ours: LDAModel, ref: LDAModel, df: DataFrame, what: String): Unit = {
    assert(ours.getClass == ref.getClass, what)
    assert(ours.vocabSize == ref.vocabSize, what)
    val (a, b) = (ours.topicsMatrix.toArray, ref.topicsMatrix.toArray)
    assert(a.length == b.length, what)
    a.indices.foreach(i => assert(close(a(i), b(i)), s"$what topicsMatrix($i): ${a(i)} vs ${b(i)}"))
    val (x, y) = (ours.estimatedDocConcentration.toArray, ref.estimatedDocConcentration.toArray)
    assert(x.length == y.length, what)
    x.indices.foreach(i => assert(close(x(i), y(i)), s"$what alpha($i): ${x(i)} vs ${y(i)}"))
    val (ta, tb) = (ours.describeTopics(5).collect(), ref.describeTopics(5).collect())
    assert(ta.map(r => (r.getInt(0), r.getSeq[Int](1))).toSeq ==
      tb.map(r => (r.getInt(0), r.getSeq[Int](1))).toSeq, s"$what describeTopics")
    ta.zip(tb).foreach { case (r, s) =>
      r.getSeq[Double](2).zip(s.getSeq[Double](2)).foreach { case (u, v) =>
        assert(close(u, v), s"$what termWeight $u vs $v")
      }
    }
    val (la, lb) = (ours.logLikelihood(df), ref.logLikelihood(df))
    assert(close(la, lb), s"$what logLikelihood $la vs $lb")
    def dists(m: LDAModel) = m.transform(df).orderBy(col("doc_id"))
      .select("topicDistribution").collect().map(_.getAs[Vector](0).toArray)
    dists(ours).zip(dists(ref)).foreach { case (u, v) =>
      u.zip(v).foreach { case (p, q) => assert(close(p, q), s"$what topicDistribution $p vs $q") }
    }
  }

  test("same model as LDA.fit for k = 2..6 at 1 and 3 partitions") {
    for (parts <- Seq(1, 3)) {
      val df = corpus(160, parts)
      assert(df.rdd.getNumPartitions == parts)
      for (k <- 2 to 6) {
        val ours = Lda.fitOnline(lda(k, 5), df)
        val ref = lda(k, 5).fit(df)
        assertSameModel(ours, ref, df, s"k=$k parts=$parts")
      }
    }
  }

  test("same model as LDA.fit on a cached input (no re-persist) and with doc concentration learning off") {
    val df = corpus(160, 3).cache()
    try {
      df.count() // materialize the cache, whose blocks are not the fit's
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ours = Lda.fitOnline(lda(4, 5), df)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, "nothing left persisted")
      assertSameModel(ours, lda(4, 5).fit(df), df, "cached")
      val fixedAlpha = () => lda(3, 5).setOptimizeDocConcentration(false)
        .setDocConcentration(Array(0.3, 0.2, 0.5)).setTopicConcentration(0.2)
        .setSubsamplingRate(0.3)
      assertSameModel(Lda.fitOnline(fixedAlpha(), df), fixedAlpha().fit(df), df, "fixed alpha")
    } finally df.unpersist(blocking = true)
  }

  test("tiny corpus: iterations that sample nothing or only empty documents match LDA.fit") {
    import spark.implicits._
    // 6 documents at the default 5 % sample: most iterations sample nothing;
    // four of the six documents are all-zero, so some samples are non-empty
    // but hold no term
    val docs = Seq((0L, Seq("w1", "w2", "w2")), (1L, Seq("w3", "w30")),
      (2L, Seq("x")), (3L, Seq("y")), (4L, Seq("z")), (5L, Seq.empty[String]))
    val df = new CountVectorizerModel(Vocab).setInputCol("tokens").setOutputCol("features")
      .transform(docs.toDF("doc_id", "tokens")).repartition(3, col("doc_id")).localCheckpoint()
    for (parts <- Seq(df, df.coalesce(1).localCheckpoint())) {
      val ours = Lda.fitOnline(lda(3, 40), parts)
      assertSameModel(ours, lda(3, 40).fit(parts), parts, "tiny")
      // at least one iteration updated the random initial topics
      val init = Lda.fitOnline(lda(3, 0), parts).topicsMatrix.toArray
      assert(!ours.topicsMatrix.toArray.sameElements(init))
    }
  }

  test("model carries the estimator's uid, parent and params") {
    val df = corpus(40, 3)
    val est = lda(3, 2).setTopicDistributionCol("td")
    val ours = Lda.fitOnline(est, df)
    val ref = est.fit(df)
    assert(ours.isInstanceOf[org.apache.spark.ml.clustering.LocalLDAModel])
    assert(ours.uid == est.uid && ours.parent == est)
    assert(ours.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap ==
      ref.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap)
    ours.params.foreach(p => assert(ours.isSet(p) == ref.isSet(ref.getParam(p.name)), p.name))
    assert(ours.transform(df).columns.contains("td"))
  }

  test("one Spark job per iteration with size metadata, one more without") {
    val df = corpus(160, 3)
    assert(org.apache.spark.ml.attribute.AttributeGroup
      .fromStructField(df.schema("features")).size == Vocab.length)
    for (iters <- Seq(1, 5)) {
      assert(JobCount.of(spark)(Lda.train(df, k = 4, maxIter = iters)) == iters)
    }
    val bare = df.select(col("doc_id"), col("features").as("features", Metadata.empty))
    assert(org.apache.spark.ml.attribute.AttributeGroup.fromStructField(bare.schema("features")).size == -1)
    assert(JobCount.of(spark)(Lda.train(bare, k = 4, maxIter = 5)) == 6)
    assertSameModel(Lda.train(bare, k = 4, maxIter = 5), lda(4, 5).fit(df), df, "no metadata")
  }

  test("bad input fails loudly, as LDA.fit does") {
    import spark.implicits._
    val df = corpus(40, 3)
    // param validators, and transformSchema's checks of a set alpha
    intercept[IllegalArgumentException](Lda.train(df, k = 1))
    for (alpha <- Seq(Array(0.5, 0.5), Array(-0.5))) {
      intercept[IllegalArgumentException](Lda.fitOnline(lda(3, 2).setDocConcentration(alpha), df))
      intercept[IllegalArgumentException](lda(3, 2).setDocConcentration(alpha).fit(df))
    }
    // transformSchema: features must be a vector column
    val strings = Seq((0L, "a b")).toDF("doc_id", "features")
    intercept[IllegalArgumentException](Lda.train(strings, k = 2))
    intercept[IllegalArgumentException](lda(2, 5).fit(strings))
    // DatasetUtils.checkNonNanVectors
    val nan = Seq((0L, Vectors.dense(1.0, 2.0)), (1L, Vectors.dense(Double.NaN, 1.0)))
      .toDF("doc_id", "features").coalesce(1)
    val e1 = intercept[Exception](Lda.train(nan, k = 2, maxIter = 2))
    val e2 = intercept[Exception](lda(2, 2).fit(nan))
    assert(e1.getMessage.contains("NaN") && e2.getMessage.contains("NaN"), e1.getMessage)
    // empty frames: with size metadata, without, and at maxIter 0
    val empty = df.filter(lit(false))
    for (frame <- Seq(empty, empty.select(col("features").as("features", Metadata.empty)));
         iters <- Seq(0, 5)) {
      val e = intercept[IllegalArgumentException](Lda.train(frame, k = 2, maxIter = iters))
      assert(e.getMessage.contains("'features'") && e.getMessage.contains("no rows"), e.getMessage)
    }
    // rows whose size disagrees with the column's vocabulary size
    val ragged = Seq((0L, Vectors.dense(1.0, 2.0, 0.0)), (1L, Vectors.sparse(5, Array(4), Array(1.0))))
      .toDF("doc_id", "features").coalesce(1)
    val e3 = intercept[SparkException](Lda.train(ragged, k = 2, maxIter = 2))
    assert(e3.getMessage.contains("has size 5, expected 3"), e3.getMessage)
  }

  private def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `f`'s Spark job count, and the persisted RDDs those jobs read. */
  private def jobsReading(f: => Any): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val read = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.flatMap(_.rddInfos).filter(_.storageLevel != StorageLevel.NONE)
          .foreach(r => read.add(r.id))
    }
    sc.addSparkListener(listener)
    try {
      val n = JobCount.of(spark)(f)
      (n, read.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }

  test("same model as LDA.fit on pinned, lazy, cached and array<double>/array<float> inputs") {
    val pinned = corpus(160, 3)
    val doubles = pinned.select(col("doc_id"), vector_to_array(col("features")).as("features"))
    val floats = pinned.select(col("doc_id"),
      vector_to_array(col("features"), "float32").as("features"))
    assert(floats.schema("features").dataType.simpleString == "array<float>")
    val inputs = Seq("pinned" -> pinned, "lazy" -> pinned.select(col("features"), col("doc_id")),
      "array<double>" -> doubles, "array<float>" -> floats,
      "pinned array<double>" -> doubles.localCheckpoint(),
      "pinned array<float>" -> floats.localCheckpoint())
    for ((what, df) <- inputs) {
      val before = persistent()
      val ours = Lda.fitOnline(lda(4, 5), df)
      assert(persistent() == before, s"$what: nothing left persisted")
      assertSameModel(ours, lda(4, 5).fit(df), pinned, what)
    }
    val cached = floats.cache()
    try {
      cached.count()
      val before = persistent()
      val (jobs, read) = jobsReading(Lda.fitOnline(lda(3, 4), cached))
      assert(jobs == 1 + 4, "a take(1) for V (arrays carry no size metadata), then one per iteration")
      assert(read.subsetOf(before), "the jobs read the cache, not a new pin")
      assert(persistent() == before)
      assertSameModel(Lda.fitOnline(lda(3, 4), cached), lda(3, 4).fit(cached), pinned, "cached")
    } finally cached.unpersist(blocking = true)
  }

  test("a pinned input is read in place; any other input gets one pin, released on return") {
    val df = corpus(160, 3)
    val before = persistent()
    val (jobs, read) = jobsReading(Lda.train(df, k = 4, maxIter = 5))
    assert(jobs == 5)
    assert(read == Set(Pins.rddOf(df).id), "every job reads the input's own pinned rows")
    assert(persistent() == before)
    val (lazyJobs, lazyRead) = jobsReading(Lda.train(df.select(col("features")), k = 4, maxIter = 5))
    assert(lazyJobs == 5, "the lazy pin adds no job")
    assert((lazyRead -- before).size == 1, s"one pin of the features: $lazyRead vs $before")
    assert(persistent() == before, "and it is released")
  }

  test("bad input fails loudly on a pinned input too") {
    import spark.implicits._
    def pinned(rows: (Long, Vector)*): DataFrame =
      rows.toDF("doc_id", "features").coalesce(1).localCheckpoint()
    // (input, message, LDA.fit rejects it too: it does not check sizes)
    val cases = Seq(
      (pinned((0L, Vectors.dense(1.0, 2.0)), (1L, Vectors.dense(Double.NaN, 1.0))), "NaN", true),
      (pinned((0L, Vectors.dense(1.0, 2.0)),
        (1L, Vectors.sparse(2, Array(1), Array(Double.NegativeInfinity)))), "Infinity", true),
      (pinned((0L, Vectors.dense(1.0, 2.0)), (1L, null)), "MUST NOT be Null", true),
      (pinned((0L, Vectors.dense(1.0, 2.0, 0.0)), (1L, Vectors.sparse(5, Array(4), Array(1.0)))),
        "has size 5, expected 3", false))
    for ((df, message, mllibToo) <- cases) {
      assert(Pins.rddOf(df).getStorageLevel != StorageLevel.NONE)
      val e = intercept[SparkException](Lda.train(df, k = 2, maxIter = 2))
      assert(e.getMessage.contains(message), e.getMessage)
      if (mllibToo) intercept[Exception](lda(2, 2).fit(df))
    }
    val empty = corpus(40, 3).filter(lit(false))
    for (frame <- Seq(empty, empty.select(col("features").as("features", Metadata.empty)));
         iters <- Seq(0, 5)) {
      val e = intercept[IllegalArgumentException](Lda.train(frame.localCheckpoint(), k = 2, maxIter = iters))
      assert(e.getMessage.contains("'features'") && e.getMessage.contains("no rows"), e.getMessage)
    }
  }
}
