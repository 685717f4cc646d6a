package graft.ml

import graft.text.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star connected components on hand-built graphs where
  * convergence takes multiple rounds (chains) — the oracle-gated q55 runs
  * on shallow real components only. */
class ComponentsSpec extends AnyFunSuite {
  import ComponentsSpec._
  lazy val spark: SparkSession = SparkTestSession.spark

  /** A nullable (doc_a LONG, doc_b LONG) frame over `parts` partitions. */
  private def frame(rows: Seq[Pair], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (a, b) =>
      Row(a.map(Long.box).orNull, b.map(Long.box).orNull) }, parts),
      StructType.fromDDL("doc_a LONG, doc_b LONG"))

  private def labelMap(labels: DataFrame): Map[Long, (Long, Boolean)] = {
    val rows = labels.collect()
    val m = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(m.size == rows.length, "one label row per node")
    m
  }

  private val propertyInputs: Seq[(String, Seq[Pair])] =
    (1 to 8).map(s => s"seed $s" -> randomGraph(s)) ++
      Seq("empty" -> Seq.empty[Pair], "adaptive" -> adaptiveGraph)

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, (Long, Boolean)] = {
    import spark.implicits._
    labelMap(Similarity.components(pairs.toDF("doc_a", "doc_b")))
  }

  test("q92 IVF list cap: skewed list sub-samples deterministically, healthy list untouched") {
    import spark.implicits._
    // one pathological list (0) with 40 members, one healthy list (1)
    // with 5 — cap 10 must leave list 1 complete and bound list 0's
    // expansion to C(10,2), picking the md5-hash-order prefix
    val assigned = ((1L to 40L).map(v => (v, 0)) ++
      (100L to 104L).map(v => (v, 1))).toDF("vec_id", "list_id")
    val pairs = Similarity.cappedListPairs(assigned, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(v: Long) = md5.digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expectedSample = (1L to 40L).sortBy(v => (h(v), v)).take(10).toSet
    val fromSkewed = pairs.filter(_._1 < 100L)
    assert(fromSkewed.size == 10 * 9 / 2, "capped list expands to C(cap,2)")
    assert(fromSkewed.flatMap(p => Set(p._1, p._2)) == expectedSample,
      "sample is the deterministic md5-order prefix")
    val fromHealthy = pairs.filter(_._1 >= 100L)
    assert(fromHealthy.size == 5 * 4 / 2, "under-cap list keeps every pair")
    // no cross-list pairs ever
    assert(pairs.forall(p => (p._1 < 100L) == (p._2 < 100L)))
  }

  test("componentsAdaptive: local union-find labels equal the distributed fixpoint, both sides of the threshold") {
    import spark.implicits._
    // deterministic pseudo-random graph: chains, triangles, singles-via-
    // self-filtering, duplicate + reversed edges, two long chains
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map(_ => (rnd.nextInt(120).toLong + 1, rnd.nextInt(120).toLong + 1)) ++
      (200L until 280L).map(i => (i + 1, i)) ++ // 80-chain, high-to-low
      Seq((500L, 400L), (400L, 300L), (300L, 500L)) // triangle w/ cycle
    val df = edges.toDF("doc_a", "doc_b")
    val local = labelMap(Similarity.componentsAdaptive(df)) // n≪2^20 → local
    val forcedDistributed = labelMap(Similarity.componentsAdaptive(df, maxLocalEdges = 0))
    val pure = labelMap(Similarity.components(df))
    assert(local == pure, "local union-find must be bit-identical to the fixpoint")
    assert(forcedDistributed == pure, "over-threshold path is the fixpoint itself")
  }

  test("q114 hard negatives: top-5 per anchor, never self, never the anchor's dedup component") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = Similarity.q114_hard_negatives(spark, dir).collect()
    val stageGrp = Similarity.dedupStage(spark, dir)
      .select(col("doc_id"), col("grp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byAnchor = got.groupBy(_.getLong(0))
    assert(byAnchor.nonEmpty)
    byAnchor.foreach { case (a, rows) =>
      assert(a % 50 == 0, "anchors are the deterministic panel")
      val ranks = rows.map(_.getInt(2)).sorted.toSeq
      assert(ranks == (1 to rows.length), s"anchor $a ranks consecutive from 1")
      assert(rows.length <= 5)
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y },
        s"anchor $a sims non-increasing")
      rows.foreach { r =>
        val nb = r.getLong(1)
        assert(nb != a, "never self")
        assert(stageGrp(nb) != stageGrp(a),
          s"anchor $a: neighbor $nb shares its dedup component — a false negative")
      }
    }
  }

  test("q115 training manifest: shares sum to 1, packing bounded by bucket waste") {
    val rows = Similarity.q115_training_manifest(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val share = rows.map(_.getDouble(5)).sum
    assert(math.abs(share - 1.0) < 1e-4, s"token shares sum to 1, got $share")
    rows.foreach { r =>
      val (tokens, seqs) = (r.getLong(3), r.getLong(4))
      val dense = (tokens + 63) / 64
      assert(seqs >= dense, s"${r.getString(0)}/${r.getString(1)}: " +
        "can't pack below the dense bound")
      assert(seqs <= dense + 32, "per-bucket waste is at most one sequence per bucket")
    }
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("80-node chain converges in O(log) rounds, not O(diameter)") {
    import spark.implicits._
    // the adversarial shape for min-label propagation: diameter 79, which
    // would have exceeded the old 50-round cap and silently mislabeled
    val chain = (1L until 80L).map(i => (i + 1, i))
    val (labels, rounds) = Similarity.componentsWithRounds(
      chain.toDF("doc_a", "doc_b"))
    val got = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 80L).toSet)
    assert(got.values.toSet == Set(1L), "whole chain labeled by its minimum")
    assert(rounds <= 10, s"star-contraction must be logarithmic, took $rounds")
    assert(rounds == ParentRounds("chain 80"))
  }

  test("equivalence property: components and componentsAdaptive (local and " +
    "forced distributed) label by a driver union-find's min-id roots on " +
    "seeded graphs, the empty input and the componentsAdaptive graph; " +
    "rounds equal the SQL loop's") {
    propertyInputs.foreach { case (name, rows) =>
      val want = unionFind(rows)
      val df = frame(rows)
      val (labels, rounds) = Similarity.componentsWithRounds(df)
      assert(labels.schema == StructType.fromDDL(
        "doc_id LONG, component LONG, is_canonical BOOLEAN"), name)
      assert(labelMap(labels) == want, name)
      assert(rounds == ParentRounds(name), name)
      assert(labelMap(Similarity.componentsAdaptive(df, maxLocalEdges = 0)) == want,
        s"$name: componentsAdaptive forced distributed")
      assert(labelMap(Similarity.componentsAdaptive(df)) == want,
        s"$name: componentsAdaptive local")
    }
    assert(unionFind(propertyInputs.head._2).size > 500, "the seeded graphs are not trivial")
  }

  test("one call runs one job per round plus at most three, and leaves only " +
    "the labels' pinned RDD persisted") {
    val sc = spark.sparkContext
    for ((name, rows) <- propertyInputs.take(2) :+ propertyInputs.find(_._1 == "empty").get) {
      val df = frame(rows)
      val before = sc.getPersistentRDDs.keySet
      var out: (DataFrame, Int) = null
      val jobs = JobCount.of(spark) { out = Similarity.componentsWithRounds(df) }
      val (labels, rounds) = out
      assert(jobs <= rounds + 3, s"$name: $jobs jobs for $rounds rounds")
      val pinned = Set(graft.Pins.rddOf(labels).id)
      assert(pinned.size == 1, name)
      assert(sc.getPersistentRDDs.keySet -- before == pinned,
        s"$name: the loop left RDDs persisted")
      pinned.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    }
  }

  test("robustness: 1 and 7 input partitions give identical labels and " +
    "rounds; non-integral pair columns fail naming the column") {
    import spark.implicits._
    for (seed <- Seq(1, 2)) {
      val rows = randomGraph(seed)
      val (l1, r1) = Similarity.componentsWithRounds(frame(rows, 1))
      val (l7, r7) = Similarity.componentsWithRounds(frame(rows, 7))
      assert(labelMap(l1) == labelMap(l7) && r1 == r7, s"seed $seed")
    }
    // integral columns narrower than LONG are widened, not rejected
    val ints = Seq((3, 2), (2, 1)).toDF("doc_a", "doc_b")
    assert(labelMap(Similarity.components(ints)) ==
      Map(1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false)))
    val bad = Seq(
      "doc_a" -> Seq((1.5, 2L)).toDF("doc_a", "doc_b"),
      "doc_b" -> Seq((1L, "2")).toDF("doc_a", "doc_b"))
    for ((column, df) <- bad) {
      val e = intercept[IllegalArgumentException](Similarity.components(df))
      assert(e.getMessage.contains(column), e.getMessage)
      val a = intercept[IllegalArgumentException](Similarity.componentsAdaptive(df))
      assert(a.getMessage.contains(column), a.getMessage)
    }
  }

  test("chain graph converges to one component labeled by its minimum") {
    // 9-7-5-3-1 chain written high-to-low so the min label must walk the
    // full diameter (worst case for propagation rounds)
    val got = comps(Seq((9L, 7L), (7L, 5L), (5L, 3L), (3L, 1L)))
    assert(got.keySet == Set(1L, 3L, 5L, 7L, 9L))
    assert(got.values.map(_._1).toSet == Set(1L), "single component labeled 1")
    assert(got(1L)._2 && !got(9L)._2, "only the minimum is canonical")
  }

  test("q73 union keep-list: every signal pair lands in one component") {
    val dir = "/root/testdata/sf0.001"
    val labels = Similarity.q73_dedup_union(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val signalPairs =
      Similarity.q33_ngram_jaccard(spark, dir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Similarity.m_dedup_simhash(spark, dir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))) ++
      Similarity.minhashBandPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(signalPairs.nonEmpty, "fixture produces near-dup signals")
    signalPairs.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b),
        s"pair ($a,$b) endpoints labeled")
      assert(labels(a) == labels(b), s"pair ($a,$b) clustered together")
      assert(labels(a) <= a && labels(a) <= b, "label is a component minimum")
    }
    assert(labels.keySet == signalPairs.flatMap(p => Seq(p._1, p._2)).toSet,
      "keep-list covers exactly the docs touched by some signal")
  }

  test("prefix-filtered Jaccard is a superset of the capped q33 pairs") {
    val dir = "/root/testdata/sf0.001"
    val capped = Similarity.q33_ngram_jaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lossless = Similarity.q79_jaccard_prefix(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lossless.nonEmpty)
    assert(capped.subsetOf(lossless),
      s"the stop-shingle cap may only LOSE pairs: ${capped.diff(lossless)}")
  }

  test("disjoint components keep separate labels; triangles and pairs") {
    val got = comps(Seq(
      (10L, 20L), (20L, 30L), (10L, 30L), // triangle -> 10
      (40L, 50L),                         // pair -> 40
      (60L, 61L), (61L, 62L)))            // path -> 60
    assert(got(10L)._1 == 10L && got(20L)._1 == 10L && got(30L)._1 == 10L)
    assert(got(40L)._1 == 40L && got(50L)._1 == 40L)
    assert(got(60L)._1 == 60L && got(61L)._1 == 60L && got(62L)._1 == 60L)
    assert(got.count(_._2._2) == 3, "one canonical per component")
  }

  test("q100 split partitions the corpus; components never straddle splits") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.q100_component_split(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // all three splits materialize, docs partition exactly, flag is true
    assert(rows.keySet == Set("train", "val", "test"))
    val nDocs = graft.Tables.documents(spark, dir).count()
    assert(rows.values.map(_._1).sum == nDocs, "every doc in exactly one split")
    assert(rows.values.forall(_._3), "leak_free must hold")
    // doc counts can skew arbitrarily (sf0.001 has a ~390-doc near-dup
    // component that lands whole in one split — exactly the leakage-proof
    // behavior the operator exists for), but GROUP counts follow 80/10/10
    assert(rows("train")._2 > rows("val")._2 && rows("train")._2 > rows("test")._2,
      "80/10/10 hash split assigns train the most groups")
    // the REAL leakage probe, independent of the query's own flag: every
    // near-dup pair of the union graph lands in one split
    val labels = Similarity.q73_dedup_union(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val comp = labels.toMap
    def splitOf(grp: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(grp.toString.getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        h.take(2).map("%02x".format(_)).mkString, 16) % 100
      if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
    }
    val byComp = labels.groupBy(_._2)
    assert(byComp.nonEmpty)
    byComp.foreach { case (c, members) =>
      val splits = members.map(m => splitOf(comp(m._1))).distinct
      assert(splits.size == 1, s"component $c straddles splits $splits")
    }
  }

  test("q229 naive-split leakage: brute replay off the stage; the naive " +
    "doc-hash split actually leaks where groups are multi-doc") {
    val dir = "/root/testdata/sf0.001"
    val row = Similarity.q229_naive_split_leakage(spark, dir).collect().head
    val (nG, nD, nLeaky, docsLeaky, maxSpan, permille, leakFree) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5), row.getBoolean(6))
    // groups come from the operator's actual input (the materialized
    // stage — whose closure parity q73/q100 specs and the q229 oracle's
    // fresh recursive closure already gate); this spec pins the LEAKAGE
    // arithmetic and the naive-split hash on top of it
    val stageRows = Similarity.dedupStage(spark, dir)
      .select("doc_id", "grp").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def sm64(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def naiveSplit(id: Long): String = {
      val b = ((sm64(id) % 100) + 100) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val groups = stageRows.groupBy(_._2).map {
      case (g, v) => g -> v.map(_._1)
    }
    assert(nG == groups.size.toLong && nD == stageRows.length.toLong)
    // toSeq first: mapping a Map to (size, span) tuples would re-key by
    // size and silently dedupe same-shaped groups (the SKILL.md gotcha)
    val spans = groups.toSeq.map { case (_, members) =>
      (members.length.toLong, members.map(naiveSplit).distinct.length.toLong)
    }
    assert(nLeaky == spans.count(_._2 >= 2).toLong)
    assert(docsLeaky == spans.filter(_._2 >= 2).map(_._1).sum)
    assert(maxSpan == spans.map(_._2).max)
    assert(permille == 1000L * docsLeaky / nD)
    assert(leakFree == (nLeaky == 0L))
    // the operator's raison d'etre: the naive split DOES leak here
    // (sf0.001 has a ~390-doc near-dup component; its members hash
    // independently across splits)
    assert(!leakFree && nLeaky > 0,
      "expected the doc-hash split to leak on multi-doc groups")
  }

  test("q108 MMR: first pick is the relevance top-1, later picks diversify") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val picks = Similarity.q108_mmr_rerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQuery = picks.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byQuery.nonEmpty && byQuery.values.forall(_.length == 5))
    assert(byQuery.values.forall(p => p.distinct.length == 5),
      "picks must be 5 distinct docs")
    // pure-relevance truth via the exact brute ranking
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val dotE = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    val rel = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cid"),
        (dotE("qemb", "emb") / (sqrt(dotE("qemb", "qemb")) * sqrt(dotE("emb", "emb"))))
          .as("rel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rel").desc, col("cid"))
    val top = rel.withColumn("rk", row_number().over(w)).filter(col("rk") <= 20)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    byQuery.foreach { case (qid, p) =>
      assert(p.head == top(qid).head, s"query $qid: first pick must be top-1")
      assert(p.toSet.subsetOf(top(qid).toSet),
        s"query $qid: picks must come from the top-20 candidates")
    }
    // the diversity penalty must actually bite somewhere on this corpus
    assert(byQuery.exists { case (qid, p) => p.toSet != top(qid).take(5).toSet },
      "MMR must diverge from pure top-5 for at least one query")
  }

  test("dedup stage materializes once; audits derive from the stage scan") {
    val dir = "/root/testdata/sf0.001"
    val stageDir = new java.io.File(Similarity.dedupStageDir(spark, dir))
    org.apache.commons.io.FileUtils.deleteQuietly(stageDir) // isolate
    // first derived query pays fixpoint + write; its PLAN is a stage scan
    val audit = Similarity.q73b_dedup_survivorship(spark, dir)
    val plan = audit.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dedup_stage"),
      s"q73b must scan the materialized stage, not re-run the fixpoint:\n$plan")
    assert(new java.io.File(stageDir, "_SUCCESS").exists(), "stage persisted")
    val auditRows = audit.collect()
    // subsequent consumers REUSE the stage: no file under it changes
    def state(): Map[String, Long] = {
      val base = stageDir.toPath
      val buf = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(base).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          buf(base.relativize(p).toString) =
            java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      buf.toMap
    }
    val before = state()
    val split = Similarity.q100_component_split(spark, dir).collect()
    val report = Similarity.q101_curation_report(spark, dir).collect()
    assert(state() == before, "q100/q101 must not rewrite the stage")
    // cross-consistency: the three derived tables agree with each other
    // and with the self-contained fixpoint output
    val labels = Similarity.q73_dedup_union(spark, dir)
    assert(auditRows.map(_.getLong(2)).sum == labels.count(),
      "total flagged == docs the fixpoint touched")
    assert(auditRows.map(_.getLong(1)).sum == split.map(_.getLong(1)).sum,
      "audit and split account for the same corpus")
    assert(report.map(_.getLong(2)).sum == auditRows.map(_.getLong(1)).sum,
      "report cells partition the corpus")
    assert(report.map(_.getLong(3)).sum ==
      auditRows.map(r => r.getLong(1) - r.getLong(3)).sum,
      "report kept == audit kept, summed")
    // split is the stage's partition column → a split predicate prunes
    val pruned = Similarity.dedupStage(spark, dir)
      .filter(org.apache.spark.sql.functions.col("split") === "train")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("split"),
      s"expected partition pruning on the stage scan:\n$prunedPlan")
  }

  test("dedup stage key is a content fingerprint: in-place corpus mutation recomputes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-stage-fp").toString
    def writeCorpus(docs: Seq[(Long, String, String)]): Unit =
      docs.toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val dupText = "the quick brown fox jumps over the lazy dog tonight"
    writeCorpus(Seq(
      (1L, dupText, "web"), (2L, dupText, "web"),
      (3L, "completely different words about spark query planning", "web"),
      (4L, "yet another unrelated document mentioning parquet files", "wiki")))
    val key1 = Similarity.dedupStageDir(spark, dir)
    val s1 = Similarity.dedupStage(spark, dir).collect()
    assert(s1.length == 4, "stage covers the v1 corpus")
    assert(s1.count(_.getAs[Boolean]("flagged")) == 2, "the twin pair is flagged")
    // stable corpus, same session → same key, stage served from disk
    assert(Similarity.dedupStageDir(spark, dir) == key1, "key stable while corpus is")
    // MUTATE IN PLACE (what a CDC merge does to a lake): add a third twin
    // and a fresh doc — the round-12 path-md5 key would serve the stale
    // 4-row stage here; the content fingerprint must recompute
    writeCorpus(Seq(
      (1L, dupText, "web"), (2L, dupText, "web"), (5L, dupText, "web"),
      (3L, "completely different words about spark query planning", "web"),
      (4L, "yet another unrelated document mentioning parquet files", "wiki")))
    val key2 = Similarity.dedupStageDir(spark, dir)
    assert(key2 != key1, "fingerprint must change when corpus files change")
    val s2 = Similarity.dedupStage(spark, dir).collect()
    assert(s2.length == 5, "stage recomputed over the mutated corpus")
    assert(s2.count(_.getAs[Boolean]("flagged")) == 3, "new twin joins the cluster")
    assert(s2.count(r => r.getAs[Boolean]("flagged")
      && !r.getAs[Boolean]("is_canonical")) == 2, "two of three twins drop")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(key1))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(key2))
  }

  test("dedup stages are deleted when their application ends; another application's stay") {
    import spark.implicits._
    import org.apache.commons.io.FileUtils.deleteQuietly
    val dupText = "the quick brown fox jumps over the lazy dog tonight"
    val dirs = Seq("web", "wiki").map { src =>
      val dir = java.nio.file.Files.createTempDirectory("graft-stage-end").toString
      Seq((1L, dupText, src), (2L, dupText, src),
        (3L, s"an unrelated document from $src about parquet files", src))
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      dir
    }
    val stages = dirs.map { dir =>
      Similarity.dedupStage(spark, dir).collect()
      new java.io.File(Similarity.dedupStageDir(spark, dir))
    }
    assert(stages.distinct.size == 2 && stages.forall(_.isDirectory), "two stages written")
    val other = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_dedup_stage_local-0000000000000_dedup_0")
    assert(other.mkdirs() && new java.io.File(other, "_SUCCESS").createNewFile())
    try {
      val cleanup = Similarity.stageCleanup(spark)
      assert(Similarity.stageCleanup(spark) eq cleanup, "one cleanup per application")
      cleanup.onApplicationEnd(
        org.apache.spark.scheduler.SparkListenerApplicationEnd(System.currentTimeMillis()))
      stages.foreach(st => assert(!st.exists(), s"$st outlived its application"))
      assert(new java.io.File(other, "_SUCCESS").exists(), "another application's stage stays")
      // the session itself goes on: the next read writes the stage again
      assert(Similarity.dedupStage(spark, dirs.head).count() == 3)
    } finally {
      deleteQuietly(other)
      dirs.foreach(d => deleteQuietly(new java.io.File(d)))
    }
  }

  test("q274 capture-recapture: Chapman arithmetic replays from the " +
    "gated counts; estimator dominance invariants hold") {
    val sf = "/root/testdata/sf0.001"
    val r = Similarity.q274_capture_recapture(spark, sf).collect().head
    val (nA, nB, m, nJ, nU, est, vr, cov) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6), r.getLong(7))
    assert(m <= math.min(nA, nB), "overlap bounded by captures")
    assert(nU <= nA + nB + nJ, "union bounded by signal sum")
    assert(nU >= math.max(math.max(nA, nB), nJ), "union dominates each")
    assert(est == (nA + 1) * (nB + 1) / (m + 1) - 1, "Chapman")
    assert(BigInt(vr) == BigInt(nA + 1) * (nB + 1) * (nA - m) * (nB - m) /
      (BigInt(m + 1) * (m + 1) * (m + 2)), "Seber variance")
    assert(cov == 1000L * nU / math.max(est, 1L), "coverage")
    // Chapman dominates both captures (m <= nB makes (nB+1)/(m+1) >= 1)
    assert(est >= nA && est >= nB, "estimator dominance")
  }
}

object ComponentsSpec {
  type Pair = (Option[Long], Option[Long])

  /** A seeded pair list holding every input shape the fixpoint must
    * handle: a sparse random graph, stars, disjoint pairs, triangles,
    * chains written high-to-low (one of 2 or 200 nodes, one of random
    * length), extreme ids, duplicate and reversed edges, self-loops, and
    * rows with a null endpoint. */
  def randomGraph(seed: Int): Seq[Pair] = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var next = rnd.nextInt(2000).toLong - 1000 // negative ids too
    def fresh(n: Int): IndexedSeq[Long] = {
      val ids = (0 until n).map(next + _)
      next += n + rnd.nextInt(40)
      rnd.shuffle(ids)
    }
    def edge(a: Long, b: Long): Unit = rows += ((Some(a), Some(b)))
    val pool = fresh(150)
    (1 to 170).foreach(_ => edge(pool(rnd.nextInt(150)), pool(rnd.nextInt(150))))
    (1 to 3).foreach { _ =>
      val ids = fresh(2 + rnd.nextInt(40))
      ids.tail.foreach(l => if (rnd.nextBoolean()) edge(ids.head, l) else edge(l, ids.head))
    }
    (1 to 6).foreach { _ => val p = fresh(2); edge(p(0), p(1)) }
    (1 to 4).foreach { _ =>
      val t = fresh(3); edge(t(0), t(1)); edge(t(1), t(2)); edge(t(2), t(0))
    }
    Seq(if (seed % 2 == 0) 2 else 200, 2 + rnd.nextInt(199)).foreach { n =>
      val base = next
      next += n + 1 + rnd.nextInt(40)
      (base + n - 1 until base by -1).foreach(i => edge(i, i - 1))
    }
    edge(Long.MaxValue, Long.MinValue)
    edge(Long.MaxValue - 1, Long.MaxValue)
    (1 to 30).foreach { _ =>
      val (a, b) = rows(rnd.nextInt(rows.size))
      rows += (if (rnd.nextBoolean()) (a, b) else (b, a))
    }
    (1 to 5).foreach { _ => val x = pool(rnd.nextInt(150)); edge(x, x) }
    val lone = fresh(1).head
    edge(lone, lone) // a node only a self-loop touches gets no label
    rows += ((None, Some(pool(rnd.nextInt(150)))))
    rows += ((Some(fresh(1).head), None))
    rows += ((None, None))
    rnd.shuffle(rows.toSeq)
  }

  /** The componentsAdaptive test's pair list: random edges over 120 ids
    * (duplicates, reversed copies and self-loops among them), an 80-chain
    * written high-to-low, and a triangle. */
  def adaptiveGraph: Seq[Pair] = {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map(_ => (rnd.nextInt(120).toLong + 1, rnd.nextInt(120).toLong + 1)) ++
      (200L until 280L).map(i => (i + 1, i)) ++
      Seq((500L, 400L), (400L, 300L), (300L, 500L))
    edges.map { case (a, b) => (Some(a), Some(b)) }
  }

  /** Each node's (min-id root, is root) by a driver union-find. */
  def unionFind(rows: Seq[Pair]): Map[Long, (Long, Boolean)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((Some(a), Some(b)) <- rows if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map { x => val r = find(x); x -> (r, x == r) }.toMap
  }

  /** Rounds the SQL star-contraction loop took on each input before the
    * loop moved onto RDDs; the RDD loop must take exactly as many. */
  val ParentRounds: Map[String, Int] = Map(
    "seed 1" -> 9, "seed 2" -> 9, "seed 3" -> 9, "seed 4" -> 6,
    "seed 5" -> 9, "seed 6" -> 8, "seed 7" -> 9, "seed 8" -> 6,
    "empty" -> 1, "adaptive" -> 8, "chain 80" -> 8)
}
