package graft.pipebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.Tables
import graft.ingest.Tickets
import graft.ml.{Coherence, Lda, Similarity}
import graft.sink.Json
import graft.text.{Cleanse, TextOps, Tokenize}
import org.apache.spark.PipebenchBridge
import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** One generated input: its directory, the generator's manifest (read by
  * the checks only) and the number of files the program will scan. */
final case class Input(dir: String, manifest: JsonNode, files: Int, outDir: String) {
  def count(key: String): Long = manifest.get(key).asLong()
}

/** The state of one pass: the session, the tracer, and the boundary
  * materializer every layer uses, so timed and traced passes run the
  * same plans. */
final class Pass(val spark: SparkSession, val trace: Trace, val cores: Int) {
  private var peakPinned = 0L

  /** Materialize a layer boundary exactly once: an eager local checkpoint
    * (one job that computes and pins it) and a count of the pinned rows. */
  def pin(df: DataFrame): (DataFrame, Long) = {
    val p = df.localCheckpoint()
    val n = p.count()
    sample()
    (p, n)
  }

  /** Note the bytes of blocks pinned now, for the pass's peak. */
  def sample(): Unit = peakPinned = math.max(peakPinned, PipebenchBridge.rddBlockBytes())

  /** The most bytes pinned at once since the last call. */
  def takePeakPinned(): Long = { val p = peakPinned; peakPinned = 0L; p }

  /** Drop every block this pass pinned. */
  def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

/** A workload: the timed pipeline, the untimed read-back of its outputs,
  * the invariant checks on them, and the corruptions the self-test plants
  * to prove each check fires. */
trait Workload {
  type Out
  type Seen
  def name: String
  /** Documents one pass completes (tickets count as documents). */
  def docs(in: Input): Long
  def run(p: Pass, in: Input): Out
  def seen(p: Pass, in: Input, out: Out): Seen
  /** Names of the failed checks, each with a short detail. */
  def check(in: Input, s: Seen): Seq[String]
  /** (name of the check that must fire, corruption). */
  def corruptions: Seq[(String, (Pass, Input, Out, Seen) => Seen)]
  /** Measurements of the outputs that are reported but gate nothing. */
  def info(in: Input, s: Seen): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(Topics, Dedup).map(w => w.name -> w).toMap

  private[pipebench] val mapper = new ObjectMapper()

  def failIf(cond: Boolean, check: String, detail: => String): Seq[String] =
    if (cond) Seq(s"$check: $detail") else Nil
}

/** Ingest, text and sink layers of the ticket flow. Defect (a) in the
  * benchmark notes: `Tickets.bindComments` and `Tickets.corpus` read the
  * fixed fixture directory, so both are composed here from
  * `Tickets.allComments(s, tickets, dir)` exactly as those functions do. */
object TicketLayers {
  final case class Ingested(tickets: DataFrame, flat: DataFrame, nested: DataFrame)

  def ingest(p: Pass, in: Input): Ingested = p.trace.span("ingest") {
    val s = p.spark
    val (tickets, nt) = p.pin(Tickets.reshapeTickets(
      Tickets.scanTickets(s, s"${in.dir}/tickets.json")))
    val (flat, nc) = p.pin(Tickets.allComments(s, tickets, s"${in.dir}/comments"))
    val grouped = flat
      .select(col("ticket_id"),
        struct(col("created_at"), col("comment_id"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(sort_array(collect_list(col("c"))).as("comments"))
    val (nested, nn) = p.pin(tickets.join(grouped, Seq("ticket_id"), "left_outer"))
    p.trace.note("ingest.rows_out", (nt + nc + nn).toDouble)
    p.trace.note("ingest.files", in.files.toDouble)
    Ingested(tickets, flat, nested)
  }

  /** `Tickets.corpus` over already-ingested tickets and comments. */
  def corpus(g: Ingested): DataFrame = {
    val bodies = g.flat
      .select(col("ticket_id"), struct(col("created_at"), col("body")).as("c"))
      .groupBy(col("ticket_id"))
      .agg(array_join(transform(sort_array(collect_list(col("c"))),
        x => x.getField("body")), " ").as("bodies"))
    g.tickets.select(col("ticket_id"), col("subject"))
      .join(bodies, Seq("ticket_id"), "left_outer")
      .select(col("ticket_id"),
        Cleanse.cleanse(concat_ws(" ", col("subject"), col("bodies"))).as("doc"))
  }

  /** (ticket_id, [(created_at epoch s, comment_id)]) of the bound shape. */
  def boundKeys(nested: DataFrame): Seq[(Long, Seq[(Long, Long)])] =
    nested.select(col("ticket_id"), transform(col("comments"), c =>
        struct(c.getField("created_at").cast(LongType), c.getField("comment_id"))))
      .collect().toSeq.map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getLong(1)))
      }

  val Stamp = "20240101"
  def ticketsDir(in: Input) = s"${in.outDir}/processed_tickets$Stamp"
  def corpusDir(in: Input) = s"${in.outDir}/corpus_$Stamp"

  /** The reference wrangler's two outputs, `processed_tickets` and
    * `corpus`, through the program's JSON sink. */
  def sink(p: Pass, in: Input, nested: DataFrame, corpus: DataFrame): Unit =
    p.trace.span("sink") {
      Json.writeTickets(nested, in.outDir, Stamp)
      Json.writeCorpus(corpus, in.outDir, Stamp)
      p.trace.note("sink.rows_out", (in.count("tickets") * 2).toDouble)
    }

  /** What the written JSON reads back as. */
  final case class Written(tickets: Long, comments: Long, badStatus: Long,
      badTimestamps: Long, corpusRows: Long)

  private val Iso = "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}Z$"
  private val Statuses = Seq("OPEN", "HOLD", "PENDING", "SOLVED", "CLOSED")

  /** Read the written JSON back, with the schema the sink promises. */
  def readBack(s: SparkSession, in: Input): Written = {
    val schema = StructType.fromDDL("id LONG, created_at STRING, last_updated STRING, " +
      "status STRING, comments ARRAY<STRUCT<id: LONG, created_at: STRING, body: STRING>>")
    val t = s.read.schema(schema).json(ticketsDir(in))
    val bad = (c: org.apache.spark.sql.Column) =>
      sum(when(c.isNull || !c.rlike(Iso), 1L).otherwise(0L))
    val r = t.agg(count(col("id")),
        coalesce(sum(size(col("comments")).cast(LongType)), lit(0L)),
        sum(when(col("status").isin(Statuses: _*), 0L).otherwise(1L)),
        bad(col("created_at")) + bad(col("last_updated")) +
          sum(size(filter(col("comments"), c =>
            c.getField("created_at").isNull || !c.getField("created_at").rlike(Iso)))))
      .head()
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Written(long(0), long(1), long(2), long(3), s.read.json(corpusDir(in)).count())
  }

  def checkWritten(in: Input, w: Written): Seq[String] = {
    import Workloads.failIf
    val tickets = in.count("tickets")
    val comments = in.count("comments") + tickets // + the description-seeded one
    failIf(w.tickets != tickets, "json_ticket_count",
      s"${w.tickets} read back, $tickets generated") ++
    failIf(w.comments != comments, "json_comment_count",
      s"${w.comments} read back, $comments expected") ++
    failIf(w.badStatus > 0, "status_enum", s"${w.badStatus} statuses outside the enum names") ++
    failIf(w.badTimestamps > 0, "iso_timestamp", s"${w.badTimestamps} non-ISO timestamps") ++
    failIf(w.corpusRows != tickets, "corpus_count", s"${w.corpusRows} corpus rows read back")
  }

  /** Rewrite the first record of the first non-empty part file of `dir`
    * through `edit` (None deletes it), dropping the file's checksum. */
  def editFirstRecord(dir: String)(edit: ObjectNode => Option[ObjectNode]): Unit = {
    val part = new File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.length() > 0).minBy(_.getName)
    val lines = Files.readAllLines(part.toPath, StandardCharsets.UTF_8).asScala.toSeq
    val first = Workloads.mapper.readTree(lines.head).asInstanceOf[ObjectNode]
    val edited = edit(first).map(Workloads.mapper.writeValueAsString).toSeq
    Files.write(part.toPath, (edited ++ lines.tail).asJava, StandardCharsets.UTF_8)
    new File(dir, s".${part.getName}.crc").delete()
  }
}

/** The paper's flow, as the reference runs it: ingest, bound comments,
  * cleansed corpus, the wrangler's JSON outputs, lemmas, gensim-style
  * dictionary, doc2bow, an LDA k-sweep and one c_v coherence over every k.
  * Defect (c) in the notes: `Lda.prepare` is not this flow, so the
  * dictionary and bag of words are composed here. */
object Topics extends Workload {
  import TicketLayers.{corpusDir, ticketsDir, Written}

  val name = "topics"
  val NoBelow = 5
  val NoAbove = 0.5
  val KeepN = 5000
  val Ks: Seq[Int] = 2 to 6
  val LdaIters = 5
  val TopN = 10

  final case class Out(nested: DataFrame, docs: DataFrame, vocab: Seq[String],
      topics: Seq[(Int, Seq[String])], coherence: Seq[(Int, Double)])
  final case class Seen(bound: Seq[(Long, Seq[(Long, Long)])],
      docs: Seq[(String, Seq[String])], written: Written, vocab: Seq[String],
      topicK: Seq[Int], coherence: Seq[(Int, Double)])

  def docs(in: Input): Long = in.count("tickets")

  def run(p: Pass, in: Input): Out = {
    val g = TicketLayers.ingest(p, in)
    val (docs, nDocs) = p.trace.span("text") {
      val r = p.pin(TicketLayers.corpus(g)
        .withColumn("lemmas", Tokenize.lemmaTokens(col("doc"))))
      p.trace.note("text.rows_out", r._2.toDouble)
      r
    }
    TicketLayers.sink(p, in, g.nested, docs.select(col("ticket_id"), col("doc")))
    val (vocab, feats) = p.trace.span("ml.vocab") {
      // gensim filter_extremes(no_below=5, no_above=0.5, keep_n=5000):
      // document frequencies, the absolute ceiling int(no_above * N), the
      // keep_n most frequent (ties by term), a fixed-order vocabulary
      val (dfreq, distinct) = p.pin(docs
        .select(explode(array_distinct(col("lemmas"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df")))
      val ceiling = (NoAbove * nDocs).toLong
      val vocab = dfreq
        .filter(col("df") >= NoBelow && col("df") <= ceiling)
        .orderBy(col("df").desc, col("term")).limit(KeepN)
        .collect().toSeq.map(_.getString(0))
      val bow = new CountVectorizerModel(vocab.toArray)
        .setInputCol("lemmas").setOutputCol("features")
      val (feats, n) = p.pin(bow.transform(docs.select(col("ticket_id").as("doc_id"),
          col("lemmas")))
        .select(col("doc_id"), col("features"))
        .repartition(p.cores, col("doc_id")).sortWithinPartitions(col("doc_id")))
      p.trace.note("ml.vocab.kept_ratio", vocab.size.toDouble / math.max(1L, distinct))
      p.trace.note("ml.vocab.rows_out", n.toDouble)
      (vocab, feats)
    }
    val topics = p.trace.span("ml.lda") {
      val t = Ks.flatMap { k =>
        val model = Lda.train(feats, k, maxIter = LdaIters)
        model.describeTopics(TopN).orderBy(col("topic")).collect().toSeq
          .map(r => k -> r.getSeq[Int](1).map(vocab(_)))
      }
      p.trace.note("ml.lda.iterations", (Ks.size * LdaIters).toDouble)
      p.trace.note("ml.lda.rows_out", t.size.toDouble)
      t
    }
    val coherence = p.trace.span("ml.coherence") {
      val c = Coherence.cv(p.spark,
          docs.select(col("ticket_id").as("doc_id"), col("lemmas").as("tokens")),
          topics.map(_._2))
        .collect().toSeq
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      p.trace.note("ml.coherence.rows_out", c.size.toDouble)
      c
    }
    Out(g.nested, docs, vocab, topics, coherence)
  }

  def seen(p: Pass, in: Input, out: Out): Seen =
    Seen(TicketLayers.boundKeys(out.nested),
      out.docs.select(col("doc"), col("lemmas")).collect().toSeq
        .map(r => r.getString(0) -> r.getSeq[String](1)),
      TicketLayers.readBack(p.spark, in),
      out.vocab, out.topics.map(_._1), out.coherence)

  private val DocRe = "^[A-Za-z0-9 ]*$".r

  def check(in: Input, s: Seen): Seq[String] = {
    import Workloads.failIf
    val tickets = in.count("tickets")
    val comments = s.bound.map(_._2.size.toLong).sum - s.bound.size
    val unordered = s.bound.count { case (_, cs) =>
      cs.zip(cs.drop(1)).exists { case (a, b) => Ordering[(Long, Long)].gt(a, b) }
    }
    val badDocs = s.docs.count { case (d, _) => DocRe.findFirstIn(d).isEmpty }
    val pii = in.manifest.get("pii").elements().asScala.map(_.asText()).toSet
    val leaked = s.docs.iterator.flatMap(_._1.split(" ")).count(pii.contains)
    // document frequencies recomputed here from the lemma output
    val n = s.docs.size
    val df = s.docs.iterator.flatMap(_._2.distinct).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ceiling = (NoAbove * n).toLong
    val kept = s.vocab.toSet
    val outOfRange = s.vocab.filter { t =>
      val d = df.getOrElse(t, 0L); d < NoBelow || d > ceiling
    }
    val eligible = df.filter { case (_, d) => d >= NoBelow && d <= ceiling }
    val minKept = if (s.vocab.isEmpty) Long.MaxValue else s.vocab.map(df.getOrElse(_, 0L)).min
    val missing = eligible.filter { case (t, d) =>
      !kept.contains(t) && (d > minKept || s.vocab.size < KeepN)
    }
    val perK = s.coherence.groupBy { case (t, _) => s.topicK.lift(t).getOrElse(-1) }
    val unscored = Ks.filter(k => perK.get(k).map(_.size).getOrElse(0) != k)
    val badScores = s.coherence.count { case (_, v) => v.isNaN || v.isInfinite || v < -1 || v > 1 }
    failIf(s.bound.size != tickets, "ticket_count",
      s"${s.bound.size} tickets bound, $tickets generated") ++
    failIf(comments != in.count("comments"), "comment_count",
      s"$comments comments bound, ${in.count("comments")} generated") ++
    failIf(unordered > 0, "comment_order", s"$unordered tickets out of (created_at, id) order") ++
    failIf(badDocs > 0, "doc_charset", s"$badDocs corpus docs outside [A-Za-z0-9 ]") ++
    failIf(leaked > 0, "pii", s"$leaked planted PII tokens survive") ++
    TicketLayers.checkWritten(in, s.written) ++
    failIf(kept.size != s.vocab.size, "vocab_duplicates",
      s"${s.vocab.size - kept.size} duplicate terms") ++
    failIf(s.vocab.size > KeepN, "vocab_size", s"${s.vocab.size} terms > $KeepN") ++
    failIf(outOfRange.nonEmpty, "vocab_df_range",
      s"${outOfRange.size} kept terms outside $NoBelow <= df <= $ceiling") ++
    failIf(missing.nonEmpty, "vocab_missing",
      s"${missing.size} eligible terms missing (smallest kept df $minKept)") ++
    failIf(unscored.nonEmpty, "coherence_k", s"k not fully scored: ${unscored.mkString(",")}") ++
    failIf(badScores > 0, "coherence_range", s"$badScores scores not finite in [-1, 1]")
  }

  /** Corrupt a written JSON dataset on disk, then read it back again. */
  private def written(dirOf: Input => String)(edit: ObjectNode => Option[ObjectNode])
      : (Pass, Input, Out, Seen) => Seen =
    (p, in, _, s) => {
      TicketLayers.editFirstRecord(dirOf(in))(edit)
      s.copy(written = TicketLayers.readBack(p.spark, in))
    }

  val corruptions: Seq[(String, (Pass, Input, Out, Seen) => Seen)] = Seq(
    "ticket_count" -> ((_, _, _, s) => s.copy(bound = s.bound.drop(1))),
    "comment_count" -> ((_, _, _, s) => s.copy(bound =
      s.bound.updated(0, s.bound.head._1 -> s.bound.head._2.drop(1)))),
    "comment_order" -> ((_, _, _, s) => {
      val i = s.bound.indexWhere(b => b._2.distinct.size > 1)
      val (id, cs) = s.bound(i)
      s.copy(bound = s.bound.updated(i, id -> cs.reverse))
    }),
    "doc_charset" -> ((_, _, _, s) => s.copy(docs =
      s.docs.updated(0, (s.docs.head._1 + " ok!", s.docs.head._2)))),
    "pii" -> ((_, in, _, s) => s.copy(docs = s.docs.updated(0,
      (s.docs.head._1 + " " + in.manifest.get("pii").get(0).asText(), s.docs.head._2)))),
    "json_ticket_count" -> written(ticketsDir)(_ => None),
    "json_comment_count" -> written(ticketsDir) { o =>
      o.get("comments").asInstanceOf[ArrayNode].remove(0); Some(o)
    },
    "status_enum" -> written(ticketsDir) { o => o.put("status", "Open"); Some(o) },
    "iso_timestamp" -> written(ticketsDir) { o =>
      o.put("created_at", o.get("created_at").asText().replace('T', ' ')); Some(o)
    },
    "corpus_count" -> written(corpusDir)(_ => None),
    "vocab_duplicates" -> ((_, _, _, s) => s.copy(vocab = s.vocab :+ s.vocab.head)),
    "vocab_size" -> ((_, _, _, s) => s.copy(vocab =
      s.vocab ++ (0 to KeepN).map(i => s"padding$i"))),
    "vocab_df_range" -> ((_, _, _, s) => {
      val rare = s.docs.iterator.flatMap(_._2.distinct).toSeq.groupBy(identity)
        .collectFirst { case (t, occ) if occ.size < NoBelow => t }.get
      s.copy(vocab = s.vocab :+ rare)
    }),
    "vocab_missing" -> ((_, _, _, s) => s.copy(vocab = s.vocab.drop(1))),
    "coherence_k" -> ((_, _, _, s) => s.copy(coherence =
      s.coherence.filterNot { case (t, _) => s.topicK(t) == 4 })),
    "coherence_range" -> ((_, _, _, s) => s.copy(coherence =
      s.coherence.updated(0, s.coherence.head._1 -> 1.5))))
}

/** Near-duplicate clustering over a generated corpus: whitespace tokens,
  * n-gram Jaccard pairs union MinHash band pairs, then the distributed
  * large-star/small-star fixpoint (never the local union-find shortcut of
  * `componentsAdaptive`, which skips the fixpoint below 2^20 edges). */
object Dedup extends Workload {
  val name = "dedup"

  final case class Out(pairs: DataFrame, labels: DataFrame)
  final case class Seen(pairs: Seq[(Long, Long)], labels: Map[Long, Long])

  def docs(in: Input): Long = in.count("docs")

  def run(p: Pass, in: Input): Out = {
    val docs = p.trace.span("ingest") {
      val (d, n) = p.pin(Tables.documentsFanned(p.spark, in.dir).select(col("doc_id"), col("text")))
      p.trace.note("ingest.rows_out", n.toDouble)
      p.trace.note("ingest.files", in.files.toDouble)
      d
    }
    val toks = p.trace.span("text") {
      val (t, n) = p.pin(docs.select(col("doc_id"), Cleanse.tokens(col("text")).as("t")))
      p.trace.note("text.rows_out", n.toDouble)
      t
    }
    val pairs = p.trace.span("ml.similarity") {
      val jaccard = Similarity.ngramJaccardPairs(toks).select(col("doc_a"), col("doc_b"))
      // Similarity.minhashBandPairs composed over the shared token frame
      // (its own entry point re-reads and re-tokenizes the corpus)
      val bands = TextOps.minhashSignaturesOf(toks)
        .select(col("doc_id"), explode(array((1 to 4).map(i =>
          struct(lit(i).as("band"), col(s"h$i").as("h"))): _*)).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
      val (pr, n) = p.pin(jaccard.unionByName(Similarity.bandRowPairsOf(bands)))
      p.trace.note("ml.similarity.rows_out", n.toDouble)
      pr
    }
    val labels = p.trace.span("ml.components") {
      val (l, rounds) = Similarity.componentsWithRounds(pairs)
      p.trace.note("ml.components.rows_out", l.count().toDouble)
      p.trace.note("ml.components.rounds", rounds.toDouble)
      l
    }
    Out(pairs, labels)
  }

  def seen(p: Pass, in: Input, out: Out): Seen =
    Seen(out.pairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
      out.labels.select(col("doc_id"), col("component")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)

  /** Minimum-id component of every node of `pairs`, by union-find. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((a, b) <- pairs if a != b) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def planted(in: Input, key: String): Seq[(Long, Long)] =
    in.manifest.get(key).elements().asScala.map(e =>
      (e.get(0).asLong(), e.get(1).asLong())).toSeq

  private def split(s: Seen, pairs: Seq[(Long, Long)]): Int = pairs.count { case (a, b) =>
    s.labels.get(a).isEmpty || s.labels.get(a) != s.labels.get(b)
  }

  /** The planted-pair check holds the program to its n-gram kernel's own
    * contract (Jaccard over shingles below the stop-shingle cap). Pairs
    * whose true Jaccard is >= 0.5 but that the cap loses are counted in
    * `info`, not failed: see the benchmark notes. */
  def check(in: Input, s: Seen): Seq[String] = {
    import Workloads.failIf
    val truth = unionFind(s.pairs)
    val wrong = (truth.keySet ++ s.labels.keySet).count(k => truth.get(k) != s.labels.get(k))
    val lost = split(s, planted(in, "planted_kernel_j50"))
    failIf(wrong > 0, "union_find", s"$wrong docs labelled unlike union-find over the pairs") ++
    failIf(lost > 0, "planted_pairs", s"$lost planted pairs with kernel J >= 0.5 split apart")
  }

  override def info(in: Input, s: Seen): Map[String, Double] = Map(
    "planted_true_j50" -> planted(in, "planted_true_j50").size.toDouble,
    "planted_true_j50_split" -> split(s, planted(in, "planted_true_j50")).toDouble,
    "components" -> s.labels.values.toSet.size.toDouble,
    "labelled_docs" -> s.labels.size.toDouble)

  val corruptions: Seq[(String, (Pass, Input, Out, Seen) => Seen)] = Seq(
    "union_find" -> ((_, _, _, s) => {
      val k = s.labels.collectFirst { case (k, v) if k != v => k }.get
      s.copy(labels = s.labels.updated(k, k))
    }),
    // a consistent clustering of a pair set that lost one planted doc's
    // edges: union-find agrees, the planted-pair check must not
    "planted_pairs" -> ((_, in, _, s) => {
      val x = in.manifest.get("planted_kernel_j50").get(0).get(0).asLong()
      val pairs = s.pairs.filterNot { case (a, b) => a == x || b == x }
      Seen(pairs, unionFind(pairs))
    }))
}
