package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** c_v topic coherence (SURVEY.md §2.6 M4; gensim
  * `CoherenceModel(coherence="c_v")`, LDA_logic.py:342-349).
  *
  * Following Röder, Both & Hinneburg, "Exploring the Space of Topic
  * Coherence Measures" (WSDM 2015): boolean word-window co-occurrence
  * probabilities → NPMI similarity vectors → one-set cosine segmentation →
  * mean per topic, over gensim's TRUE SLIDING window (size 110, step 1;
  * docs shorter than 110 tokens form one window). c_v needs counts only,
  * never per-pair rows, so the corpus side is gensim's
  * `WordOccurrenceAccumulator` as ONE Spark action: each partition walks
  * its rows' sliding windows into a primitive count array, and the arrays
  * are summed with a `treeAggregate`. Everything after that is driver
  * arithmetic over the (topics × topN²) grid.
  *
  * Counting. The V distinct topic words get dense ids 0..V-1. The
  * accumulator holds, for i ≤ j, the number of windows containing both
  * word i and word j (the diagonal i = j is word i's window count), then
  * the total window count W: V·(V+1)/2 + 1 longs — about 160 KB at
  * V = 200 (20 topics × top-10), whatever the corpus size. A row's
  * windows are walked incrementally: when a word stops being present, the
  * windows it shared with every word still present are credited in one
  * step, so a row costs O(topic-word tokens × words present) rather than
  * O(windows × pairs).
  *
  * Semantics:
  *   - each input row is one document (`doc_id` is not read); a row of L
  *     tokens has max(1, L-109) windows, so a null or empty `tokens` row
  *     counts one window and no occurrences;
  *   - every (topic, wi, wj) pair of the topic's word list takes part,
  *     duplicates included: a word listed twice in a topic counts twice;
  *   - a word whose NPMI vector is all zeros has no cosine and is left out
  *     of its topic's mean. Every word absent from the corpus has such a
  *     vector, so absent words never count; a topic none of whose words
  *     has a cosine (e.g. none occurs) gets a null coherence.
  */
object Coherence {

  val WindowSize = 110

  private val Eps = 1e-12

  /** Position of the pair (i, j), i ≤ j, in the packed upper triangle of a
    * v × v matrix stored row by row. */
  private def tri(v: Int, i: Int, j: Int): Int = i * v - i * (i - 1) / 2 + (j - i)

  /** Per-topic c_v coherence.
    * @param tokensDf   (doc_id LONG, tokens ARRAY<STRING>) corpus; each
    *                   row is one document
    * @param topicWords top-N words per topic (small, from describeTopics)
    * @return (topic INT, coherence DOUBLE), ordered by topic; coherence is
    *         null for a topic none of whose words has a cosine
    */
  def cv(s: SparkSession, tokensDf: DataFrame,
      topicWords: Seq[Seq[String]]): DataFrame = {
    val words = topicWords.flatten.distinct
    val ids = words.zipWithIndex.toMap
    val v = words.size
    val counts = windowCounts(tokensDf, ids)
    val w = math.max(1L, counts(counts.length - 1)).toDouble

    def npmi(i: Int, j: Int): Double = {
      val pi = counts(tri(v, i, i)) / w
      val pj = counts(tri(v, j, j)) / w
      val pij = counts(tri(v, math.min(i, j), math.max(i, j))) / w
      math.log((pij + Eps) / (pi * pj + Eps)) / -math.log(pij + Eps)
    }

    // One-set segmentation: cos(v_i, Σ_k v_k) per topic word, then mean,
    // summed over the grid rows (duplicate words counted per occurrence)
    val rows = topicWords.zipWithIndex.map { case (ws, t) =>
      val grid = for (a <- ws.map(ids); b <- ws.map(ids)) yield (a, b, npmi(a, b))
      val sv = grid.groupMapReduce(_._2)(_._3)(_ + _)
      val sNorm = math.sqrt(sv.values.map(x => x * x).sum)
      val cos = grid.groupBy(_._1).values.flatMap { r =>
        val vNorm = math.sqrt(r.map(x => x._3 * x._3).sum)
        if (vNorm == 0.0 || sNorm == 0.0) None
        else Some(r.map(x => x._3 * sv(x._2)).sum / (vNorm * sNorm))
      }
      Row(t, if (cos.isEmpty) null else cos.sum / cos.size)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("topic", IntegerType, nullable = false),
      StructField("coherence", DoubleType, nullable = true))))
  }

  /** The window co-occurrence counts of the words in `ids` over every row
    * of `tokensDf`, in one action: the packed triangle of [[tri]] followed
    * by the total window count. */
  private def windowCounts(tokensDf: DataFrame, ids: Map[String, Int]): Array[Long] = {
    val v = ids.size
    val size = v * (v + 1) / 2 + 1
    tokensDf.select(col("tokens")).rdd.mapPartitions { rows =>
      val acc = new Array[Long](size)
      val walk = new WindowWalk(v, acc)
      rows.foreach { r =>
        if (r.isNullAt(0)) acc(size - 1) += 1
        else walk.doc(r.getSeq[String](0).iterator.map(ids.getOrElse(_, -1)).toArray)
      }
      Iterator.single(acc)
    }.treeAggregate(new Array[Long](size))(addInto, addInto)
  }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** Sliding-window walk over one partition's documents into `acc` (see
    * [[windowCounts]]). Scratch arrays are reused across documents. */
  private final class WindowWalk(v: Int, acc: Array[Long]) {
    private val inWindow = new Array[Int](v) // occurrences in the window
    private val since = new Array[Int](v)    // first window of the present run
    private val present = new Array[Int](v)  // ids present, unordered
    private val slot = new Array[Int](v)     // index of an id in `present`
    private var nPresent = 0

    /** Adds one document of token ids (-1 = not a topic word). */
    def doc(toks: Array[Int]): Unit = {
      val windows = math.max(1, toks.length - (WindowSize - 1))
      var p = 0
      while (p < math.min(toks.length, WindowSize)) { enter(toks(p), 0); p += 1 }
      var start = 1
      while (start < windows) {
        enter(toks(start + WindowSize - 1), start)
        leave(toks(start - 1), start)
        start += 1
      }
      while (nPresent > 0) credit(present(nPresent - 1), windows)
      acc(acc.length - 1) += windows
    }

    private def enter(id: Int, start: Int): Unit = if (id >= 0) {
      inWindow(id) += 1
      if (inWindow(id) == 1) {
        since(id) = start
        slot(id) = nPresent
        present(nPresent) = id
        nPresent += 1
      }
    }

    private def leave(id: Int, start: Int): Unit = if (id >= 0) {
      inWindow(id) -= 1
      if (inWindow(id) == 0) credit(id, start)
    }

    /** Word `id`'s present run ends before window `end`: count the windows
      * it shares with every present word (itself included), then drop it. */
    private def credit(id: Int, end: Int): Unit = {
      var k = 0
      while (k < nPresent) {
        val j = present(k)
        val n = end - math.max(since(id), since(j))
        acc(tri(v, math.min(id, j), math.max(id, j))) += n
        k += 1
      }
      inWindow(id) = 0
      val last = present(nPresent - 1)
      present(slot(id)) = last
      slot(last) = slot(id)
      nPresent -= 1
    }
  }
}
