package graft.pipebench

import org.apache.spark.PipebenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Counters of one layer within one pass, filled by [[LayerListener]]. */
final class LayerCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var outputBytes = 0L
  /** (submission, completion) epoch millis of every stage that ran. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Job, stage and task counts keyed to the layer span that submitted them.
  * A span sets the job-group-like local property [[Trace.LayerKey]]; every
  * job started under it carries the property, its stages are mapped to the
  * layer at job start, and task ends are attributed through their stage.
  * Events arrive on the listener-bus thread; readers drain the bus first. */
final class LayerListener extends SparkListener {
  private val counts = mutable.Map.empty[String, LayerCounts]
  private val stageLayer = mutable.Map.empty[Int, String]

  private def of(layer: String): LayerCounts = counts.getOrElseUpdate(layer, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.LayerKey)))
    layer.foreach { l =>
      of(l).jobs += 1
      e.stageIds.foreach(id => stageLayer(id) = l)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageLayer.get(info.stageId).foreach { l =>
      val c = of(l)
      c.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) c.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { l =>
      val c = of(l)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Hand over this pass's counts and start empty for the next one. */
  def take(): Map[String, LayerCounts] = synchronized {
    val out = counts.toMap
    counts.clear()
    stageLayer.clear()
    out
  }
}

/** One layer span: wall time by the monotonic clock, and the epoch-milli
  * interval the stage spans are clipped against. */
final case class Span(layer: String, startMs: Long, endMs: Long, wallS: Double)

/** Spans around the benchmark's calls into each layer. With tracing off a
  * span only runs its body: no listener, no local property, no clock. */
final class Trace(spark: SparkSession) {
  private val listener = new LayerListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val notes = mutable.LinkedHashMap.empty[String, Double]
  private var on = false

  /** Start a pass, traced or not: forget the last pass's spans and notes,
    * and attach the listener only for a traced pass. */
  def begin(traced: Boolean): Unit = {
    spans.clear()
    notes.clear()
    on = traced
    if (on) spark.sparkContext.addSparkListener(listener)
  }

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.LayerKey, layer)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - n0) / 1e9
        spans += Span(layer, t0, System.currentTimeMillis(), wall)
        sc.setLocalProperty(Trace.LayerKey, null)
      }
    }

  /** A layer-specific measurement made by the pipeline (always recorded:
    * it costs nothing beyond what the pass already computed). */
  def note(name: String, value: Double): Unit = notes(name) = value

  /** Per-layer metrics of the pass just run, keyed `<layer>.<metric>`.
    * Layers the workload does not run report zero work. */
  def layerMetrics(): Map[String, Double] = {
    require(on, "layer metrics need a traced pass")
    PipebenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    on = false
    val counts = listener.take()
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Trace.Layers) {
      val ss = spans.filter(_.layer == layer)
      val c = counts.getOrElse(layer, new LayerCounts)
      val wall = ss.map(_.wallS).sum
      val covered = ss.map(s => Trace.coveredMs(s.startMs, s.endMs, c.stageSpans.toSeq)).sum
      val mb = 1024.0 * 1024.0
      out(s"$layer.wall_s") = wall
      out(s"$layer.idle_s") = math.max(0.0, wall - covered / 1000.0)
      out(s"$layer.jobs") = c.jobs.toDouble
      out(s"$layer.stages") = c.stages.toDouble
      out(s"$layer.tasks") = c.tasks.toDouble
      out(s"$layer.task_s") = c.taskMs / 1000.0
      out(s"$layer.gc_s") = c.gcMs / 1000.0
      out(s"$layer.input_mb") = c.inputBytes / mb
      out(s"$layer.shuffle_write_mb") = c.shuffleWriteBytes / mb
      out(s"$layer.output_mb") = c.outputBytes / mb
      out(s"$layer.rows_out") = notes.getOrElse(s"$layer.rows_out", 0.0)
      out(s"$layer.task_failures") = c.taskFailures.toDouble
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    out("ingest.files") = notes.getOrElse("ingest.files", 0.0)
    out("ml.vocab.kept_ratio") = notes.getOrElse("ml.vocab.kept_ratio", 0.0)
    val iters = notes.getOrElse("ml.lda.iterations", 0.0)
    out("ml.lda.iterations") = iters
    out("ml.lda.jobs_per_iter") = ratio(out("ml.lda.jobs"), iters)
    val rounds = notes.getOrElse("ml.components.rounds", 0.0)
    out("ml.components.rounds") = rounds
    out("ml.components.jobs_per_round") = ratio(out("ml.components.jobs"), rounds)
    out("ml.similarity.pair_yield") = ratio(
      notes.getOrElse("ml.similarity.rows_out", 0.0),
      counts.get("ml.similarity").map(_.shuffleWriteRecords.toDouble).getOrElse(0.0))
    out.toMap
  }
}

object Trace {
  val LayerKey = "graft.pipebench.layer"

  /** The program's modules the benchmark times, in pipeline order. */
  val Layers: Seq[String] = Seq("ingest", "text", "ml.vocab", "ml.lda",
    "ml.coherence", "ml.similarity", "ml.components", "sink")

  /** Milliseconds of [start, end] covered by the union of `spans`. */
  def coveredMs(start: Long, end: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
