package graft.pipebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The benchmark's JVM. `pipebench/run.py` starts it and reads its stdout.
  *
  * It first sets up a SparkSession (then it prints `PIPEBENCH_SESSION`).
  * Then, by `--mode`:
  *  - `run`: a cold warm-up pass on the small `--warm` input and a second
  *    one on the timed `--input`, then `PIPEBENCH_READY` (the caller's
  *    set-up clock stops there), then one client, one pass at a time, for
  *    `--seconds`; with `--trace 1` traced and untraced passes alternate;
  *  - `selftest`: no warm-up; plant each corruption of
  *    `Workload.corruptions` into a fresh pass's outputs and record which
  *    checks fire.
  * The last stdout line is `PIPEBENCH_RESULT <json>`. */
object Main {
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val w = Workloads.all(opts("workload"))
    val cores = opts("cores").toInt
    val work = opts("work")
    val spark = session(cores, work)
    println("PIPEBENCH_SESSION")
    Console.flush()
    val pass = new Pass(spark, new Trace(spark), cores)
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      opts("mode") match {
        case "run" =>
          // traced only in a traced run, whose set-up time is not reported:
          // their layers show where the JVM spends the warm-up. The JIT
          // still compiles for a pass or two after the cold one, so the
          // second warm-up pass runs on the timed input.
          val in = input(opts("input"), s"$work/out")
          result("warm") = Seq(input(opts("warm"), s"$work/out-warm"), in)
            .map(onePass(w, pass, _, traced = opts("trace") == "1"))
          println("PIPEBENCH_READY")
          Console.flush()
          result("passes") = loop(w, pass, in, opts("seconds").toDouble, opts("trace") == "1")
          result("docs") = w.docs(in)
        case "selftest" =>
          result("selftest") = selftest(w, pass, input(opts("input"), s"$work/out-selftest"))
      }
      result("vmhwm_kb") = vmHwmKb()
      result("spark_version") = spark.version
      result("java_version") = System.getProperty("java.version")
      result("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
      println("PIPEBENCH_RESULT " + Json.writeValueAsString(result))
    } finally spark.stop()
  }

  /** Entries of Spark's generated-code cache. A pass compiles more distinct
    * classes than the default 100, so with the default every pass evicts
    * and recompiles the classes of the one before it, and the JIT compiles
    * them afresh: about a quarter of a topics pass's wall time and a
    * third of its CPU time went to that. Sized to hold every class a pass
    * generates, so that a timed pass compiles none or few
    * (`codegen_compiles` in each pass record). */
  val CodegenCacheEntries = 4000

  /** The program's own session set-up (as `graft.Bench` builds it), with
    * every Spark local and temporary directory inside the work directory,
    * and a generated-code cache of `CodegenCacheEntries`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def input(dir: String, outDir: String): Input = {
    val manifest = Workloads.mapper.readTree(new File(dir, "manifest.json"))
    val comments = new File(dir, "comments")
    val files = if (comments.isDirectory) comments.list().length + 1 else 1
    Input(dir, manifest, files, outDir)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Classes Spark has compiled from generated code in this JVM. */
  private def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass: run the pipeline (timed), then read its outputs back and
    * check them (untimed), then drop everything it pinned. */
  def onePass(w: Workload, pass: Pass, in: Input, traced: Boolean): Map[String, Any] = {
    System.gc()
    pass.trace.begin(traced)
    val compiles0 = codegenCompiles()
    val cpu0 = cpuNs()
    val t0 = System.nanoTime()
    val out = Try(w.run(pass, in))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - cpu0) / 1e9
    val compiles = codegenCompiles() - compiles0
    pass.sample()
    val pinnedMb = pass.takePeakPinned() / (1024.0 * 1024.0)
    val layers = if (traced) pass.trace.layerMetrics() else Map.empty[String, Double]
    val (failures, info) = out match {
      case Success(o) => Try { val s = w.seen(pass, in, o); (w.check(in, s), w.info(in, s)) } match {
        case Success(r) => r
        case Failure(e) => (Seq(s"check threw: $e"), Map.empty)
      }
      case Failure(e) => (Seq(s"pass threw: $e"), Map.empty)
    }
    pass.release()
    Map("traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu, "pinned_mb" -> pinnedMb,
      "codegen_compiles" -> compiles, "failures" -> failures, "info" -> info, "layers" -> layers)
  }

  /** Passes back to back until `seconds` have gone by and at least two
    * passes ran (the reported time is their median). The JIT still
    * compiles for several passes after the warm-up, so each pass tends to
    * be a little faster than the one before, and a count that followed
    * the host's speed (two passes on a slow host, three on a fast one)
    * moved the median with it. The benchmark's `--seconds` is shorter than
    * two passes, so the count stays two. With tracing, passes go
    * untraced, traced, traced, untraced, ... and at least four run, so
    * neither kind always comes first while the JIT still settles. */
  def loop(w: Workload, pass: Pass, in: Input, seconds: Double,
      trace: Boolean): Seq[Map[String, Any]] = {
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = if (trace) 4 else 2
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds)
      passes += onePass(w, pass, in, traced = trace && Set(1, 2)(passes.size % 4))
    passes.toSeq
  }

  /** For each planted corruption: which checks fired on it. Also the
    * checks that fired on the uncorrupted outputs (must be none). */
  def selftest(w: Workload, pass: Pass, in: Input): Map[String, Any] = {
    pass.trace.begin(false)
    def fresh() = { val o = w.run(pass, in); (o, w.seen(pass, in, o)) }
    val (_, clean) = fresh()
    pass.release()
    val planted = w.corruptions.map { case (expected, corrupt) =>
      val (o, s) = fresh()
      val fired = w.check(in, corrupt(pass, in, o, s)).map(_.takeWhile(_ != ':'))
      pass.release()
      expected -> Map("detected" -> fired.contains(expected), "fired" -> fired)
    }
    Map("clean_failures" -> w.check(in, clean), "corruptions" -> planted.toMap)
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
