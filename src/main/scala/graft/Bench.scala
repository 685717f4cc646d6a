package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the declared query set on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Methodology: one untimed warmup pass at sf0.001 first (JIT + whole-stage
  * codegen compilation dominate cold-JVM timings on small data), then each
  * query is timed at the target SF — best-of-2 by default, median-of-5 for
  * the multi-job fixpoint set. Two escalation triggers (r18/r19 verdicts):
  * a sample during which the host stole more than 10% of the machine's
  * CPU budget (stealSec > 0.1 · wall · cores — normalized by core count,
  * ADVICE r19: the old absolute `steal > wall/2` rule meant "half of ONE
  * core" and tainted every sample under a 2% uniform background steal on
  * 32 cores, quadrupling bench wall for no signal) is TAINTED (a
  * hypervisor steal phase, not the plan — r18 shipped q283 at 15.5 s off
  * two samples carrying ~70 steal-s each against a 3.8 s intrinsic) OR a
  * sample during which PSI cpu+io some-stall exceeded 20% of its wall
  * (r21, VERDICT r20 item 1: the steal-blind contention mode — steal ≈ 0,
  * psiCpu > 0, taskTime 2-3× on identical plans; threshold 3× above the
  * 0.068 max self-noise measured over 658 quiet samples) is TAINTED, and
  * the run resamples until ≥2 untainted samples exist (cap 8); then a
  * >2× spread ACROSS UNTAINTED samples adds up to 3 more. Both
  * escalations stop once a GLOBAL sampling budget (default 20 min after
  * warmup, SPARK_GRAFT_BENCH_BUDGET seconds) is spent — r19 lost its
  * driver artifact (rc=124) because per-query caps alone put no ceiling
  * on aggregate resampling through a sustained steal phase; queries
  * measured after exhaustion carry "budgetExhausted":true. The official
  * number comes from the untainted set alone; if a phase outlives the
  * per-query cap the line falls back to the MIN-wall sample — the best
  * available lower-bound estimator under additive steal (the r19
  * least-stolen-pair fallback shipped 3-12× inflated lines) — and is
  * marked "allTainted":true and excluded from `total_untainted` (printed
  * beside `total`, so the headline can be compared phase-free). Every
  * sample's taskTime/gc/shuffle/spill/input bytes plus loadAvg,
  * other-JVM count, /proc/stat steal-seconds, /proc/pressure cpu/io
  * some-stall seconds (r19 verdict item 3: steal can read ≈0 while
  * bandwidth contention doubles wall — PSI closes that blind spot) and
  * the per-query tainted-sample count land in BENCH_FULL.json, which is
  * REWRITTEN after every query ("partial":true until the final total) so
  * even a killed run leaves a parseable per-query artifact. */
object Bench {
  /** Iterative MLlib model fits (LDA sweeps, LSH/KMeans fits) are excluded
    * from the timed loop: they measure iteration counts, not engine
    * throughput, and would dominate the bench wall-clock 100:1. They
    * remain in `SparkEntry.queries` and are correctness-gated by Verify
    * every round. q55 (connected components) IS timed since round 5: its
    * large-star/small-star fixpoint is O(log²) rounds, so its cost is an
    * engine property worth tracking, not an iteration count (the round-4
    * verdict flagged its bench invisibility). Override with
    * SPARK_GRAFT_BENCH_ALL=1 to time everything. */
  val heavyModelFits: Set[String] =
    Set("m_lda_topics", "m_lda_sweep", "m_lda_coherence", "m_lda_doc_topics",
      "m_lda_relevance", "m_dedup_minhash_lsh", "m_ann_ivf",
      // run model fits inside (m_ann_ivf KMeans / MinHashLSH+CountVectorizer /
      // q87b LogisticRegression / q94's 10-round BPE merge loop)
      "q82_ann_ivf_recall", "q84_minhash_lsh_recall", "q87b_quality_trained",
      "q94_bpe_learn", "q94b_bpe_tokenize",
      "q112_bytebpe_learn", "q112b_bytebpe_tokenize", // same 10-round loop

      "m_ann_pq_fitted", "q99_pq_fitted_recall",
      "q106_ivfpq_recall", // coarse KMeans + 8 PQ KMeans fits inside
      "q110_ivfpq_residual_recall", // same fits on residuals
      "q105_unigram_learn", "q105b_unigram_tokenize", // Viterbi-EM fits
      "q111_tokenizer_report", // replays the BPE + unigram trainings
      "q155_lda_recovery", // seeded LDA fit on the planted corpus
      // bounded streaming replays: they time the micro-batch protocol
      // (fixed 5000-/2000-row slices at ANY SF), not engine throughput
      "m_hll_stream", "m_session_stream", "m_psi_stream")

  /** Queries that launch MANY driver jobs (convergence fixpoints, the
    * multi-pass funnel): their per-job scheduling noise compounds, so
    * best-of-2 swings 2-3× across JVMs (round-7 verdict item 1 measured
    * official 21.9s vs isolated 8.3s on q73). Timed three times, median
    * reported — the median of three is robust to one bad draw in either
    * direction, which best-of-N is not (best-of underreports systematically
    * and still inherits one lucky draw's variance). */
  // q73b/q100/q101 left this set in r12: they now derive from the
  // materialized dedup stage (a scan + rollup, one job), so best-of-2
  // suffices; the fixpoint cost stays visible as q73's own line.
  val multiJobQueries: Set[String] =
    Set("q55_dedup_components", "q70_curation_funnel", "q73_dedup_union",
      "q92_semdedup",
      // staged fixture write + renames + rewrite + verification agg
      // (r20: the 16 sequential appends are batched into one job, 44→14
      // stages; still several sequential driver jobs, so the median
      // stays the robust statistic)
      "q126_compact_small_files",
      // staged fixture write + index builds + batched pruned re-scan
      // (r20: 8 appends batched, 30→16 stages)
      "q131_data_skipping",
      // fixed-round iterations with a checkpoint per round (r14)
      "q138_pagerank", "q148_coreness",
      // 4 synchronous label rounds, checkpoint + fingerprint job each (r15)
      "q166_lpa_communities",
      // register fixpoint: up to 8 max-merge rounds + a stats probe per
      // round (r16); the exact-twin memo its contract columns consume is
      // pre-warmed untimed before the timed loop (r17)
      "q239_distance_approx",
      // PageRank fixpoint on the word graph: ≤10 rounds + probes (r16)
      "q246_textrank",
      // budget-bounded BFS: a fixpoint with per-round count probes —
      // exactly this set's shape, yet it was min-of-2 through r17 and
      // the official number carried a 3.5× sample spread (r17 verdict
      // item 1a)
      "q201_distance_histogram")

  /** One sample; wall = -1 marks a failure. */
  case class Sample(wall: Double, tt: Double, gc: Double, swB: Double,
    srB: Double, spB: Double, inB: Double, load: Double, jvms: Int,
    steal: Double, psiCpu: Double, psiIo: Double)

  case class QResult(name: String, official: Double, samples: Seq[Sample],
    allTainted: Boolean, budgetHit: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = GraftSession.envCores
    // validate the probe-mode sample override BEFORE the run starts, not
    // mid-bench inside times.min (ADVICE r17)
    val envSamples = sys.env.get("SPARK_GRAFT_SAMPLES").map { v =>
      val n = try v.toInt catch { case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_SAMPLES must be a positive int, got '$v'") }
      require(n >= 1, s"SPARK_GRAFT_SAMPLES must be >= 1, got $n")
      n
    }
    // GLOBAL sampling budget (r19 verdict item 1): taint-resampling
    // (≤8/query) plus spread escalation (≤3/query) had no aggregate
    // ceiling, and a sustained steal phase stretched the r19 official
    // run past its timeout (BENCH_r19 rc=124 — no artifact at all). Once the
    // soft budget is spent, escalation loops stop firing and every later
    // query takes its base samples only, annotated budgetExhausted. The
    // clock starts after warmup.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map { v =>
      val b = try v.toDouble catch { case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_BENCH_BUDGET must be seconds, got '$v'") }
      require(b > 0, s"SPARK_GRAFT_BENCH_BUDGET must be > 0, got $b")
      b
    }.getOrElse(1200.0)
    val spark = GraftSession.local(cores)

    // SPARK_GRAFT_TIER=trainer (r17 verdict item 5): time the
    // model-fit/streaming-replay entries the main loop excludes — one
    // sample each after the standard warmup, written to
    // BENCH_TRAINER.json and embedded into the next official
    // BENCH_FULL.json as a "trainer" section. These measure iteration
    // counts, not engine throughput, so they stay OUT of the official
    // total — but a trainer-path regression (a fit suddenly 10×) now
    // has a recorded number to regress FROM.
    val trainerTier = sys.env.get("SPARK_GRAFT_TIER").contains("trainer")
    val benchSet = GraftSession.only(
      if (trainerTier) SparkEntry.queries.view.filterKeys(heavyModelFits).toMap
      else if (sys.env.contains("SPARK_GRAFT_BENCH_ALL")) SparkEntry.queries
      else SparkEntry.queries -- heavyModelFits)

    // Materialize EVERY projected column (count() would let Catalyst prune
    // the expensive projections and final sorts — round-1 advice): the noop
    // sink consumes all rows/columns without write-side I/O in the timing.
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    val warmDir = "/root/testdata/sf0.001"
    benchSet.foreach { case (_, fn) =>
      try run(fn, warmDir) catch { case _: Throwable => () }
    }

    // Pre-warm the session memo (graft.Memo) at the TARGET dir, untimed
    // (r16 verdict item 1): q239's contract columns consume the exact
    // q201 kernel through LinkPred.exactDistance, keyed on the listing
    // of lineitem.parquet; letting the first timed sample compute it
    // polluted the r16 official number (13.3 s with a 4× sample spread —
    // the q201 kernel, not the HyperANF plan). q201's own cost stays
    // bench-visible as its own line.
    if (benchSet.contains("q239_distance_approx"))
      try graft.rel.LinkPred.exactDistance(spark, sfDir)
      catch { case _: Throwable => () }

    val capture = new BenchCapture(spark, diag = sys.env.contains("SPARK_GRAFT_DIAG"))
    val samplingStart = System.nanoTime()
    def budgetExhausted: Boolean =
      (System.nanoTime() - samplingStart) / 1e9 > budgetSec
    // SPARK_GRAFT_ONLY / SPARK_GRAFT_SAMPLES runs never write the artifact
    // (round-15 lesson: a 2-query probe overwrote the certified run;
    // ADVICE r17: probe-mode SAMPLES must not replace the median-of-5
    // artifact)
    val flushArtifact = !sys.env.contains("SPARK_GRAFT_ONLY") && envSamples.isEmpty
    def writeArtifact(rs: Seq[QResult], partial: Boolean): Unit =
      if (flushArtifact) BenchArtifact.write(rs, sfDir, cores, trainerTier, partial)
    val acc = scala.collection.mutable.ArrayBuffer.empty[QResult]
    benchSet.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      GraftSession.sweep(spark)
      def once(): Sample = capture.once(name)(run(fn, sfDir))
      // median-of-5 for the multi-job set since round 14: the round-13
      // official run medianed q73 at 33s against a 2.7-5s isolated time —
      // diag showed executor CPU itself inflated ~6x (gc≈0, same stages),
      // i.e. an external-contention PHASE spanning consecutive runs.
      // Three samples lose the median to any 2-run phase; five need a
      // ~4-run phase to corrupt, at ~+40s total bench cost.
      // SPARK_GRAFT_SAMPLES caps the per-query sample count — probe-only
      // (big-corpus scaling rungs where one sample runs minutes and the
      // BYTE metrics are sample-invariant anyway); the official run
      // leaves it unset and keeps median-of-5 / best-of-2.
      val nSamples = envSamples
        .getOrElse(if (trainerTier) 1
        else if (multiJobQueries(name)) 5 else 2)
      val budgetHit = budgetExhausted // one read; annotates this query
      var samples = Seq.fill(nSamples)(once())
      if (envSamples.isEmpty && !trainerTier && !budgetHit) {
        // Both loops yield to the global budget so a sustained phase
        // cannot stretch the run past its time limit (the r19 rc=124
        // failure mode).
        while (BenchPolicy.wantsTaintResample(samples, cores) && !budgetExhausted)
          samples :+= once()
        var extra = 0
        while (extra < 3 && BenchPolicy.wantsSpreadResample(samples, cores) &&
            !budgetExhausted) {
          samples :+= once(); extra += 1 }
      }
      val (official, allTainted) =
        BenchPolicy.official(samples, multiJobQueries(name), cores)
      acc += QResult(name, official, samples, allTainted, budgetHit)
      writeArtifact(acc.toSeq, partial = true)
    }
    val metric = if (trainerTier) "trainer_total" else "total"
    BenchArtifact.resultLines(acc.toSeq, sfDir, metric).foreach(println)
    // final artifact rewrite: same shape as the incremental flushes, with
    // partial:false marking a run that completed its full sequence
    writeArtifact(acc.toSeq, partial = false)
    spark.stop()
  }
}

/** Bench's measurement side: a stage listener that ALWAYS runs (its cost
  * is one atomic add per stage) so BENCH_FULL can carry {taskTime, gcTime}
  * and data movement beside every wall sample — environment phases
  * (uniform all-boats inflation, executor CPU blowups with gc≈0) become
  * separable from plan cost in the artifact without a rerun (round-15
  * verdict item 7) — plus the machine-load readers. With `diag`
  * (SPARK_GRAFT_DIAG=1) each sample also prints a [diag] line attributing
  * wall to stage wall / executor task time / GC, and its top stages by
  * wall time — the tool for chasing long-sequence degradation (tail
  * queries inflating 2-3x over their isolated times) and single-task
  * stages (the 6.1 s map stage behind q70's 1-row-group scan trap). */
final class BenchCapture(spark: SparkSession, diag: Boolean) {
  import java.util.concurrent.atomic.AtomicLong
  private val stageWall, taskTime, stageCount = new AtomicLong(0)
  // Shuffle/spill/input bytes (r17): local[32] timings cannot prove
  // cluster behavior — what transfers is the DATA MOVEMENT the plan
  // asks for. Shuffle write bytes per query is exactly the network
  // cost a 1000-executor run would pay, so the scaling ladder records
  // it alongside wall time: a kernel whose shuffle bytes scale
  // linearly with the corpus stays network-feasible at 100 TB even if
  // local wall time is memory-bandwidth-bound.
  private val shufWrite, shufRead, spillBytes, inputBytes = new AtomicLong(0)
  // (stage id, wall ms, tasks, call site) of the current sample, diag only
  private val stages =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]
  private val TopStages = 10 // stages per sample the diag dump lists

  locally {
    import org.apache.spark.scheduler._
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stageWall.addAndGet(wall)
        val tm = si.taskMetrics
        taskTime.addAndGet(tm.executorRunTime)
        shufWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(tm.shuffleReadMetrics.localBytesRead +
          tm.shuffleReadMetrics.remoteBytesRead)
        spillBytes.addAndGet(tm.diskBytesSpilled)
        inputBytes.addAndGet(tm.inputMetrics.bytesRead)
        stageCount.incrementAndGet()
        if (diag)
          stages.add((si.stageId, wall, si.numTasks, si.name.take(90).replace("\n", " ")))
      }
    })
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  // Machine-load attribution (r17 verdict item 1b): the r17 artifact
  // inflated 1.33× over r16 with 3-7× taskTime swings on IDENTICAL
  // plans — environment contention, but nothing in the artifact could
  // prove it. Record the 1-minute loadavg and the count of OTHER java
  // processes alongside every sample, so a contended run is
  // attributable from the artifact alone.
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
  // Hypervisor steal (r18): loadavg and otherJvms see only INSIDE the
  // VM; /proc/stat's steal column counts cycles the HOST withheld.
  // The r18 probe that motivated this read 7% steal at idle and ~13%
  // of active CPU stolen cumulatively — enough to inflate identical
  // plans' executor taskTime 1.5-2× and breach the bench contract
  // with zero in-VM signal. Per-sample steal-seconds make that
  // attribution readable straight from BENCH_FULL.
  private def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }
  // PSI some-stall totals (r19 verdict item 3): /proc/pressure/{cpu,io}
  // "some ... total=<µs>" counts wall-µs during which ≥1 runnable task
  // stalled on that resource. Steal can read ≈0 while IO-bandwidth
  // contention still doubles wall+taskTime; the per-sample stall-second
  // DELTA closes that blind spot the same way stealSec closed the steal
  // one.
  private def psiTotalUs(res: String): Long =
    try {
      val src = scala.io.Source.fromFile(s"/proc/pressure/$res")
      try {
        src.getLines().find(_.startsWith("some")) match {
          case Some(l) =>
            val i = l.indexOf("total=")
            if (i < 0) -1L else l.substring(i + 6).trim.toLong
          case None => -1L
        }
      } finally src.close()
    } catch { case _: Throwable => -1L }
  private val selfPid = ProcessHandle.current().pid()
  private def otherJvms: Int =
    try {
      val procs = new java.io.File("/proc").listFiles()
      if (procs == null) -1
      else procs.count { f =>
        f.getName.forall(_.isDigit) && f.getName.toLong != selfPid && {
          val comm = new java.io.File(f, "comm")
          comm.isFile && {
            try {
              val s = scala.io.Source.fromFile(comm)
              try s.mkString.trim == "java" finally s.close()
            } catch { case _: Throwable => false }
          }
        }
      }
    } catch { case _: Throwable => -1 }
  // SparkListener events arrive on an async bus: without a drain,
  // trailing onStageCompleted events get attributed to the NEXT
  // sample (ADVICE r17). The bus exposes waitUntilEmpty() as
  // private[spark] — public in bytecode, so reflection reaches it
  // without an org.apache.spark shim; the fallback sleep bounds the
  // skew at one scheduling quantum.
  private def drainListenerBus(): Unit =
    try {
      val bus = spark.sparkContext.getClass
        .getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(30) }

  /** Time one run of `body` as sample `name`; a throwing body yields a
    * wall of -1. */
  def once(name: String)(body: => Unit): Bench.Sample = {
    drainListenerBus() // don't inherit the predecessor's stragglers
    stages.clear()
    val (load0, jvms0, st0) = (loadAvg, otherJvms, stealJiffies)
    val (pc0, pi0) = (psiTotalUs("cpu"), psiTotalUs("io"))
    val (g0, sw0, tt0, sc0) =
      (gcMs, stageWall.get, taskTime.get, stageCount.get)
    val (sw1, sr1, sp1, in1) =
      (shufWrite.get, shufRead.get, spillBytes.get, inputBytes.get)
    def stealSec: Double = {
      val s1 = stealJiffies
      if (st0 < 0 || s1 < 0) -1.0 else (s1 - st0) / 100.0
    }
    def psiSec(res: String, t0: Long): Double = {
      val t1 = psiTotalUs(res)
      if (t0 < 0 || t1 < 0) -1.0 else (t1 - t0) / 1e6
    }
    val t0 = System.nanoTime()
    try body
    catch { case _: Throwable =>
      return Bench.Sample(-1.0, 0, 0, 0, 0, 0, 0, load0, jvms0, stealSec,
        psiSec("cpu", pc0), psiSec("io", pi0)) }
    val w = (System.nanoTime() - t0) / 1e9
    drainListenerBus() // attribute every stage to THIS sample
    val (tt, gc) = ((taskTime.get - tt0) / 1e3, (gcMs - g0) / 1e3)
    val mb = 1024.0 * 1024.0
    val (swB, srB, spB, inB) = ((shufWrite.get - sw1) / mb,
      (shufRead.get - sr1) / mb, (spillBytes.get - sp1) / mb,
      (inputBytes.get - in1) / mb)
    val stealNow = stealSec
    val (psiC, psiI) = (psiSec("cpu", pc0), psiSec("io", pi0))
    if (diag) {
      println(f"[diag] $name wall=$w%.2f stageWall=${(stageWall.get - sw0) / 1e3}%.2f " +
        f"taskTime=$tt%.2f gc=$gc%.2f " +
        f"stages=${stageCount.get - sc0} " +
        f"shufWriteMB=$swB%.1f shufReadMB=$srB%.1f spillMB=$spB%.1f " +
        f"inputMB=$inB%.1f load=$load0%.1f jvms=$jvms0 " +
        f"steal=$stealNow%.1f psiCpu=$psiC%.1f psiIo=$psiI%.1f")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2).take(TopStages).foreach {
        case (id, sw, nt, site) =>
          println(f"[stage] $name $id%5d $sw%6d ms $nt%4d tasks  $site")
      }
    }
    Bench.Sample(w, tt, gc, swB, srB, spB, inB, load0, jvms0, stealNow,
      psiC, psiI)
  }
}

/** Bench's sampling policy, pure functions of the samples. A sample is
  * TAINTED when the host stole more than 10% of the machine's CPU budget
  * during it, or when PSI cpu+io some-stall exceeded 20% of its wall; the
  * official number comes from the untainted samples alone. */
object BenchPolicy {
  import Bench.Sample

  // Steal-taint threshold, normalized by core count (ADVICE r19,
  // medium): /proc/stat steal aggregates across ALL vCPUs, so the old
  // absolute rule (steal > wall/2 — half of ONE core) tainted every
  // sample under a steady ~1.6% background steal on 32 cores, driving
  // every query to the 8-sample cap (~4× bench wall) and shipping the
  // fallback instead of the intended untainted basis. Taint now means
  // "the host withheld >10% of the machine during the sample" — steal
  // comparable to the query's CPU budget (the r18 q283 incident, ~70
  // steal-s on a 15.5 s wall at 32 cores = 14%, still taints).
  // PSI stall-taint (r21, VERDICT r20 item 1): steal is blind to the
  // contention mode measured in r20 (steal ≈ 0, psiCpu > 0,
  // taskTime 2-3× on identical plans — IO-bandwidth / cgroup-throttle
  // weather), so the recorded-since-r20 PSI some-stall deltas now
  // taint too. Threshold calibrated against one round of recorded
  // data: across 658 quiet-window samples (r21 baseline run) the
  // self-inflicted (psiCpu+psiIo)/wall noise floor is p99 = 0.04,
  // max = 0.068 — 0.2·wall taints only when the host stalls ≥20% of
  // the sample's wall-clock, 3× above the observed self-noise, while
  // a 2-3× inflation phase (the q70 incident mode) sits far above it.
  // PSI "some" counts wall-µs with ≥1 stalled task, so wall (not
  // wall·cores) is the right normalizer. A -1 reading (hidden
  // /proc/stat or /proc/pressure) is no evidence either way and skips
  // its rule, rather than resample forever on a host hiding the counter.
  def tainted(s: Sample, cores: Int): Boolean =
    (s.steal >= 0 && s.steal > 0.1 * s.wall * cores) ||
      (s.psiCpu >= 0 && s.psiIo >= 0 &&
        s.psiCpu + s.psiIo > 0.2 * s.wall)

  def untainted(ss: Seq[Sample], cores: Int): Seq[Sample] =
    ss.filter(s => s.wall >= 0 && !tainted(s, cores))

  // a deterministically-throwing query is condemned to official = -1
  // after ONE failure — resampling it more only burns budget (ADVICE
  // r19, low)
  private def anyFailed(ss: Seq[Sample]): Boolean = ss.exists(_.wall < 0)

  /** Steal-taint resample, checked FIRST (r18 verdict item 1): a steal
    * phase inflates every sample it covers UNIFORMLY, so the spread check
    * is blind to it — r18's q283 read 16.4/15.5 s (spread 1.06, no
    * escalation) with ~70 steal-s per sample against a 3.8 s certified
    * intrinsic. Resample until ≥2 untainted samples exist, cap 8. */
  def wantsTaintResample(ss: Seq[Sample], cores: Int): Boolean =
    untainted(ss, cores).size < 2 && ss.size < 8 && !anyFailed(ss)

  /** Spread escalation (r17 verdict item 1c): a >2× spread across
    * UNTAINTED samples means residual contention (load, other JVMs)
    * crossed the run — q201's official 15.4 s was min-of-2 over
    * {15.4, 54.5}. The caller takes up to 3 more samples so the reported
    * number comes from the quiet side of the phase — only for queries big
    * enough (≥0.5 s) for spread to mean contention, not timer noise. */
  def wantsSpreadResample(ss: Seq[Sample], cores: Int): Boolean = {
    val ok = untainted(ss, cores).map(_.wall)
    !anyFailed(ss) && ok.nonEmpty && ok.min >= 0.5 && ok.max / ok.min > 2.0
  }

  /** (official seconds, allTainted). Any failed sample makes it -1. The
    * basis is the untainted samples; if a steal phase tainted everything,
    * the MIN-wall sample — under additive steal the minimum is the best
    * available lower-bound estimator (the r19 least-stolen-pair median
    * shipped 3-12× inflated lines through a sustained phase: q115 7.66 s
    * vs 0.79 s certified) — flagged allTainted so total_untainted can
    * exclude it. Multi-job queries report the lower-middle median (the
    * upper-middle of an even-sized escalated set biased the official
    * number high, ADVICE r18), the rest the minimum. */
  def official(ss: Seq[Sample], multiJob: Boolean, cores: Int): (Double, Boolean) = {
    val clean = untainted(ss, cores)
    val okSamples = ss.filter(_.wall >= 0)
    val allTainted = clean.isEmpty && okSamples.nonEmpty
    val times =
      (if (clean.nonEmpty) clean else okSamples.sortBy(_.wall).take(1)).map(_.wall)
    val official =
      if (anyFailed(ss) || times.isEmpty) -1.0
      else if (multiJob) times.sorted.apply((times.size - 1) / 2)
      else times.min
    (official, allTainted)
  }
}

/** Bench's output: the two stdout result lines and BENCH_FULL.json /
  * BENCH_TRAINER.json. */
object BenchArtifact {
  import Bench.QResult

  def r1(v: Double): String =
    BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
  def r3(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def totals(rs: Seq[QResult]): (Int, Double, Double) = (
    rs.count(_.official < 0),
    rs.collect { case q if q.official >= 0 => q.official }.sum,
    // phase-free headline (r19 verdict item 2): the sum over lines whose
    // basis had ≥1 untainted sample — allTainted lines are lower bounds,
    // not measurements, so they are reported but not silently summed into
    // the number rounds compare
    rs.collect { case q if q.official >= 0 && !q.allTainted => q.official }.sum)

  /** The per-query line, then a SHORT line with the headline numbers
    * alone: short enough to survive truncation from EITHER direction, so
    * the official artifact always records the total even if the
    * per-query line is cut (round-8 verdict item 2). */
  def resultLines(rs: Seq[QResult], sfDir: String, metric: String): Seq[String] = {
    // 3-decimal rounding (1 ms resolution — below run-to-run noise): the
    // full-precision doubles doubled the line length and the driver's tail
    // capture truncated the cheap half of the suite out of BENCH_r{5,6}.
    // Queries by ASCENDING cost with failures (-1) LAST: the driver's
    // capture keeps the END of the output, so the tail must hold what
    // matters most — failing query names first of all, then the expensive
    // half whose regressions matter (round-11 verdict: round 8's
    // descending order preserved the 72 cheapest queries and dropped the
    // ~48 expensive ones; round-12 advice: failures sorted FIRST were the
    // first content truncated, inverting the intent). The short trailing
    // summary line still carries n_failed even if every name is cut.
    val qs = rs.sortBy(q => (q.official < 0, q.official, q.name))
      .map(q => "\"" + q.name + "\":" + r3(q.official))
      .mkString("{", ",", "}")
    val (nFailed, total, totalUntainted) = totals(rs)
    val head = s"""{"metric":"$metric","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${rs.size},"n_failed":$nFailed,"total_untainted":${r3(totalUntainted)}"""
    Seq(s"""$head,"queries":$qs}""", s"$head}")
  }

  def fullJson(rs: Seq[QResult], cores: Int): String =
    rs.sortBy(_.name).map { q =>
      val ts = q.samples
      "\"" + q.name + "\":{\"time\":" + r3(q.official) +
        ",\"samples\":[" + ts.map(s => r3(s.wall)).mkString(",") + "]" +
        ",\"taskTime\":[" + ts.map(s => r3(s.tt)).mkString(",") + "]" +
        ",\"gcTime\":[" + ts.map(s => r3(s.gc)).mkString(",") + "]" +
        // data-movement profile (MB, r17): shuffle write is the
        // cluster-network cost the plan would pay at scale; spill > 0
        // flags partitions outgrowing executor memory at this SF
        ",\"shufWriteMB\":[" + ts.map(s => r1(s.swB)).mkString(",") + "]" +
        ",\"shufReadMB\":[" + ts.map(s => r1(s.srB)).mkString(",") + "]" +
        ",\"spillMB\":[" + ts.map(s => r1(s.spB)).mkString(",") + "]" +
        ",\"inputMB\":[" + ts.map(s => r1(s.inB)).mkString(",") + "]" +
        // machine-load attribution (r18): 1-min loadavg + count of
        // OTHER jvm processes at each sample's start — a 3× wall
        // inflation with load ≫ cpus and jvms > 0 is the environment,
        // not the plan
        ",\"loadAvg\":[" + ts.map(s => r1(s.load)).mkString(",") + "]" +
        ",\"otherJvms\":[" + ts.map(_.jvms).mkString(",") + "]" +
        // hypervisor steal-seconds during the sample (r18): taskTime
        // inflating on an identical plan while stealSec tracks wall is
        // the HOST, not the plan — the one contention source loadavg
        // and otherJvms cannot see
        ",\"stealSec\":[" + ts.map(s => r1(s.steal)).mkString(",") + "]" +
        // PSI some-stall seconds during the sample (r19 verdict item
        // 3): cpu/io pressure-stall deltas — contention that steal
        // cannot see (IO bandwidth, cgroup throttling)
        ",\"psiCpu\":[" + ts.map(s => r1(s.psiCpu)).mkString(",") + "]" +
        ",\"psiIo\":[" + ts.map(s => r1(s.psiIo)).mkString(",") + "]" +
        // count of samples the taint rule excluded from the official
        // basis: >0 with a sane official time means the protocol caught
        // a steal phase; == samples.size means the phase outlived the
        // resample cap and the official time is the min-wall lower
        // bound, flagged allTainted below
        ",\"taintedSamples\":" +
        ts.count(s => s.wall >= 0 && BenchPolicy.tainted(s, cores)) +
        ",\"allTainted\":" + q.allTainted +
        ",\"budgetExhausted\":" + q.budgetHit + "}"
    }.mkString("{", ",", "}")

  /** COMPLETE per-query artifact on disk (round-14 verdict item 8),
    * REWRITTEN after every query (r19 verdict item 1b): the r19 official
    * run was killed mid-sequence and left NOTHING — an incrementally
    * flushed artifact degrades to a parseable partial instead. Cost is
    * one ~300 KB file write per query, invisible next to a timed run.
    * Best-effort: a failed write never fails the bench. */
  def write(rs: Seq[QResult], sfDir: String, cores: Int, trainerTier: Boolean,
      partial: Boolean): Unit = try {
    val (nf, tot, totU) = totals(rs)
    val head = s"""{"sf":"$sfDir","n_queries":${rs.size},"n_failed":$nf,"partial":$partial,"total":${r3(tot)}"""
    val queries = fullJson(rs, cores)
    val (file, body) =
      // trainer tier writes its OWN artifact; the next official run
      // embeds it, so BENCH_FULL always carries the latest recorded
      // trainer-path costs without the official total absorbing them
      if (trainerTier) ("BENCH_TRAINER.json", s"""$head,"queries":$queries}""")
      else ("BENCH_FULL.json",
        s"""$head,"total_untainted":${r3(totU)},"queries":$queries,"trainer":$trainerBlob}""")
    val w = new java.io.PrintWriter(file)
    try w.println(body) finally w.close()
  } catch { case _: Throwable => () }

  private def trainerBlob: String = try {
    val f = new java.io.File("BENCH_TRAINER.json")
    if (f.isFile)
      scala.io.Source.fromFile(f).mkString.trim match {
        // a truncated trainer artifact (writer crash mid-line) must
        // not render the whole embedding unparseable (ADVICE r18):
        // require the blob to CLOSE as well as open
        case s if s.startsWith("{") && s.endsWith("}") => s
        case _ => "null"
      }
    else "null"
  } catch { case _: Throwable => "null" }
}
