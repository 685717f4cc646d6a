package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session recipe every main and the test suite build
  * on, plus the environment knobs they share. */
object GraftSession {

  /** `local[cores]` with `cores` shuffle partitions, the bounded
    * app-status retention, tmpfs scratch, the stall timeouts and the
    * graft SQL functions + optimizer rules registered. */
  def local(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ui.enabled=false does NOT stop the app-status listeners: they
      // retain up to 1000 executions / 1000 jobs of state, and a
      // 90-query bench emits thousands (the distributed fixpoints run
      // one to a few jobs per round). The growing store throttles the listener
      // bus, which many-small-job queries feel hardest — q70 measured
      // 7.4s isolated vs 24.6s at the end of a full sequence. Keep the
      // retained state tiny; no caller reads it.
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      // a multi-second stall (GC or hypervisor) must not let the
      // in-process executor give up heartbeating the driver and shut the
      // context down — an r18 100× lineitem build died exactly this way
      // ("unable to send heartbeats to driver more than 60 times")
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
    // Shuffle spill on the container's overlay rootfs intermittently stalls
    // tasks for 10-100s; tmpfs sidesteps it (local-mode only — a real
    // cluster would use fast local SSDs for spark.local.dir).
    // SPARK_GRAFT_LOCAL_DIR overrides: at the 100× scale probe (r17) the
    // RAM-backed tmpfs spill competed with the enlarged heap for the same
    // physical memory and the OS OOM-killed the JVM — big-corpus probes
    // point this at real disk.
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local"
      else "")
    if (localDir.nonEmpty) builder.config("spark.local.dir", localDir)
    val spark = builder.getOrCreate()
    GraftExtensions.register(spark) // SQL functions + optimizer rules
    // ERROR: keep the mains' result lines easy to find
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCores: Int = coresOf(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def coresOf(v: Option[String]): Int = v match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) =>
      val n = s.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer core count, got '$s'"))
      require(n >= 1, s"SPARK_GRAFT_CPUS must be >= 1, got $n")
      n
  }

  /** The dev-only `SPARK_GRAFT_ONLY` subset (comma-separated names) of a
    * query map; the whole map when the variable is unset. */
  def only[V](queries: Map[String, V]): Map[String, V] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(queries) { names =>
      queries.view.filterKeys(names.split(",").map(_.trim).toSet).toMap
    }

  /** Between-query clean-up: drop cached relations, unpersist every
    * persisted RDD (blocking) and collect heap garbage, so each query
    * runs without a predecessor's pinned blocks or old-gen debt — q55
    * measured 2.7× its isolated cost 70 queries into a sequence without
    * it. INVARIANT: the global unpersist is safe ONLY on a private session
    * that runs queries strictly one after another — beside a concurrent
    * query it would truncate a live checkpoint's lineage (the safe form
    * releases only the pins a call made itself: a [[Pins]] scope). Here it
    * releases the result pins queries return, which no scope owns. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
