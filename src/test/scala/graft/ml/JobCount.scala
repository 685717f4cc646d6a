package graft.ml

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block starts on the calling thread, counted by a
  * SparkListener keyed to a job group of its own. */
object JobCount {
  def of(spark: SparkSession)(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    // the listener bus is asynchronous: drain it before reading the count
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { f; drain(); n.get } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
