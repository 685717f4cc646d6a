package org.apache.spark

/** The `private[spark]` calls the benchmark needs. */
object PipebenchBridge {
  /** Block until the listener bus has delivered every queued event, so a
    * layer's counts are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of RDD blocks the driver's block manager holds now, in memory
    * and on disk. In local mode it is the only block manager. */
  def rddBlockBytes(): Long = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isRDD).iterator
      .map(id => bm.getStatus(id).map(s => s.memSize + s.diskSize).getOrElse(0L)).sum
  }
}
