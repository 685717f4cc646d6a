package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The owner of a computation's intermediate pins: the frames it
  * localCheckpoints and the RDDs it persists. Each is released, blocking,
  * by [[release]] or, all together, when the [[Pins.scoped]] block that
  * opened the owner ends, whether the block returns or throws.
  *
  * A pin goes into a scope only if nothing the block returns still reads
  * it lazily when the block ends: the result is eagerly pinned, collected
  * or written first. A helper that pins for its caller takes the caller's
  * `Pins`, so whoever opened the scope releases it. A frame's pin is the
  * one RDD at the root `LogicalRDD` of its plan, never an RDD deeper in
  * the plan: that one belongs to whoever pinned it.
  *
  * Result pins a query returns (`.localCheckpoint() // tiny`) are not
  * owned here; [[GraftSession.sweep]] releases them between queries. */
final class Pins {
  private val held = ArrayBuffer.empty[RDD[_]]

  /** `df.localCheckpoint(eager)`, owned by this scope. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    adopt(df.localCheckpoint(eager))

  /** `rdd` persisted in memory, owned by this scope. */
  def persist[A](rdd: RDD[A]): RDD[A] = {
    held += rdd.persist(StorageLevel.MEMORY_ONLY)
    rdd
  }

  /** Takes over a frame a callee pinned and returned. */
  def adopt(pinned: DataFrame): DataFrame = {
    held += Pins.rddOf(pinned)
    pinned
  }

  /** Releases one earlier pin now. */
  def release(pinned: DataFrame): Unit = release(Pins.rddOf(pinned))

  /** Releases one earlier RDD now. */
  def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = true)
    held -= rdd
  }

  /** Releases everything still held; the owner stays usable. */
  def close(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }
}

object Pins {

  /** Runs `body` with a new owner and releases what it still holds when
    * `body` returns or throws. */
  def scoped[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.close()
  }

  /** The RDD a pinned frame reads: the one at its plan's root. */
  private[graft] def rddOf(pinned: DataFrame): RDD[InternalRow] = pinned.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd
    case p => throw new IllegalArgumentException(
      s"not a pinned frame: its plan's root is ${p.nodeName}, not a LogicalRDD")
  }
}
