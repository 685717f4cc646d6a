package graft.ml

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}

import scala.reflect.ClassTag

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}

/** Shuffle serializer for records of fixed-width longs: a key or value of
  * width 1 is a `Long`, a wider one an `Array[Long]` of exactly that
  * width, and each long travels as 8 raw bytes, where Java serialization
  * of every tuple costs microseconds of reflection. Used by the graph
  * fixpoint loop's grouping shuffle (`graft.rel.Fixpoint.grouped`:
  * (node, value) arcs and messages, widths 1/1, for components, coreness,
  * label propagation and PageRank) and the n-gram Jaccard kernel
  * ((shingle, [doc, n]), widths 1/2, and (doc_a, [na, doc_b, nb, count]),
  * widths 1/4). Shuffle streams only: the widths tell `readKey` and
  * `readValue` what to rebuild, so a stream carries no per-record header. */
private[graft] final case class LongRecordSerializer(keyWidth: Int, valueWidth: Int)
    extends Serializer {
  require(keyWidth >= 1 && valueWidth >= 1, "record widths must be positive")

  override def newInstance(): SerializerInstance = new SerializerInstance {
    private def unsupported =
      throw new UnsupportedOperationException("LongRecordSerializer: shuffle streams only")
    override def serialize[T: ClassTag](t: T): java.nio.ByteBuffer = unsupported
    override def deserialize[T: ClassTag](bytes: java.nio.ByteBuffer): T = unsupported
    override def deserialize[T: ClassTag](bytes: java.nio.ByteBuffer,
        loader: ClassLoader): T = unsupported
    override def serializeStream(s: OutputStream): SerializationStream =
      new SerializationStream {
        private val out = new DataOutputStream(s)
        private def write(x: Any, width: Int): SerializationStream = {
          if (width == 1) out.writeLong(x.asInstanceOf[Long])
          else {
            val a = x.asInstanceOf[Array[Long]]
            require(a.length == width, s"record field of width ${a.length}, expected $width")
            var i = 0
            while (i < width) { out.writeLong(a(i)); i += 1 }
          }
          this
        }
        override def writeKey[T: ClassTag](key: T): SerializationStream = write(key, keyWidth)
        override def writeValue[T: ClassTag](value: T): SerializationStream =
          write(value, valueWidth)
        override def writeObject[T: ClassTag](t: T): SerializationStream = unsupported
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }
    override def deserializeStream(s: InputStream): DeserializationStream =
      new DeserializationStream {
        private val in = new DataInputStream(s)
        private def read(width: Int): Any =
          if (width == 1) in.readLong()
          else {
            val a = new Array[Long](width)
            var i = 0
            while (i < width) { a(i) = in.readLong(); i += 1 }
            a
          }
        override def readKey[T: ClassTag](): T = read(keyWidth).asInstanceOf[T]
        override def readValue[T: ClassTag](): T = read(valueWidth).asInstanceOf[T]
        override def readObject[T: ClassTag](): T = unsupported
        override def close(): Unit = in.close()
      }
  }
}

/** Open-addressing hash map (linear probing, load ≤ 1/2) from keys of
  * `width` longs to long values, all held in primitive arrays: a slot
  * costs 8·width + 9 bytes and no object, so task-side grouping never
  * boxes a key nor trips Spark's per-object size estimation. */
private[ml] final class LongKeyMap(val width: Int) {
  private var cap = 16
  private var keys = new Array[Long](cap * width)
  private var vals = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0

  /** Slots are `0 until capacity`; an insertion may grow (and so
    * renumber) them. */
  def capacity: Int = cap
  def isUsed(slot: Int): Boolean = used(slot)
  def key(slot: Int, i: Int): Long = keys(slot * width + i)
  def value(slot: Int): Long = vals(slot)

  /** Adds `v` to the value of the key `k(off until off + width)`, inserting
    * it with value 0 first if absent; returns its slot. Only an insertion
    * can grow the map. */
  def add(k: Array[Long], off: Int, v: Long): Int = {
    var i = find(k, off)
    if (!used(i)) {
      if (2 * (n + 1) > cap) { grow(); i = find(k, off) }
      used(i) = true
      System.arraycopy(k, off, keys, i * width, width)
      n += 1
    }
    vals(i) += v
    i
  }

  private def find(k: Array[Long], off: Int): Int = {
    var i = hash(k, off) & (cap - 1)
    while (used(i) && !sameKey(i, k, off)) i = (i + 1) & (cap - 1)
    i
  }

  private def sameKey(slot: Int, k: Array[Long], off: Int): Boolean = {
    var j = 0
    while (j < width && keys(slot * width + j) == k(off + j)) j += 1
    j == width
  }

  private def hash(k: Array[Long], off: Int): Int = {
    var h = 0L
    var j = 0
    while (j < width) { h = LongKeyMap.mix(h ^ k(off + j)); j += 1 }
    h.toInt
  }

  private def grow(): Unit = {
    val (oldKeys, oldVals, oldUsed, oldCap) = (keys, vals, used, cap)
    cap *= 2
    keys = new Array[Long](cap * width)
    vals = new Array[Long](cap)
    used = new Array[Boolean](cap)
    n = 0
    var s = 0
    while (s < oldCap) {
      if (oldUsed(s)) add(oldKeys, s * width, oldVals(s))
      s += 1
    }
  }
}

private[ml] object LongKeyMap {
  /** splitmix64's finalizer (public domain). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
