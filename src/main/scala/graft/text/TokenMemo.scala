package graft.text

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** A fixed-capacity set of short byte-string keys, so that a per-token
  * kernel evaluates each distinct token once per thread instead of once
  * per occurrence. The set holds keys only: an entry is a dense index in
  * `[0, Capacity)`, and the kernel keeps its values in its own arrays at
  * that index. One instance serves one thread (a `ThreadLocal` in the
  * kernel); nothing here is synchronized.
  *
  * Open addressing with linear probing over `2 · Capacity` slots. A key
  * is hashed in place (Murmur3 over `(base, offset, length)`, so a
  * `UTF8String` or a kernel's own `byte[]` buffer is never decoded), and
  * a hit allocates nothing. Every kept key is COPIED into the key arena: a
  * `UTF8String` read from an `UnsafeRow` points into a buffer that Spark
  * reuses for the next row, so a kept pointer would soon hold other bytes.
  * Keys longer than `MaxKeyBytes` are never kept. When the entries or the
  * arena are full, the next `add` clears the table first.
  *
  * Memory: slots 16·C, key starts 4·(C + 1), arena 16·C bytes
  * = 36·C + 4 bytes, 576 KiB at C = 16384.
  */
private[graft] final class TokenMemo {
  import TokenMemo._

  private val slots = new Array[Long](2 * Capacity) // hash << 32 | entry + 1; 0 is empty
  private val starts = new Array[Int](Capacity + 1) // key e is keys(starts(e) until starts(e + 1))
  /** The key arena; `add`'s entry `e` reads `keys(keyStart(e) until keyStart(e) + length)`. */
  val keys = new Array[Byte](ArenaBytes)
  private var size = 0
  private var missSlot = -1 // where `find`'s last miss would go, or -1 when it may not be kept
  private var missHash = 0

  def keyStart(e: Int): Int = starts(e)

  /** The entry holding these bytes, or -1. */
  def find(base: AnyRef, offset: Long, len: Int): Int = {
    if (len > MaxKeyBytes) { missSlot = -1; return -1 }
    val h = hash(base, offset, len)
    var i = h & (slots.length - 1)
    while (true) {
      val slot = slots(i)
      if (slot == 0L) { missSlot = i; missHash = h; return -1 }
      val e = slot.toInt - 1
      if ((slot >>> 32).toInt == h && starts(e + 1) - starts(e) == len &&
          ByteArrayMethods.arrayEquals(keys, Platform.BYTE_ARRAY_OFFSET + starts(e),
            base, offset, len)) return e
      i = (i + 1) & (slots.length - 1)
    }
    -1
  }

  /** Keeps a copy of the bytes that the last `find` missed, and returns
    * their new entry, or -1 when they are too long to keep. Call it right
    * after that `find`, with the same bytes. */
  def add(base: AnyRef, offset: Long, len: Int): Int = {
    if (missSlot < 0) return -1
    if (size == Capacity || starts(size) + len > ArenaBytes) {
      java.util.Arrays.fill(slots, 0L)
      size = 0
      missSlot = missHash & (slots.length - 1)
    }
    val e = size
    base match {
      case a: Array[Byte] =>
        System.arraycopy(a, (offset - Platform.BYTE_ARRAY_OFFSET).toInt, keys, starts(e), len)
      case _ => Platform.copyMemory(base, offset, keys, Platform.BYTE_ARRAY_OFFSET + starts(e), len)
    }
    starts(e + 1) = starts(e) + len
    slots(missSlot) = missHash.toLong << 32 | (e + 1)
    size += 1
    missSlot = -1
    e
  }
}

private[graft] object TokenMemo {
  /** Entries before the table clears itself. */
  val Capacity: Int = 1 << 14
  /** Longer keys skip the memo. */
  val MaxKeyBytes: Int = 32
  /** Bytes of kept keys before the table clears itself. */
  val ArenaBytes: Int = 16 * Capacity

  def hash(base: AnyRef, offset: Long, len: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes2(base, offset, len, 42)
}
