package graft.ml

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform

/** The per-task pieces of [[Similarity.ngramJaccardPairs]], on primitive
  * arrays. A document is a (doc, n) pair of longs, n = its number of
  * distinct shingles (≥ 1); a null doc_id is encoded as doc 0 with n
  * negated, so records stay full-width longs and the bucket order can
  * still put it first, as `sort_array` orders a null struct field. */
private[ml] object NgramJaccard {

  /** Buckets with fewer documents form no pair; buckets with more are
    * stop-shingles, dropped (O(df²) pairs, no near-dup signal). */
  val MinDf = 2
  val MaxDf = 20

  /** Distinct hashed 3-shingles of a token array: each token hashes once
    * (FNV-1a 64 over its UTF-16 code units), a triple combines with
    * splitmix64 finalizers as mix(mix(mix(t0) ^ t1) ^ t2), then a
    * primitive sort and unique sweep. Only shingle equality is ever
    * observed, never a value. Tokens are read in place from the UTF-8
    * bytes; only a non-ASCII token is decoded to a String for its code
    * units. Needs at least 3 tokens. */
  def distinctShingles(t: ArrayData): Array[Long] = {
    val n = t.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(t, i); i += 1 }
    val sh = new Array[Long](n - 2)
    i = 0
    while (i < n - 2) {
      sh(i) = LongKeyMap.mix(LongKeyMap.mix(LongKeyMap.mix(th(i)) ^ th(i + 1)) ^ th(i + 2))
      i += 1
    }
    java.util.Arrays.sort(sh)
    var k = 0
    i = 0
    while (i < sh.length) {
      if (i == 0 || sh(i) != sh(i - 1)) { sh(k) = sh(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(sh, k)
  }

  private def tokenHash(t: ArrayData, i: Int): Long = {
    val u = t.getUTF8String(i)
    val (base, off, nb) = (u.getBaseObject, u.getBaseOffset, u.numBytes)
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < nb && Platform.getByte(base, off + j) >= 0) {
      h = (h ^ Platform.getByte(base, off + j)) * 0x100000001b3L
      j += 1
    }
    if (j < nb) { // non-ASCII: hash the UTF-16 code units a String holds
      val s = u.toString
      h = 0xcbf29ce484222325L
      j = 0
      while (j < s.length) { h = (h ^ s.charAt(j)) * 0x100000001b3L; j += 1 }
    }
    h
  }

  /** (doc, n) order within a bucket: null doc first, then doc, then n. */
  private def before(d1: Long, n1: Long, d2: Long, n2: Long): Boolean =
    if ((n1 < 0) != (n2 < 0)) n1 < 0
    else if (d1 != d2) d1 < d2
    else math.abs(n1) < math.abs(n2)

  /** Reduce side of the shingle shuffle: groups a partition's
    * (shingle, [doc, n]) incidences by shingle into compressed-sparse-row
    * arrays, sorts each bucket of MinDf..MaxDf documents by (doc, n), and
    * counts every ordered pair (a before b) of it in one map keyed by
    * (doc_a, na, doc_b, nb). Emits one (doc_a, [na, doc_b, nb, count])
    * record per distinct pair of the partition. */
  def bucketPairs(it: Iterator[Product2[Long, Array[Long]]]): Iterator[(Long, Array[Long])] = {
    val sh = new scala.collection.mutable.ArrayBuilder.ofLong
    val dn = new scala.collection.mutable.ArrayBuilder.ofLong
    it.foreach { r => sh += r._1; dn += r._2(0); dn += r._2(1) }
    val (shingles, docN) = (sh.result(), dn.result())
    val df = new LongKeyMap(1)
    var i = 0
    while (i < shingles.length) { df.add(shingles, i, 1L); i += 1 }
    // bucket start per slot, then a cursor while the buckets fill
    val start = new Array[Int](df.capacity + 1)
    var s = 0
    var total = 0
    while (s < df.capacity) {
      start(s) = total
      if (df.isUsed(s) && df.value(s) >= MinDf && df.value(s) <= MaxDf) total += df.value(s).toInt
      s += 1
    }
    start(df.capacity) = total
    val fill = start.clone()
    val bucket = new Array[Long](2 * total)
    i = 0
    while (i < shingles.length) {
      val slot = df.add(shingles, i, 0L)
      if (fill(slot) < start(slot + 1)) {
        bucket(2 * fill(slot)) = docN(2 * i)
        bucket(2 * fill(slot) + 1) = docN(2 * i + 1)
        fill(slot) += 1
      }
      i += 1
    }
    val pairs = new LongKeyMap(4)
    val key = new Array[Long](4)
    s = 0
    while (s < df.capacity) {
      val (lo, hi) = (start(s), start(s + 1))
      var a = lo + 1
      while (a < hi) { // insertion sort: a bucket holds at most MaxDf docs
        val (d, n) = (bucket(2 * a), bucket(2 * a + 1))
        var b = a - 1
        while (b >= lo && before(d, n, bucket(2 * b), bucket(2 * b + 1))) {
          bucket(2 * b + 2) = bucket(2 * b); bucket(2 * b + 3) = bucket(2 * b + 1)
          b -= 1
        }
        bucket(2 * b + 2) = d; bucket(2 * b + 3) = n
        a += 1
      }
      a = lo
      while (a < hi) {
        var b = a + 1
        while (b < hi) {
          key(0) = bucket(2 * a); key(1) = bucket(2 * a + 1)
          key(2) = bucket(2 * b); key(3) = bucket(2 * b + 1)
          pairs.add(key, 0, 1L)
          b += 1
        }
        a += 1
      }
      s += 1
    }
    (0 until pairs.capacity).iterator.filter(pairs.isUsed).map { p =>
      (pairs.key(p, 0), Array(pairs.key(p, 1), pairs.key(p, 2), pairs.key(p, 3), pairs.value(p)))
    }
  }

  /** Reduce side of the pair shuffle: sums each (doc_a, na, doc_b, nb)
    * pair's counts and emits rows (doc_a, doc_b, na, nb, inter), a null
    * doc restored from its negated n. */
  def pairRows(it: Iterator[Product2[Long, Array[Long]]]): Iterator[InternalRow] = {
    val pairs = new LongKeyMap(4)
    val key = new Array[Long](4)
    it.foreach { r =>
      val v = r._2
      key(0) = r._1; key(1) = v(0); key(2) = v(1); key(3) = v(2)
      pairs.add(key, 0, v(3))
    }
    def doc(d: Long, n: Long): Any = if (n < 0) null else d
    (0 until pairs.capacity).iterator.filter(pairs.isUsed).map { p =>
      val (da, na, db, nb) = (pairs.key(p, 0), pairs.key(p, 1), pairs.key(p, 2), pairs.key(p, 3))
      new GenericInternalRow(Array[Any](doc(da, na), doc(db, nb),
        math.abs(na).toInt, math.abs(nb).toInt, pairs.value(p)))
    }
  }
}
