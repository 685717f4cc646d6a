package graft.text

import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

object TokenMemoSpec {
  /** Pairs of distinct tokens of one byte length whose memo hashes are
    * equal, from the first `n` tokens `token(0 until n)`: only the kept
    * copy of the bytes tells such a pair apart. */
  def collidingPairs(n: Int)(token: Int => String): Seq[(String, String)] = {
    val seen = new java.util.HashMap[Integer, String]()
    (0 until n).flatMap { i =>
      val t = token(i)
      val b = t.getBytes("UTF-8")
      val prev = seen.putIfAbsent(TokenMemo.hash(b, Platform.BYTE_ARRAY_OFFSET, b.length), t)
      if (prev != null && prev != t && prev.length == t.length) Some(prev -> t) else None
    }
  }
}

/** The per-thread token memo on its own: exact keys, and a bounded table. */
class TokenMemoSpec extends AnyFunSuite {
  private val Off = Platform.BYTE_ARRAY_OFFSET

  private def find(m: TokenMemo, s: String): Int = {
    val b = s.getBytes("UTF-8"); m.find(b, Off, b.length)
  }
  private def put(m: TokenMemo, s: String): Int = {
    val b = s.getBytes("UTF-8")
    assert(m.find(b, Off, b.length) == -1, s)
    m.add(b, Off, b.length)
  }

  test("prefixes, empty, multi-byte and hash-colliding keys stay apart") {
    val pairs = TokenMemoSpec.collidingPairs(400000)(i => f"m$i%07d")
    assert(pairs.size >= 3, pairs)
    val keys = Seq("", "a", "ab", "abc", "abcd", "é", "e", "中", "中文", "😀") ++
      pairs.flatMap { case (a, b) => Seq(a, b) }
    val m = new TokenMemo
    val entries = keys.map(put(m, _))
    assert(entries == keys.indices)
    keys.zip(entries).foreach { case (k, e) => assert(find(m, k) == e, k) }
    assert(find(m, "abcde") == -1 && find(m, "m") == -1)
  }

  test("the table clears itself when its entries or its key bytes are full") {
    val m = new TokenMemo
    (0 until TokenMemo.Capacity).foreach(i => assert(put(m, s"k$i") == i))
    assert(find(m, "k0") == 0 && find(m, s"k${TokenMemo.Capacity - 1}") == TokenMemo.Capacity - 1)
    assert(put(m, "next") == 0) // full: the add cleared the table first
    assert(find(m, "k0") == -1 && find(m, "k1") == -1 && find(m, "next") == 0)

    val wide = new TokenMemo
    val widest = (i: Int) => f"$i%032d"
    val fit = TokenMemo.ArenaBytes / TokenMemo.MaxKeyBytes
    (0 until fit).foreach(i => assert(put(wide, widest(i)) == i))
    assert(put(wide, widest(fit)) == 0) // the key bytes are full
    assert(find(wide, widest(0)) == -1 && find(wide, widest(fit)) == 0)
  }

  test("keys longer than MaxKeyBytes are never kept") {
    val m = new TokenMemo
    val long = "x" * (TokenMemo.MaxKeyBytes + 1)
    val b = long.getBytes("UTF-8")
    assert(m.find(b, Off, b.length) == -1 && m.add(b, Off, b.length) == -1)
    assert(m.find(b, Off, b.length) == -1)
    assert(put(m, "x" * TokenMemo.MaxKeyBytes) == 0)
  }
}
