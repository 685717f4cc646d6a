package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread microbenchmark of the two token kernels, called the way
  * generated code calls them: `MinhashKernel.signature` on `UnsafeArrayData`
  * token arrays, `LemmaUtil.lemmaTokens` on document strings.
  *
  *   sbt "Test/runMain graft.text.TokenKernelBench"
  *
  * Two inputs per kernel:
  *  - repeated: MinHash over 6000 arrays of 120 tokens drawn from 1,000
  *    words, lemma over 400 documents of 300 words drawn from 1,000 words
  *    (the repetition pipebench's inputs have);
  *  - distinct: the same shapes with every token new, in every round.
  * Prints the median and quartiles of the rounds' wall ms per case.
  */
object TokenKernelBench {
  private val Warm = 5
  private val Rounds = 15

  private def word(rnd: scala.util.Random, n: Int): String =
    Seq.fill(3 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString + n

  /** A letters-only word, distinct for each n. */
  private def letters(n: Long): String = {
    val sb = new StringBuilder("q")
    var x = n
    while ({ sb.append(('a' + (x % 26)).toChar); x /= 26; x > 0 }) ()
    sb.toString
  }

  private val toUnsafe = UnsafeProjection.create(Array[DataType](ArrayType(StringType)))
  private def unsafeArray(toks: Seq[String]): ArrayData =
    toUnsafe(InternalRow(new GenericArrayData(toks.map(UTF8String.fromString).toArray)))
      .copy().getArray(0)

  private def time(rounds: Int)(input: Int => AnyRef)(run: AnyRef => Unit): Seq[Double] =
    (0 until Warm + rounds).map { r =>
      val in = input(r)
      val t0 = System.nanoTime()
      run(in)
      (System.nanoTime() - t0) / 1e6
    }.drop(Warm)

  private def report(name: String, ms: Seq[Double]): Unit = {
    val s = ms.sorted
    def q(p: Double) = s(((s.size - 1) * p).round.toInt)
    println(f"[kernel] $name%-18s median ${q(0.5)}%8.2f ms  q1 ${q(0.25)}%8.2f  q3 ${q(0.75)}%8.2f")
  }

  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 1000).map(word(rnd, _))
    val lemmaVocab = (0 until 1000).map(i => letters(i * 7919L + 3))

    val repeatedSig = (0 until 6000).map(_ => unsafeArray(Seq.fill(120)(vocab(rnd.nextInt(1000)))))
    def distinctSig(r: Int): AnyRef = (0 until 6000).map(d =>
      unsafeArray((0 until 120).map(j => s"r$r.d$d.t$j")))
    val repeatedDocs = (0 until 400).map(_ =>
      UTF8String.fromString(Seq.fill(300)(lemmaVocab(rnd.nextInt(1000))).mkString(" ")))
    def distinctDocs(r: Int): AnyRef = (0 until 400).map(d => UTF8String.fromString(
      (0 until 300).map(j => letters(((r.toLong * 400 + d) * 300 + j) * 5 + 1000000)).mkString(" ")))

    def signatures(in: AnyRef): Unit =
      in.asInstanceOf[Seq[ArrayData]].foreach(MinhashKernel.signature)
    def lemmas(in: AnyRef): Unit =
      in.asInstanceOf[Seq[UTF8String]].foreach(LemmaUtil.lemmaTokens)

    report("minhash repeated", time(Rounds)(_ => repeatedSig)(signatures))
    report("minhash distinct", time(Rounds)(distinctSig)(signatures))
    report("lemma repeated", time(Rounds)(_ => repeatedDocs)(lemmas))
    report("lemma distinct", time(Rounds)(distinctDocs)(lemmas))
  }
}
