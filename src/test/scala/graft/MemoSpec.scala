package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.text.SparkTestSession
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Memo` computes a key once per session and again when a table it names
  * is rewritten in place, and it is the only cross-query cache. */
class MemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `body` on a scratch copy of the sf0.001 tables. */
  private def withCopy[A](body: String => A): A = {
    val dir = Files.createTempDirectory("graft-memo").toFile
    FileUtils.copyDirectory(new File("/root/testdata/sf0.001"), dir)
    try body(dir.toString) finally FileUtils.deleteQuietly(dir)
  }

  /** Rewrites `<dir>/<table>.parquet` in place with `f` of its rows. */
  private def rewrite(dir: String, table: String)(f: DataFrame => DataFrame): Unit = {
    val (path, staged) = (new File(s"$dir/$table.parquet"), new File(s"$dir/$table.staged"))
    f(spark.read.parquet(path.toString)).write.parquet(staged.toString)
    FileUtils.forceDelete(path)
    FileUtils.moveDirectory(staged, path)
  }

  /** A memo entry over orders and customer that counts its computations. */
  private final class Probe(dir: String) {
    var calls = 0
    def apply(): Int = Memo(spark, dir, Seq("orders", "customer"), "memo-spec") {
      calls += 1
      calls
    }
  }

  test("a second call with the same key computes nothing") {
    withCopy { dir =>
      val probe = new Probe(dir)
      assert(probe() == 1)
      assert(probe() == 1)
      assert(probe.calls == 1)
    }
  }

  test("rewriting a named table in place recomputes") {
    withCopy { dir =>
      val probe = new Probe(dir)
      val key = Memo.key(spark, dir, Seq("orders", "customer"), "memo-spec")
      assert(probe() == 1)
      rewrite(dir, "customer")(identity)
      assert(Memo.key(spark, dir, Seq("orders", "customer"), "memo-spec") != key)
      assert(probe() == 2)
      assert(probe() == 2)
      assert(probe.calls == 2)
    }
  }

  test("rewriting an unnamed table does not recompute") {
    withCopy { dir =>
      val probe = new Probe(dir)
      val key = Memo.key(spark, dir, Seq("orders", "customer"), "memo-spec")
      assert(probe() == 1)
      rewrite(dir, "lineitem")(identity)
      assert(Memo.key(spark, dir, Seq("orders", "customer"), "memo-spec") == key)
      assert(probe() == 1)
      assert(probe.calls == 1)
    }
  }

  test("q188 refits after embeddings.parquet is rewritten") {
    withCopy { dir =>
      def fit() = graft.ml.Pca.q188_power_iteration(spark, dir).collect().toSeq
      val before = fit()
      rewrite(dir, "embeddings")(_.filter(col("vec_id") % 2 === 0))
      assert(fit() != before)
    }
  }

  test("q239's n_pairs_exact follows a rewrite of lineitem.parquet") {
    withCopy { dir =>
      def exact(): Seq[(Long, Long)] = rel.LinkPred.q239_distance_approx(spark, dir)
        .select(col("dist"), col("n_pairs_exact")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0).toSeq
      val before = exact()
      rewrite(dir, "lineitem")(_.filter(col("l_suppkey") =!= 1))
      val after = exact()
      assert(after != before)
      val q201 = rel.LinkPred.q201_distance_histogram(spark, dir)
        .select(col("dist").cast("long"), col("n_pairs")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0).toSeq
      assert(after == q201)
    }
  }

  test("computeIfAbsent and getModificationTime appear under src/main only in Memo") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Memo.scala").toSeq
    assert(sources.size > 50)
    val found = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("computeIfAbsent(") || line.contains("getModificationTime") =>
          s"$p:${i + 1}"
      }
    }
    assert(found.isEmpty, s"key session state through graft.Memo: ${found.mkString(", ")}")
  }
}
