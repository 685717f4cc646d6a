package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.text.SparkTestSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Pins` owns exactly the pins it made, and its scope releases them
  * whether the block returns or throws. */
class PinsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def frame(n: Long): DataFrame = spark.range(n).toDF()
  private def persisted(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)

  test("a scope releases its pins when it returns and when it throws") {
    val sc = spark.sparkContext
    var ids = Seq.empty[Int]
    val n = Pins.scoped { pins =>
      val a = pins.pin(frame(10))
      val r = pins.persist(sc.parallelize(1 to 5))
      assert(r.count() == 5)
      ids = Seq(Pins.rddOf(a).id, r.id)
      assert(ids.forall(persisted))
      a.count()
    }
    assert(n == 10)
    assert(!ids.exists(persisted), "returned: every pin released")
    var id = -1
    val e = intercept[IllegalStateException] {
      Pins.scoped { pins =>
        id = Pins.rddOf(pins.pin(frame(10))).id
        assert(persisted(id))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!persisted(id), "thrown: the pin released all the same")
  }

  test("release drops only the pin or RDD it names") {
    Pins.scoped { pins =>
      val a = pins.pin(frame(5))
      val b = pins.pin(frame(6))
      val r = pins.persist(spark.sparkContext.parallelize(1 to 3))
      val (ia, ib) = (Pins.rddOf(a).id, Pins.rddOf(b).id)
      pins.release(a)
      assert(!persisted(ia))
      assert(persisted(ib) && persisted(r.id))
      assert(b.count() == 6)
      pins.release(r)
      assert(!persisted(r.id))
      assert(persisted(ib))
    }
  }

  test("a lazy pin is recorded and released") {
    val id = Pins.scoped { pins =>
      val l = pins.pin(frame(7), eager = false)
      val id = Pins.rddOf(l).id
      assert(persisted(id), "recorded before it materializes")
      assert(l.count() == 7)
      id
    }
    assert(!persisted(id))
  }

  test("a callee's scope leaves a pin its caller made persisted and readable") {
    // the callee derives its own pin from the caller's pinned frame; a
    // release that walked the derived frame's whole plan would also
    // reach the caller's RDD
    def callee(in: DataFrame): Long = Pins.scoped { pins =>
      val mine = pins.pin(in.select((col("id") * 2).as("id")))
      intercept[IllegalArgumentException](pins.release(in.select(col("id"))))
      mine.join(in, "id").count()
    }
    Pins.scoped { pins =>
      val caller = pins.pin(frame(20))
      val id = Pins.rddOf(caller).id
      assert(callee(caller) == 10)
      assert(persisted(id), "the caller's pin outlives the callee's scope")
      assert(caller.count() == 20)
    }
  }

  test("unpersist appears under src/main only in Pins, GraftSession.sweep " +
    "and Lda's Dataset caches") {
    // (file, enclosing member) pairs allowed to call unpersist: the pin
    // owner itself, the between-query sweep, and the Dataset cache of the
    // LDA sweep's features (fitOnline pins through Pins)
    val allowed = Set(("GraftSession.scala", "sweep"), ("Lda.scala", "m_lda_sweep"))
    val member = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r.unanchored
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Pins.scala").toSeq
    def offenders(p: Path): Seq[String] = {
      var enclosing = ""
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        line match { case member(name) => enclosing = name; case _ => () }
        val hit = line.contains("unpersist(") || line.contains("pinnedRdds")
        if (hit && !allowed((p.getFileName.toString, enclosing))) Some(s"$p:${i + 1}") else None
      }.toSeq
    }
    assert(sources.size > 50)
    val found = sources.flatMap(offenders)
    assert(found.isEmpty, s"release pins through graft.Pins: ${found.mkString(", ")}")
  }
}
