package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §8 is the judge's coverage map and was maintained BY HAND for
  * 16 rounds ("Record qNNN in the coverage map" commits) — drift-prone
  * in a 170 KB file (r16 verdict item 7: this spec found q32, the
  * flagship itself, and q128 missing on its first run). Asserts the map
  * and the registry can never drift again:
  *
  *   1. every `SparkEntry.queries` entry appears in §8 (by its qNNN
  *      short token, or verbatim for m_* / irregular names), and
  *   2. every qNNN token the §8 text mentions resolves to a registered
  *      query (no stale rows surviving a rename).
  *
  * Pure map + file algebra — no SparkSession, runs in milliseconds. */
class CoverageSpec extends AnyFunSuite {

  /** SURVEY.md §8 to EOF (the coverage map plus the per-round addition
    * tables that extend it — all of it is coverage-map content). */
  private lazy val section8: String = {
    val f = new java.io.File("SURVEY.md")
    assert(f.isFile, s"SURVEY.md not found under ${new java.io.File(".").getAbsolutePath}")
    val text = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val i = text.indexOf("\n## 8. Coverage map")
    assert(i >= 0, "SURVEY.md lost its '## 8. Coverage map' heading")
    text.substring(i)
  }

  /** qNNN / qNNNb short form for regular names; full name otherwise. */
  private def shortToken(name: String): String = {
    val m = "^(q\\d+[a-z]?)_.*$".r
    name match {
      case m(t) => t
      case _ => name
    }
  }

  test("every registered query appears in SURVEY §8") {
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filterNot { k =>
      val t = java.util.regex.Pattern.quote(shortToken(k))
      ("\\b" + t + "\\b").r.findFirstIn(section8).isDefined
    }
    assert(missing.isEmpty,
      s"registry entries absent from SURVEY §8 — add coverage-map " +
        s"rows: ${missing.mkString(", ")}")
  }

  test("every qNNN token in SURVEY §8 resolves to a registered query") {
    val shorts = SparkEntry.queries.keySet.map(shortToken)
    val stale = "\\bq\\d+[a-z]?\\b".r.findAllIn(section8).toSet
      .filterNot(shorts)
    assert(stale.isEmpty,
      s"SURVEY §8 mentions queries that are not in the registry — " +
        s"stale rows or typos: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
