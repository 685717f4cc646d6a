package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the union of `SparkEntry.modules`: each module
  * named once, each key defined by exactly one module. */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds 329 queries and 310 oracles") {
    assert(SparkEntry.queries.size == 329)
    assert(SparkEntry.oracleSql.size == 310)
  }

  test("every module is named once and no key belongs to two modules") {
    val mods = SparkEntry.modules
    assert(mods.distinct.size == mods.size)
    assert(mods.map(_.queries.size).sum == SparkEntry.queries.size)
    assert(mods.map(_.oracle.size).sum == SparkEntry.oracleSql.size)
  }

  test("a key defined by two modules makes the derivation throw") {
    val a = Map("q1_a" -> 1, "q2_b" -> 2)
    val b = Map("q3_c" -> 3, "q1_a" -> 4)
    assert(SparkEntry.union(Seq(a, Map("q3_c" -> 3))).size == 3)
    val e = intercept[IllegalArgumentException](SparkEntry.union(Seq(a, b)))
    assert(e.getMessage.contains("q1_a"), e.getMessage)
  }

  test("Bench's query sets name registered queries") {
    assert(Bench.heavyModelFits.size == 25)
    assert(Bench.multiJobQueries.size == 12)
    val unknown = (Bench.heavyModelFits ++ Bench.multiJobQueries) --
      SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"unregistered: ${unknown.toSeq.sorted}")
  }
}
