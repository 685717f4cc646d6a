package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: an integer >= 1, else every available processor") {
    assert(GraftSession.coresOf(Some("8")) == 8)
    assert(GraftSession.coresOf(None) == Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("", "four", "4.5", "0", "-2")) {
      val e = intercept[IllegalArgumentException](GraftSession.coresOf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
