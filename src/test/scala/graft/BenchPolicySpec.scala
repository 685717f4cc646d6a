package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's sampling policy on hand-built samples — no SparkSession. */
class BenchPolicySpec extends AnyFunSuite {
  import BenchPolicy._

  private def s(wall: Double, steal: Double = 0, psiCpu: Double = 0,
      psiIo: Double = 0): Bench.Sample =
    Bench.Sample(wall, 0, 0, 0, 0, 0, 0, 0, 0, steal, psiCpu, psiIo)

  test("the steal rule is normalized by core count") {
    // the threshold is 10% of wall·cores: on a 10 s wall, 1 steal-s at
    // 1 core and 32 steal-s at 32 cores
    assert(tainted(s(10, steal = 11), cores = 1))
    assert(!tainted(s(10, steal = 11), cores = 32))
    assert(tainted(s(10, steal = 33), cores = 32))
    assert(!tainted(s(10, steal = 32), cores = 32))
    // -1: /proc/stat unreadable, no evidence either way
    assert(!tainted(s(10, steal = -1), cores = 1))
  }

  test("the PSI rule is skipped when either reading is -1") {
    assert(tainted(s(10, psiCpu = 1.5, psiIo = 1.0), cores = 4))
    assert(!tainted(s(10, psiCpu = 1.0, psiIo = 1.0), cores = 4))
    assert(!tainted(s(10, psiCpu = -1, psiIo = 5.0), cores = 4))
    assert(!tainted(s(10, psiCpu = 5.0, psiIo = -1), cores = 4))
  }

  test("an ordinary query reports the minimum of its untainted samples") {
    val ss = Seq(s(3.0), s(1.0, steal = 100), s(2.0), s(2.5))
    assert(official(ss, multiJob = false, cores = 4) == (2.0, false))
  }

  test("a multi-job query reports the lower-middle median") {
    val ss = Seq(s(4.0), s(1.0), s(3.0), s(2.0))
    assert(official(ss, multiJob = true, cores = 4) == (2.0, false))
    assert(official(ss :+ s(5.0), multiJob = true, cores = 4) == (3.0, false))
  }

  test("an all-tainted query reports its minimum-wall sample, flagged") {
    val ss = Seq(s(3.0, steal = 100), s(2.0, steal = 100), s(4.0, psiIo = 4))
    assert(official(ss, multiJob = true, cores = 4) == (2.0, true))
    assert(official(ss, multiJob = false, cores = 4) == (2.0, true))
  }

  test("any failed sample makes the official number -1") {
    val ss = Seq(s(1.0), s(-1.0), s(2.0))
    assert(official(ss, multiJob = false, cores = 4)._1 == -1.0)
    assert(official(ss, multiJob = true, cores = 4)._1 == -1.0)
    assert(!wantsTaintResample(Seq(s(-1.0)), cores = 4))
    assert(!wantsSpreadResample(Seq(s(1.0), s(-1.0), s(3.0)), cores = 4))
  }

  test("escalation: taint resample until two clean samples, cap 8; spread > 2x") {
    assert(wantsTaintResample(Seq(s(1.0), s(1.0, steal = 100)), cores = 4))
    assert(!wantsTaintResample(Seq(s(1.0), s(1.1)), cores = 4))
    assert(!wantsTaintResample(Seq.fill(8)(s(1.0, steal = 100)), cores = 4))
    assert(wantsSpreadResample(Seq(s(1.0), s(2.5)), cores = 4))
    assert(!wantsSpreadResample(Seq(s(1.0), s(1.9)), cores = 4))
    // below 0.5 s a spread is timer noise
    assert(!wantsSpreadResample(Seq(s(0.2), s(0.9)), cores = 4))
  }
}
