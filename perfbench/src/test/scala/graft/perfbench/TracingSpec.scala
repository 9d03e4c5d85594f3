package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracingSpec extends AnyFunSuite {

  test("traced cycles alternate which arm of a pair runs first") {
    assert((0 until 8).map(Main.tracedCycle) ==
      Seq(false, true, true, false, false, true, true, false))
  }

  test("tracing overhead is the median of the paired ratios") {
    // two kinds per cycle; pair 0 is (untraced, traced), pair 1 the reverse
    def op(c: Int, kind: Int, ms: Double) =
      Main.Timed(c, Main.tracedCycle(c), Sample(ms, 1.0, ms / 1e3, kind))
    val timed = Seq(
      op(0, 0, 100), op(0, 1, 200), op(1, 0, 110), op(1, 1, 220),
      op(2, 0, 105), op(2, 1, 210), op(3, 0, 100), op(3, 1, 200))
    val (lat, thr) = Main.overheadPct(timed)
    // latency ratios 1.1, 1.1, 1.05, 1.05: nearest-rank median 1.05
    assert(math.abs(lat - 5.0) < 1e-9)
    // throughput ratios 330/300 and 315/300: nearest-rank median 1.05
    assert(math.abs(thr - 5.0) < 1e-9)
  }

  test("a pair without a traced half gives no ratio") {
    val timed = Seq(Main.Timed(0, traced = false, Sample(100, 1.0, 0.1)))
    assert(Main.overheadPct(timed) == ((0.0, 0.0)))
  }
}
