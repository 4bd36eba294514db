package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail percentile keeps at least ten samples beyond it") {
    assert(Stats.effectiveQ(1000, 0.99) == 0.99)
    assert(Stats.effectiveQ(200, 0.99) == 0.95)
    assert(Stats.effectiveQ(50, 0.9) == 0.8)
    for (n <- 20 to 2000; nominal <- Seq(0.5, 0.9, 0.99)) {
      val q = Stats.effectiveQ(n, nominal)
      assert(q <= nominal)
      assert(Stats.beyond(n, q) >= Stats.Beyond, s"n=$n nominal=$nominal q=$q")
    }
  }

  test("the percentile is the highest one the sample count supports") {
    // one step above the reported percentile would leave fewer than ten
    for (n <- 20 to 2000) {
      val q = Stats.effectiveQ(n, 0.99)
      if (q < 0.99) assert(Stats.beyond(n, q + 1.0 / n) < Stats.Beyond, s"n=$n")
    }
  }

  test("short runs fall back to the median and still report their count") {
    val p = Stats.pct(Array(5.0, 1.0, 3.0), 0.99)
    assert(p.q == 0.5 && p.value == 3.0 && p.n == 3)
    val q = Stats.pct((1 to 100).map(_.toDouble).toArray, 0.99)
    assert(q.q == 0.9 && q.value == 90.0 && q.n == 100)
  }

  test("median of even and odd counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
