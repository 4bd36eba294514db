package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  test("a read may see exactly the versions live at some instant of it") {
    val m = new Model(1L, 10L)
    val seeded = Gen.seedCents(1L, 3L)
    val p1 = m.begin(Seq(3L -> 111L), start = 100L)
    m.ack(p1, ok = true, at = 110L)
    val p2 = m.begin(Seq(3L -> 222L), start = 200L)
    m.ack(p2, ok = true, at = 210L)
    assert(m.acceptable(3L, 0L, 50L) == List(seeded))
    assert(m.acceptable(3L, 105L, 150L).toSet == Set(111L, seeded))
    assert(m.acceptable(3L, 150L, 160L) == List(111L))
    assert(m.acceptable(3L, 150L, 205L).toSet == Set(222L, 111L))
    assert(m.acceptable(3L, 300L, 310L) == List(222L))
  }

  test("a failed write is never acceptable and leaves the sums alone") {
    val m = new Model(1L, 10L)
    val before = m.snap()
    val p = m.begin(Seq(4L -> 5L), start = 10L)
    m.ack(p, ok = false, at = 20L)
    assert(m.acceptable(4L, 0L, 100L) == List(Gen.seedCents(1L, 4L)))
    assert(m.snap().sum == before.sum && m.snap().count == before.count)
  }

  test("whole-table bounds widen only by writes in flight") {
    val m = new Model(1L, 10L)
    val a = m.snap()
    val p = m.begin(Seq(100L -> 500L), start = 1L) // an insert
    val mid = m.snap()
    assert(m.countBounds(a, mid) == Bounds(10, 11))
    m.ack(p, ok = true, at = 2L)
    val b = m.snap()
    assert(m.countBounds(b, b) == Bounds(11, 11))
    assert(m.sumBounds(b, b).lo == (a.sum + 500) / 100.0)
    assert(m.maxIdBounds(b, b) == Bounds(100, 100))
  }

  test("printed aggregates match under the 6-significant-digit rule") {
    assert(Check.within("2500000000", Bounds(2.499995000000001e9, 2.499995000000001e9)))
    assert(Check.within("123.457", Bounds(123.4567, 123.4567)))
    assert(!Check.within("123.46", Bounds(123.4567, 123.4567)))
    assert(Check.fmt6(2.499995000000001e9) == "2500000000")
    assert(Check.fmt6(300.0) == "300")
  }
}
