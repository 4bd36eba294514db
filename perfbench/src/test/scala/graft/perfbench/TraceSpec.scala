package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def sp(name: String, s: Long, e: Long, parent: Int) = Span(name, s, e, parent, 1L)

  test("self time is duration minus the interval covered by children") {
    val spans = Vector(
      sp("client", 0, 100, -1),
      sp("sqlfront", 0, 10, 0),
      sp("engine", 10, 90, 0),
      sp("spark", 20, 50, 2),
      sp("spark", 40, 70, 2)) // overlaps the first job: covered once
    assert(Trace.selfTimes(spans) == Vector(10L, 10L, 30L, 30L, 30L))
    assert(Trace.selfByName(spans) == Map("client" -> 10L, "sqlfront" -> 10L,
      "engine" -> 30L, "spark" -> 60L))
  }

  test("children reaching outside their parent are clipped to it") {
    val spans = Vector(sp("engine", 100, 200, -1), sp("spark", 50, 150, 0), sp("spark", 180, 400, 0))
    assert(Trace.selfTimes(spans).head == 30L)
  }

  test("self times of a request sum to its root duration") {
    val rt = new ReqTrace(9L)
    rt.span("client", -1) {
      rt.span("sqlfront", 0)(Thread.sleep(2))
      rt.span("engine", 0)(Thread.sleep(3))
    }
    val spans = rt.spans.toIndexedSeq
    assert(spans.forall(_.req == 9L))
    assert(Trace.selfTimes(spans).sum == spans.head.end - spans.head.start)
  }

  test("covered length of disjoint, nested and empty interval sets") {
    assert(Trace.covered(Nil, 0, 10) == 0)
    assert(Trace.covered(Seq((1L, 3L), (5L, 6L)), 0, 10) == 3)
    assert(Trace.covered(Seq((1L, 9L), (2L, 3L)), 0, 10) == 8)
  }
}
