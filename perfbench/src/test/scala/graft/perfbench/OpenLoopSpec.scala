package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  /** A clock that only moves when asked: sleeping jumps to the target,
    * a request advances it by its service time.
    */
  final class FakeClock extends Clock {
    var t = 0L
    def now(): Long = t
    def sleepUntil(target: Long): Unit = if (target > t) t = target
  }

  test("requests are timed from their due time, and lateness is recorded") {
    val c = new FakeClock
    val service = Vector(35L, 2L, 2L, 2L, 2L, 2L)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sent = OpenLoop.run(c, start = 0L, periodNs = 10L, end = 60L)(i => c.t += service(i)) {
      (lat, late) => got += ((lat, late))
    }
    assert(sent == 6)
    // request 0 is on time and takes 35; requests 1-3 were due at 10,
    // 20, 30 but could only be sent at 35, 37, 39, so each one's
    // latency includes the wait the stall imposed on it; request 4
    // is still 1 late
    assert(got.toVector == Vector((35L, 0L), (27L, 25L), (19L, 17L), (11L, 9L), (3L, 1L), (2L, 0L)))
  }

  test("requests still waiting when the window closes are charged, not sent") {
    val c = new FakeClock
    val service = Vector(45L, 2L, 2L, 2L, 2L)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sent = OpenLoop.run(c, 0L, 10L, 50L)(i => c.t += service(i))((l, late) => got += ((l, late)))
    assert(sent == 4)
    assert(got.toVector == Vector((45L, 0L), (37L, 35L), (29L, 27L), (21L, 19L), (11L, 11L)))
  }

  test("an on-time generator reports zero lateness and the service time") {
    val c = new FakeClock
    val lat = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    OpenLoop.run(c, 100L, 50L, 600L)(_ => c.t += 5L)((l, late) => lat += ((l, late)))
    assert(lat.size == 10 && lat.forall(_ == ((5L, 0L))))
  }
}
