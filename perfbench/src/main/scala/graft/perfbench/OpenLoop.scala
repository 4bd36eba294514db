package graft.perfbench

trait Clock {
  def now(): Long
  def sleepUntil(t: Long): Unit
}

object SystemClock extends Clock {
  def now(): Long = System.nanoTime()
  def sleepUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = t - System.nanoTime()
    }
  }
}

/** An open-loop generator: request i is due at `start + i * period`
  * whether or not request i-1 has finished. Each request is timed
  * from its due time, so a stall also charges the requests queued
  * behind it, and `late` records how far the generator itself fell
  * behind its schedule when it sent. The window ends at `end`: a
  * request still waiting then is not sent, and is charged the wait it
  * has had so far (a lower bound), so a stall at the end stays visible
  * without stretching the window.
  */
object OpenLoop {
  /** Runs until the next due time reaches `end`; returns requests sent.
    * `record(latencyNs, lateNs)` gets one call per request due.
    */
  def run(clock: Clock, start: Long, periodNs: Long, end: Long)
         (op: Int => Unit)(record: (Long, Long) => Unit): Int = {
    var i = 0
    var sentCount = 0
    var due = start
    while (due < end) {
      clock.sleepUntil(due)
      val sent = clock.now()
      if (sent >= end) record(sent - due, sent - due)
      else {
        op(i)
        sentCount += 1
        record(clock.now() - due, sent - due)
      }
      i += 1
      due = start + i * periodNs
    }
    sentCount
  }
}
