package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is the index of
  * the causing span in the same request (-1 for the request's root);
  * all spans of one request share `req`. Times are System.nanoTime.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, req: Long)

/** Spans of one request, recorded by the calling client thread. */
final class ReqTrace(val req: Long) {
  val spans = ArrayBuffer.empty[Span]
  /** The span that Spark jobs of this request are attached under. */
  var engineSpan: Int = -1

  /** Record `name` around `body` under `parent`; returns the body's value. */
  def span[T](name: String, parent: Int)(body: => T): (T, Int) = {
    val idx = spans.size
    spans += Span(name, System.nanoTime(), 0L, parent, req)
    val v = body
    spans(idx) = spans(idx).copy(end = System.nanoTime())
    (v, idx)
  }

  def add(name: String, start: Long, end: Long, parent: Int): Int = {
    spans += Span(name, start, end, parent, req)
    spans.size - 1
  }
}

object Trace {
  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val sp = spans(i)
      val cs = kids.getOrElse(i, Nil).map(k => (spans(k).start, spans(k).end))
      (sp.end - sp.start) - covered(cs, sp.start, sp.end)
    }
  }

  /** Self time summed per span name for one request. */
  def selfByName(spans: IndexedSeq[Span]): Map[String, Long] =
    spans.map(_.name).zip(selfTimes(spans)).groupMapReduce(_._1)(_._2)(_ + _)
}
