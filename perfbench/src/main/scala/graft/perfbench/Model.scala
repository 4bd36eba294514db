package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

/** One write of one key as the benchmark issued it. `start` is taken
  * before the call and `ack` after it returned, so the engine applied
  * the write somewhere inside [start, ack].
  */
final class Version(val cents: Long, val start: Long) {
  @volatile var ack: Long = Long.MaxValue
  @volatile var failed: Boolean = false
}

/** Aggregate model state at one instant (all money in cents). */
final case class AggSnap(count: Long, sum: Long, inPos: Long, inNeg: Long, inCount: Long,
                         startedPos: Long, startedNeg: Long, startedCount: Long,
                         maxAcked: Long, maxStarted: Long)

final case class Bounds(lo: Double, hi: Double) {
  def contains(x: Double, rel: Double): Boolean = {
    val slack = rel * math.max(math.abs(lo), math.abs(hi)) + 1e-9
    x >= lo - slack && x <= hi + slack
  }
}

/** COUNT, SUM, MIN and MAX(amount) bounds over a key range. */
final case class RangeBounds(count: Long, sum: Bounds, min: Bounds, max: Bounds)

/** The benchmark's model of every write it issued: the table the
  * engine must hold. Keys 0 until n are pre-loaded with
  * Gen.seedCents; every later write to a key is kept as a version with
  * its [start, ack] interval, newest first. Each key has one writer
  * (Gen.ownKey), so a key's versions never overlap each other.
  */
final class Model(seed: Long, val n: Long) {
  private val hist = new ConcurrentHashMap[java.lang.Long, List[Version]]()

  private var count = n
  private var sum = {
    var s = 0L; var k = 0L
    while (k < n) { s += Gen.seedCents(seed, k); k += 1 }
    s
  }
  private var inPos, inNeg, inCount, startedPos, startedNeg, startedCount = 0L
  private var maxAcked, maxStarted = n - 1

  /** The value a key's owner last wrote and saw acknowledged. */
  def current(k: Long): Option[Long] =
    Option(hist.get(k)).flatMap(_.find(v => !v.failed).map(_.cents))
      .orElse(if (k < n) Some(Gen.seedCents(seed, k)) else None)

  final class Pending(val items: Seq[(Long, Version, Long)], val pos: Long,
                      val neg: Long, val inserts: Long)

  /** Register writes about to be issued; `(key, cents)` per row. */
  def begin(rows: Seq[(Long, Long)], start: Long): Pending = {
    var pos, neg, ins = 0L
    var maxKey = -1L
    val items = rows.map { case (k, c) =>
      val before = current(k)
      val delta = c - before.getOrElse(0L)
      if (delta > 0) pos += delta else neg -= delta
      if (before.isEmpty) ins += 1
      maxKey = math.max(maxKey, k)
      val v = new Version(c, start)
      hist.merge(k, List(v), (old, nu) => nu ++ old)
      (k, v, delta)
    }
    synchronized {
      inPos += pos; inNeg += neg; inCount += ins
      startedPos += pos; startedNeg += neg; startedCount += ins
      maxStarted = math.max(maxStarted, maxKey)
    }
    new Pending(items, pos, neg, ins)
  }

  def ack(p: Pending, ok: Boolean, at: Long): Unit = {
    p.items.foreach { case (_, v, _) => if (!ok) v.failed = true; v.ack = at }
    synchronized {
      inPos -= p.pos; inNeg -= p.neg; inCount -= p.inserts
      if (ok) {
        sum += p.items.map(_._3).sum
        count += p.inserts
        maxAcked = math.max(maxAcked, p.items.map(_._1).max)
      }
    }
  }

  def snap(): AggSnap = synchronized {
    AggSnap(count, sum, inPos, inNeg, inCount, startedPos, startedNeg, startedCount,
      maxAcked, maxStarted)
  }

  /** Whole-table bounds for a statement that ran between `a` and `b`. */
  def countBounds(a: AggSnap, b: AggSnap): Bounds =
    Bounds(a.count.toDouble, (a.count + a.inCount + b.startedCount - a.startedCount).toDouble)
  def sumBounds(a: AggSnap, b: AggSnap): Bounds =
    Bounds((a.sum - a.inNeg - (b.startedNeg - a.startedNeg)) / 100.0,
      (a.sum + a.inPos + (b.startedPos - a.startedPos)) / 100.0)
  def maxIdBounds(a: AggSnap, b: AggSnap): Bounds =
    Bounds(a.maxAcked.toDouble, b.maxStarted.toDouble)

  /** Values key `k` may show to a read that ran between rs and re:
    * every version that could have been the newest applied one at
    * some instant of that interval.
    */
  def acceptable(k: Long, rs: Long, re: Long): List[Long] = {
    val vs = Option(hist.get(k)).getOrElse(Nil).filterNot(_.failed)
    val out = List.newBuilder[Long]
    var newerAck = Long.MaxValue
    var done = false
    val it = vs.iterator
    while (!done && it.hasNext) {
      val v = it.next()
      if (newerAck < rs) done = true
      else {
        if (v.start < re) out += v.cents
        newerAck = v.ack
      }
    }
    if (!done && newerAck >= rs && k < n) out += Gen.seedCents(seed, k)
    out.result()
  }

  /** Whether any write to `k` was issued since the table was loaded. */
  def written(k: Long): Boolean = hist.containsKey(k)

  /** Per-group (exact count, SUM(amount) bounds) over keys a..b. */
  def groupBounds(a: Long, b: Long, rs: Long, re: Long): Map[Long, (Long, Bounds)] = {
    val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long)]
    var k = a
    while (k <= b) {
      val vs = acceptable(k, rs, re)
      val g = Gen.group(k)
      val (c, lo, hi) = acc.getOrElse(g, (0L, 0L, 0L))
      acc(g) = (c + 1, lo + vs.min, hi + vs.max)
      k += 1
    }
    acc.map { case (g, (c, lo, hi)) => g -> (c, Bounds(lo / 100.0, hi / 100.0)) }.toMap
  }

  /** Bounds of COUNT/SUM/MIN/MAX(amount) over pre-loaded keys a..b. */
  def rangeBounds(a: Long, b: Long, rs: Long, re: Long): RangeBounds = {
    var sLo, sHi = 0L
    var minLo, minHi = Long.MaxValue
    var maxLo, maxHi = Long.MinValue
    var k = a
    while (k <= b) {
      val acc = acceptable(k, rs, re)
      val lo = acc.min; val hi = acc.max
      sLo += lo; sHi += hi
      minLo = math.min(minLo, lo); minHi = math.min(minHi, hi)
      maxLo = math.max(maxLo, lo); maxHi = math.max(maxHi, hi)
      k += 1
    }
    RangeBounds(b - a + 1, Bounds(sLo / 100.0, sHi / 100.0),
      Bounds(minLo / 100.0, minHi / 100.0), Bounds(maxLo / 100.0, maxHi / 100.0))
  }

  /** Final value of every key once all writes have returned. */
  def finalState(): scala.collection.Map[Long, Long] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Long]
    var k = 0L
    while (k < n) { m(k) = Gen.seedCents(seed, k); k += 1 }
    hist.forEach { (key, vs) => vs.find(!_.failed).foreach(v => m(key.longValue) = v.cents) }
    m
  }
}

/** Numeric comparison under the engine's output rule: doubles print
  * at 6 significant digits, so a printed value matches when it is
  * within half a unit of the sixth digit of the expected one.
  */
object Check {
  val Rel6 = 5e-6

  def within(printed: String, b: Bounds): Boolean =
    printed.toDoubleOption.exists(b.contains(_, Rel6))

  /** The documented rule applied to an exact value. */
  def fmt6(d: Double): String =
    new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString
}
