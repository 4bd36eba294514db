package graft.perfbench

/** Latency summaries under one reporting rule: a tail percentile is
  * only as high as the sample count supports. The reported "p99" of a
  * class is the highest percentile at or below 99 that leaves at least
  * `Stats.Beyond` samples strictly above it, so a short run never
  * reports its single slowest sample as a p99. Never below the median.
  */
object Stats {
  val Beyond = 10

  /** The percentile actually reported for `nominal` over `n` samples. */
  def effectiveQ(n: Int, nominal: Double): Double =
    if (n <= 0) nominal
    else math.max(0.5, math.min(nominal, (n - Beyond).toDouble / n))

  /** Nearest-rank percentile of an ascending array. */
  def nearestRank(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "no samples")
    val idx = rank(sorted.length, q) - 1
    sorted(math.max(0, math.min(sorted.length - 1, idx)))
  }

  /** Samples strictly above the nearest-rank percentile `q`. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, rank(n, q))

  /** 1-based nearest rank; the epsilon keeps (n - 10) / n * n at n - 10. */
  private def rank(n: Int, q: Double): Int = math.ceil(q * n - 1e-9).toInt

  final case class Pct(value: Double, q: Double, n: Int)

  def pct(samples: Array[Double], nominal: Double): Pct = {
    val s = samples.clone()
    java.util.Arrays.sort(s)
    val q = effectiveQ(s.length, nominal)
    Pct(nearestRank(s, q), q, s.length)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Growable primitive sample buffer, one per client thread and class,
  * so recording a latency never contends across threads.
  */
final class Samples {
  private var a = new Array[Double](256)
  private var n = 0
  def add(x: Double): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def size: Int = n
  def toArray: Array[Double] = java.util.Arrays.copyOf(a, n)
}
