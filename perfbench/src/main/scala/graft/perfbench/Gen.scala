package graft.perfbench

/** Seeded input generation. Every key, range bound and value a
  * statement carries comes from a `Gen` derived from the run's seed,
  * so one seed always yields the same inputs and two seeds differ.
  */
final class Gen(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def long(bound: Long): Long = r.nextLong(bound)
  def int(bound: Int): Int = r.nextInt(bound)
  def unit(): Double = r.nextDouble()
  /** An independent stream, e.g. one per client thread. */
  def stream(id: Long): Gen = new Gen(Gen.mix(seed, id))
}

object Gen {
  /** SplitMix64 finaliser over the pair: a cheap, well-spread hash. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Seeded value of a pre-loaded row, a pure function of (seed, key)
    * so the correctness model never stores the initial table.
    */
  def seedCents(seed: Long, key: Long): Long = java.lang.Math.floorMod(mix(seed, key), 100000L)
  def group(key: Long): Long = java.lang.Math.floorMod(mix(17L, key), 16L)
  def note(key: Long): String = s"n${key % 997}"

  /** Move `key` into the partition of keys owned by writer `owner` of
    * `owners` (key mod owners == owner), staying below `n`. Disjoint
    * write sets keep each key's version history single-writer, so the
    * model knows every key's final value exactly.
    */
  def ownKey(key: Long, owner: Int, owners: Int, n: Long): Long = {
    val k = key - java.lang.Math.floorMod(key, owners.toLong) + owner
    if (k < n) k else k - owners
  }
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup; rank r maps to
  * a key through a fixed odd-multiplier bijection, so the hot keys are
  * spread over the key space instead of clustered at its start.
  */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }
  private val mult: Long = {
    var m = 2654435761L % n
    while (BigInt(m).gcd(BigInt(n)) != 1) m += 1
    m
  }
  def rank(g: Gen): Int = {
    val i = java.util.Arrays.binarySearch(cdf, g.unit())
    if (i >= 0) i else math.min(n - 1, -i - 1)
  }
  def key(g: Gen): Long = (rank(g).toLong * mult) % n
}

/** Smooth weighted round-robin over a statement mix: every `total`
  * consecutive picks contain each class exactly `weight` times, so a
  * run's share of slow statements does not vary by chance.
  */
final class Mix(weights: Seq[(String, Int)]) {
  private val total = weights.map(_._2).sum
  private val cur = new Array[Int](weights.size)
  def next(): String = {
    var best = 0
    for (i <- weights.indices) {
      cur(i) += weights(i)._2
      if (cur(i) > cur(best)) best = i
    }
    cur(best) -= total
    weights(best)._1
  }
}
