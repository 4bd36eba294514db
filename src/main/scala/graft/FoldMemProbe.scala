package graft

import graft.engine.Engine

/** Measures the REAL retained bytes per AggFold byPk entry — the
  * driver-heap model behind Engine.aggFoldEntryBytes / statsAggHotCap
  * (r22, r21 verdict item 6). Builds the exact structure AggFold keeps
  * (java.util.HashMap keyed by boxed pk, Tuple3 of boxed Boolean +
  * Array[Boolean] + Array[Double] per entry) at several numeric-column
  * widths and prints post-GC heap deltas next to the model.
  *
  * Usage: runMain graft.FoldMemProbe
  */
object FoldMemProbe {
  private def settledUsed(): Long = {
    var prev = Long.MaxValue
    var cur = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    var i = 0
    while (i < 8 && cur < prev) {
      prev = cur
      System.gc(); Thread.sleep(150)
      cur = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
      i += 1
    }
    cur
  }

  def measure(n: Int, k: Int): (Double, Long) = {
    val before = settledUsed()
    val m = new java.util.HashMap[Any, (Boolean, Array[Boolean], Array[Double])]()
    var i = 0
    while (i < n) {
      m.put(java.lang.Long.valueOf(i.toLong),
        (true, new Array[Boolean](k), new Array[Double](k)))
      i += 1
    }
    val after = settledUsed()
    val per = (after - before).toDouble / n
    val model = Engine.aggFoldEntryBytes(k)
    println(f"n=$n%d k=$k%d measured=${per}%.0f B/entry model=$model B/entry")
    require(m.size == n) // keep the map reachable until after the measure
    (per, model)
  }

  def main(args: Array[String]): Unit = {
    measure(1000000, 2)
    measure(1000000, 32)
    measure(200000, 1000)
  }
}
