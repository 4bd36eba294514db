package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** A5 gate: no-WHERE aggregates are answered from tier stats + a hot
  * fold WITHOUT launching a Spark job once the stats are seeded —
  * the reference's stats-accelerated-aggregation idea
  * (hybrid_query_router.hpp:404-446, columnar_format.hpp:143-191)
  * actually wired into SQL. Job-freeness is observed through a
  * job-start listener; counters are poll-stabilized (the listener bus
  * is async and private[spark] — never waitUntilEmpty in specs).
  */
class StatsAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val jobStarts = new AtomicLong(0L)
  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStarts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** poll until the async listener counter stops moving, then return it */
  private def stableJobCount(): Long = {
    listener
    var prev = -1L
    var cur = jobStarts.get()
    var spins = 0
    while (cur != prev && spins < 100) {
      Thread.sleep(30)
      prev = cur
      cur = jobStarts.get()
      spins += 1
    }
    cur
  }

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
    try f(dir)
    finally graft.engine.Persist.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  private def seed(e: Engine, n: Int): Unit = {
    assert(e.sql("CREATE TABLE sa (id BIGINT NOT NULL, v INT, d DOUBLE, s VARCHAR(20))").ok)
    (1 to n).grouped(500).foreach { chunk =>
      e.batchPut("sa", chunk.map(i =>
        Array[Any](i.toLong, Int.box(i), i * 0.01, s"s_$i")))
    }
  }

  private val aggStmts = Seq(
    "SELECT COUNT(*) FROM sa", "SELECT COUNT(v) FROM sa",
    "SELECT SUM(d) FROM sa", "SELECT AVG(d) FROM sa",
    "SELECT MIN(v) FROM sa", "SELECT MAX(v) FROM sa",
    "SELECT SUM(s) FROM sa")

  private def bothPathsAgree(e: Engine): Unit =
    aggStmts.foreach { q =>
      e.statsAggEnabled = true
      val fast = e.sql(q)
      e.statsAggEnabled = false
      val slow = e.sql(q)
      e.statsAggEnabled = true
      assert(fast.ok && slow.ok && fast.rows == slow.rows, s"$q fast=${fast.rows} slow=${slow.rows}")
    }

  test("flush-seeded aggregates launch no Spark job at all") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), hotLimit = Int.MaxValue)
      seed(e, 2000)
      e.forceFlush("sa") // tier born from driver rows: stats seeded free
      val before = stableJobCount()
      aggStmts.foreach(q => assert(e.sql(q).ok))
      assert(stableJobCount() == before,
        "no-WHERE aggregates over a flush-seeded tier must not launch Spark jobs")
      bothPathsAgree(e)
    }
  }

  test("hot inserts over cold stay job-free (bloom-negative shadow checks)") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), hotLimit = Int.MaxValue)
      seed(e, 2000)
      e.forceFlush("sa")
      // fresh pks: absent from every tier — the shadow resolution must
      // stay driver-side (footer ranges + blooms), no job
      e.batchPut("sa", (3001 to 3100).map(i =>
        Array[Any](i.toLong, Int.box(i), i * 0.01, s"h_$i")))
      val before = stableJobCount()
      aggStmts.foreach(q => assert(e.sql(q).ok))
      assert(stableJobCount() == before,
        "hot-over-cold aggregates with fresh pks must not launch Spark jobs")
      bothPathsAgree(e)
    }
  }

  test("hot updates shadowing cold rows are subtracted exactly") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), hotLimit = Int.MaxValue)
      seed(e, 1000)
      e.forceFlush("sa")
      // overwrite mid rows and tombstone some — COUNT/SUM/AVG must
      // resolve the shadowed cold versions driver-side
      assert(e.sql("UPDATE sa SET v = 100000, d = 5.5 WHERE id = 500").rowsAffected == 1)
      assert(e.sql("DELETE FROM sa WHERE id = 501").rowsAffected == 1)
      bothPathsAgree(e)
      // and the SUM/COUNT queries stay job-free even with shadows
      val before = stableJobCount()
      assert(e.sql("SELECT SUM(d) FROM sa").ok)
      assert(e.sql("SELECT COUNT(*) FROM sa").ok)
      assert(stableJobCount() == before)
    }
  }

  test("shadowed extreme falls back to the Spark path and stays exact") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), hotLimit = Int.MaxValue)
      seed(e, 100)
      e.forceFlush("sa")
      // id=100 holds MAX(v); deleting it makes the cold max unknowable
      // from stats alone — the answer must still be exact (id=99)
      assert(e.sql("DELETE FROM sa WHERE id = 100").rowsAffected == 1)
      val r = e.sql("SELECT MAX(v) FROM sa")
      assert(r.ok && r.rows == Vector(Vector("99")), r.rows)
      // and MIN: overwrite the min row with a larger value
      assert(e.sql("UPDATE sa SET v = 500 WHERE id = 1").rowsAffected == 1)
      val r2 = e.sql("SELECT MIN(v) FROM sa")
      assert(r2.ok && r2.rows == Vector(Vector("2")), r2.rows)
      bothPathsAgree(e)
    }
  }

  test("multi-tier stats compute lazily in ONE job then cache; compaction carries them") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), hotLimit = Int.MaxValue, compactTrigger = 99)
      seed(e, 1000)
      e.forceFlush("sa")
      e.batchPut("sa", (2001 to 2500).map(i =>
        Array[Any](i.toLong, Int.box(i), i * 0.01, s"t2_$i")))
      e.forceFlush("sa") // second tier: eager seeding no longer applies
      assert(e.sql("SELECT SUM(v) FROM sa").ok) // lazy stats job here
      val warm = stableJobCount()
      aggStmts.foreach(q => assert(e.sql(q).ok))
      assert(stableJobCount() == warm,
        "after the lazy stats job, multi-tier aggregates must be job-free")
      bothPathsAgree(e)
      // a content-preserving major merge must carry the stats across
      // the swap — no recompute, no job
      e.compact("sa")
      val afterCompact = stableJobCount()
      assert(e.sql("SELECT SUM(v) FROM sa").ok)
      assert(e.sql("SELECT COUNT(*) FROM sa").ok)
      assert(stableJobCount() == afterCompact,
        "compaction swaps preserve the cold live view — stats must carry, not recompute")
      bothPathsAgree(e)
    }
  }

  test("statsAggHotCap: width-scaled fold cap stays inside the byte budget") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir))
      // anchor: the r20-measured 4M-row cap is preserved exactly at the
      // measured 2-numeric-column bench width (and is the ceiling —
      // wider caps were never measured)
      assert(e.statsAggHotCap(2) == (1 << 22))
      assert(e.statsAggHotCap(1) == (1 << 22))
      var prev = Int.MaxValue
      for (k <- Seq(1, 2, 8, 32, 128, 1000, 10000)) {
        val cap = e.statsAggHotCap(k)
        // the bound (r21 verdict item 6): projected byPk bytes at the
        // cap never exceed the budget the measured 4M×2-col constant
        // implied — except at the 64k floor, where the fold map is
        // still strictly smaller than the hot store it mirrors
        // (per-row fold bytes ~180+9k vs >=24k in the store's boxed
        // RowVersions), so the floor can never out-grow memory the
        // store already committed to
        assert(cap.toLong * Engine.aggFoldEntryBytes(k) <= e.statsAggFoldBudgetBytes
          || cap == (1 << 16),
          s"k=$k cap=$cap exceeds the fold byte budget off-floor")
        assert(cap >= (1 << 16) && cap <= (1 << 22))
        assert(cap <= prev, s"cap must be non-increasing in width (k=$k)")
        prev = cap
      }
    }
  }

  test("snapshotCached reuses the same plan until a write bumps the version") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir))
      seed(e, 100)
      val a = e.snapshotCached("sa")
      val b = e.snapshotCached("sa")
      assert(a eq b, "unchanged version must return the identical cached DataFrame")
      assert(e.sql("INSERT INTO sa VALUES (9999, 1, 1.0, 'x')").ok)
      val c = e.snapshotCached("sa")
      assert(!(a eq c), "a write must invalidate the cached snapshot")
      assert(c.count() == 101)
    }
  }
}
