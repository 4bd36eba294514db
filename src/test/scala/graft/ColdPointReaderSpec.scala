package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ColdPointReader, Engine}

/** Cold point-read metadata cache (VERDICT r4 #3): tier files are
  * immutable, so footer stats and the pk bloom filter are read once per
  * file and every subsequent lookup prunes in memory — a warm-cache
  * point read opens ONLY the file that holds the key, and a miss opens
  * none (the reference's per-SSTable bloom + sparse-index cache,
  * sstable.hpp).
  */
class ColdPointReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cpr").toString
    try f(dir)
    finally graft.engine.Persist.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("warm cache: lookups open only range-covering files and parse no footers") {
    withDir { dir =>
      // compactTrigger high: keep the three disjoint-range L0 tiers as-is
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE cp (id BIGINT NOT NULL, v INT)").ok)
      for (t <- 0 until 3) {
        val rows = (t * 1000 + 1 to t * 1000 + 100)
          .map(i => Array[Any](i.toLong, Int.box(i)))
        e.batchPut("cp", rows)
        e.forceFlush("cp")          // one pk-sorted file per tier (coalesce(1))
      }

      ColdPointReader.invalidateCache()
      val footers0 = ColdPointReader.footersParsed.get()
      assert(e.sql("SELECT v FROM cp WHERE id = 50").rows.head.head == "50")
      assert(ColdPointReader.footersParsed.get() > footers0,
        "cold cache must parse footers once")

      // warm cache, key in the middle tier: exactly one file touched
      val footers1 = ColdPointReader.footersParsed.get()
      val opened1  = ColdPointReader.dataFilesOpened.get()
      assert(e.sql("SELECT v FROM cp WHERE id = 1050").rows.head.head == "1050")
      assert(ColdPointReader.footersParsed.get() == footers1,
        "warm cache must not re-parse footers")
      assert(ColdPointReader.dataFilesOpened.get() == opened1 + 1,
        "only the covering tier's file may be opened")

      // key outside every tier's pk range: pruned without any I/O
      val opened2 = ColdPointReader.dataFilesOpened.get()
      assert(e.sql("SELECT v FROM cp WHERE id = 99999").rows.isEmpty)
      assert(ColdPointReader.dataFilesOpened.get() == opened2,
        "a miss outside all ranges must open no files")
    }
  }

  test("overlapping tiers: the bloom gate opens only the holding file, none for an absent key") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE ov (id BIGINT NOT NULL, v INT)").ok)
      // tier t holds ids 4i+t: every tier's pk range covers [0, 4000),
      // so min/max prunes nothing and ids 4i+3 are in range everywhere
      for (t <- 0 until 3) {
        e.batchPut("ov", (0 until 1000).map(i => Array[Any](4L * i + t, Int.box(t))))
        e.forceFlush("ov")
      }
      val m = e.storeOf("ov").meta
      val tiers = e.storeOf("ov").coldDirs
      ColdPointReader.invalidateCache()
      assert(ColdPointReader.lookup(spark, m, tiers, 3L).isEmpty) // warm metadata

      val footers = ColdPointReader.footersParsed.get()
      def opens(pk: Long, expect: Option[Int]): Long = {
        val before = ColdPointReader.dataFilesOpened.get()
        assert(ColdPointReader.lookup(spark, m, tiers, pk).map(_.values(1)) == expect)
        ColdPointReader.dataFilesOpened.get() - before
      }
      assert(opens(2000L, Some(0)) == 1, "oldest-tier key: newer tiers must be bloom-rejected")
      assert(opens(2001L, Some(1)) == 1, "middle-tier key: only its holder is opened")
      assert(opens(3111L, None) == 0, "in-range key no tier holds must open no file")
      assert(ColdPointReader.footersParsed.get() == footers, "warm lookups parse no footers")
    }
  }

  test("in-memory bloom: no false negatives for any supported pk type") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      // (DDL type, pk of i): even i are written, odd i are in-range misses
      val types: Seq[(String, Int => Any)] = Seq(
        "BIGINT" -> (i => 1000000007L * i),
        "INT" -> (i => 7 * i - 5000),
        "VARCHAR(20)" -> (i => f"key-$i%05d-\u00e9\ud83d\ude00"),
        "TIMESTAMP" -> (i => 1700000000000000L + 1000003L * i))
      types.zipWithIndex.foreach { case ((ddl, pkOf), n) =>
        val table = s"bl$n"
        assert(e.sql(s"CREATE TABLE $table (id $ddl NOT NULL, v INT)").ok)
        e.batchPut(table, (0 until 2000 by 2).map(i => Array[Any](pkOf(i), Int.box(i))))
        e.forceFlush(table)
        val m = e.storeOf(table).meta
        val tiers = e.storeOf(table).coldDirs
        ColdPointReader.invalidateCache()
        (0 until 2000 by 2).foreach { i =>
          assert(ColdPointReader.lookup(spark, m, tiers, pkOf(i)).map(_.values(1)) == Some(i),
            s"$ddl pk ${pkOf(i)} lost")
        }
        // the gate is live for this type: in-range misses almost never open
        val opened = ColdPointReader.dataFilesOpened.get()
        (1 until 2000 by 2).foreach { i =>
          assert(ColdPointReader.lookup(spark, m, tiers, pkOf(i)).isEmpty)
        }
        val missOpens = ColdPointReader.dataFilesOpened.get() - opened
        assert(missOpens <= 20, s"$ddl: $missOpens of 1000 in-range misses opened the file")
      }
    }
  }

  test("concurrent lookup / lookupMany over overlapping tiers match the model") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE cc (id BIGINT NOT NULL, v INT)").ok)
      // latest cold version per id: Some(v) live, None tombstone
      val model = scala.collection.mutable.HashMap.empty[Long, Option[Int]]
      def put(ids: Seq[Long], v: Int): Unit = {
        e.batchPut("cc", ids.map(id => Array[Any](id, Int.box(v))))
        ids.foreach(model(_) = Some(v))
      }
      put((0L until 8000L by 2), 0)
      e.forceFlush("cc")
      put((1L until 8000L by 4) ++ (0L until 8000L by 8), 1)
      e.forceFlush("cc")
      (0L until 8000L by 24).foreach { id =>
        assert(e.sql(s"DELETE FROM cc WHERE id = $id").ok)
        model(id) = None
      }
      put((3L until 8000L by 8), 2)
      e.forceFlush("cc")
      put((0L until 8000L by 5), 3)
      e.forceFlush("cc")
      val m = e.storeOf("cc").meta
      val tiers = e.storeOf("cc").coldDirs
      assert(tiers.size == 4)
      def expected(id: Long): Option[(Any, Boolean)] =
        model.get(id).map(v => (v.map(Int.box).orNull, v.isEmpty))
      def actual(rv: Option[graft.engine.RowVersion]): Option[(Any, Boolean)] =
        rv.map(r => (if (r.tombstone) null else r.values(1), r.tombstone))

      ColdPointReader.invalidateCache()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 8).map { t =>
        new Thread(() => {
          val rnd = new scala.util.Random(t)
          try (0 until 300).foreach { op =>
            // drop every cache now and then so reads race on the files
            if (t == 0 && op % 100 == 99) ColdPointReader.invalidateCache()
            if (rnd.nextBoolean()) {
              val id = rnd.nextInt(8100).toLong
              val got = actual(ColdPointReader.lookup(spark, m, tiers, id))
              if (got != expected(id)) failures.add(s"lookup($id) = $got, want ${expected(id)}")
            } else {
              val ids = Seq.fill(1 + rnd.nextInt(20))(rnd.nextInt(8100).toLong)
              val got = ColdPointReader.lookupMany(spark, m, tiers, ids)
              ids.foreach { id =>
                val g = actual(got.get(id))
                if (g != expected(id)) failures.add(s"lookupMany($id) = $g, want ${expected(id)}")
              }
            }
          } catch { case ex: Throwable => failures.add(s"thread $t: $ex") }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(failures.isEmpty, failures.asScala.take(10).mkString("\n"))
    }
  }

  test("evictTiers with a relative dataDir still evicts the row cache") {
    // rowCache keys are fully-qualified (file:/abs/…) while a relative
    // dataDir yields relative coldDirs strings; eviction must normalize
    // both sides or it silently no-ops (ADVICE r6 #1).
    val rel = s"target/graft-reldir-${System.nanoTime}"
    try {
      val e = new Engine(spark, Some(rel), compactTrigger = 100)
      // this test counts FILE OPENS of a repeated statement — the
      // version-keyed result cache would memoize it above this layer
      e.resultCacheEnabled = false
      assert(e.sql("CREATE TABLE rd (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("rd", (1L to 50L).map(i => Array[Any](i, Int.box(i.toInt))))
      e.forceFlush("rd")

      ColdPointReader.invalidateCache()
      e.sql("SELECT v FROM rd WHERE id = 7")              // warm metadata + row cache
      val opened0 = ColdPointReader.dataFilesOpened.get()
      assert(e.sql("SELECT v FROM rd WHERE id = 7").rows.head.head == "7")
      assert(ColdPointReader.dataFilesOpened.get() == opened0,
        "repeat lookup must be row-cache served before eviction")

      val tierDir = e.storeOf("rd").coldDirs.head         // relative path
      assert(!tierDir.startsWith("/"), s"precondition: tier dir is relative ($tierDir)")
      ColdPointReader.evictTiers(Seq(tierDir))

      val opened1 = ColdPointReader.dataFilesOpened.get()
      assert(e.sql("SELECT v FROM rd WHERE id = 7").rows.head.head == "7")
      assert(ColdPointReader.dataFilesOpened.get() > opened1,
        "eviction by the relative dir must drop the qualified row-cache keys")
    } finally graft.engine.Persist.deleteRecursively(java.nio.file.Paths.get(rel))
  }

  test("a missing tier dir is probed but never cached (GC race)") {
    // A lookup holding an older coldDirs snapshot can race deferred tier
    // GC and consult a just-deleted dir; caching its empty listing would
    // poison the cache for a path nothing evicts again (ADVICE r6 #2).
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      // the spec mutates coldDirs directly (stale-snapshot stand-in)
      // without bumping the content version — the result cache would
      // legitimately serve the pre-mutation answer
      e.resultCacheEnabled = false
      assert(e.sql("CREATE TABLE gr (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("gr", (1L to 20L).map(i => Array[Any](i, Int.box(i.toInt))))
      e.forceFlush("gr")

      val store = e.storeOf("gr")
      val real  = store.coldDirs.head
      val ghost = real + "-ghost"
      store.coldDirs = Vector(ghost)                      // stale-snapshot stand-in

      ColdPointReader.invalidateCache()
      assert(e.sql("SELECT v FROM gr WHERE id = 5").rows.isEmpty)
      assert(!ColdPointReader.tierCached(ghost),
        "a nonexistent dir's empty listing must not be cached")

      // the path comes alive (re-minted tier): the earlier probe must
      // not have poisoned the cache with Vector.empty
      java.nio.file.Files.move(
        java.nio.file.Paths.get(real), java.nio.file.Paths.get(ghost))
      assert(e.sql("SELECT v FROM gr WHERE id = 5").rows.head.head == "5",
        "a lookup after the dir appears must see its files")
    }
  }

  test("a retired tier dir is never re-cached after eviction") {
    // the insert race: a listing computed concurrently with evictTiers
    // could win the cache insert after the eviction removed the entry;
    // the observable contract is that a dir, once retired, stays
    // uncached — lookups that still hold it in a stale coldDirs
    // snapshot list it fresh instead of reviving dead metadata
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE rt (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("rt", (1L to 20L).map(i => Array[Any](i, Int.box(i.toInt))))
      e.forceFlush("rt")
      val tierDir = e.storeOf("rt").coldDirs.head

      ColdPointReader.invalidateCache()
      assert(e.sql("SELECT v FROM rt WHERE id = 5").rows.head.head == "5")
      assert(ColdPointReader.tierCached(tierDir), "precondition: live dir caches")

      ColdPointReader.evictTiers(Seq(tierDir))
      assert(!ColdPointReader.tierCached(tierDir))
      // tier files still on disk (deferred GC window): the lookup works
      // by listing fresh, but must not repopulate the cache
      assert(e.sql("SELECT v FROM rt WHERE id = 5").rows.head.head == "5")
      assert(!ColdPointReader.tierCached(tierDir),
        "a retired dir must not re-enter the cache")
    }
  }

  test("newest-first early exit: a shadowed key reads one tier and wins LWW") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE lw (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("lw", (1L to 50L).map(i => Array[Any](i, Int.box(1))))
      e.forceFlush("lw")
      e.batchPut("lw", Seq(Array[Any](7L, Int.box(2))))  // shadow in a younger tier
      e.forceFlush("lw")

      ColdPointReader.invalidateCache()
      e.sql("SELECT v FROM lw WHERE id = 1")             // warm the metadata cache

      val opened = ColdPointReader.dataFilesOpened.get()
      val rs = e.sql("SELECT v FROM lw WHERE id = 7")
      assert(rs.rows.head.head == "2", "younger tier must win LWW")
      assert(ColdPointReader.dataFilesOpened.get() == opened + 1,
        "early exit on the newest tier containing the key")

      // row cache: the repeat lookup is served without any file I/O
      val opened2 = ColdPointReader.dataFilesOpened.get()
      assert(e.sql("SELECT v FROM lw WHERE id = 7").rows.head.head == "2")
      assert(ColdPointReader.dataFilesOpened.get() == opened2,
        "warm-key repeat must hit the row cache, not the file")
    }
  }

  test("lookupMany: one file open per candidate file, LWW across tiers, range pruning for fresh ids") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE lm (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("lm", (1L to 60L).map(i => Array[Any](i, Int.box(1))))
      e.forceFlush("lm")
      // younger tier shadows a slice and adds new keys
      e.batchPut("lm", (50L to 80L).map(i => Array[Any](i, Int.box(2))))
      e.forceFlush("lm")
      val m = e.storeOf("lm").meta
      val tiers = e.storeOf("lm").coldDirs
      ColdPointReader.invalidateCache()
      ColdPointReader.lookup(spark, m, tiers, 1L) // warm tier metadata
      val opened = ColdPointReader.dataFilesOpened.get()
      // 30 pks spanning: old-only (1..10), shadowed (50..60),
      // young-only (70..75), absent-in-range (93..95: covered by no
      // footer range... 93>80 so above range), plus far-future ids
      val pks: Seq[Any] =
        ((1L to 10L) ++ (50L to 60L) ++ (70L to 75L) ++ (93L to 95L) ++
          Seq(1000000L, 2000000L)).map(x => x: Any)
      val got = ColdPointReader.lookupMany(spark, m, tiers, pks)
      assert((1L to 10L).forall(i => got(i).values(1) == 1))
      assert((50L to 60L).forall(i => got(i).values(1) == 2),
        "younger tier must win LWW in the batched path")
      assert((70L to 75L).forall(i => got(i).values(1) == 2))
      assert(!(93L to 95L).exists(got.contains) && !got.contains(1000000L),
        "absent keys resolve to nothing")
      // one reader open per candidate file, NOT per pk: two tiers of
      // one file each = at most 2 opens for the whole 30-pk batch;
      // the far-future ids prune on footer min/max with NO open
      val usedOpens = ColdPointReader.dataFilesOpened.get() - opened
      assert(usedOpens <= 2, s"expected <=2 file opens for the batch, got $usedOpens")
      // verdicts landed in the shared row cache: singles now free
      val opened2 = ColdPointReader.dataFilesOpened.get()
      assert(ColdPointReader.lookup(spark, m, tiers, 55L).get.values(1) == 2)
      assert(ColdPointReader.dataFilesOpened.get() == opened2,
        "batched verdicts must serve subsequent single lookups")
    }
  }

  test("incremental stats fold: counts stay exact across upserts, deletes, shadows, and flush epochs") {
    withDir { dir =>
      val e = new Engine(spark, Some(dir), compactTrigger = 100)
      assert(e.sql("CREATE TABLE fo (id BIGINT NOT NULL, v INT)").ok)
      e.batchPut("fo", (1L to 100L).map(i => Array[Any](i, Int.box(10))))
      e.forceFlush("fo")
      def count(): String = e.sql("SELECT COUNT(*) FROM fo").rows.head.head
      def sum(): String = e.sql("SELECT SUM(v) FROM fo").rows.head.head
      assert(count() == "100" && sum() == "1000")
      // interleave writes and aggregates — each statement folds only
      // the delta, and every answer must stay exact
      e.batchPut("fo", (101L to 150L).map(i => Array[Any](i, Int.box(1))))
      assert(count() == "150" && sum() == "1050")
      e.batchPut("fo", Seq(Array[Any](7L, Int.box(0))))   // shadow a cold row
      assert(count() == "150" && sum() == "1040")
      assert(e.sql("DELETE FROM fo WHERE id = 120").ok)    // hot tombstone
      assert(count() == "149" && sum() == "1039")
      assert(e.sql("UPDATE fo SET v = 5 WHERE id = 101").ok) // hot re-write
      assert(count() == "149" && sum() == "1043")
      assert(e.sql("DELETE FROM fo WHERE id = 8").ok)      // tombstone a cold row
      assert(count() == "148" && sum() == "1033")
      // MIN/MAX with a retracted extremum (dirty-path recompute)
      e.batchPut("fo", Seq(Array[Any](200L, Int.box(999))))
      assert(e.sql("SELECT MAX(v) FROM fo").rows.head.head == "999")
      assert(e.sql("UPDATE fo SET v = 3 WHERE id = 200").ok)
      assert(e.sql("SELECT MAX(v) FROM fo").rows.head.head == "10",
        "retracting the hot maximum must recompute, not serve stale")
      // epoch boundary: flush, then keep folding in the new epoch
      // (148 live survivors + id 200 = 149)
      e.forceFlush("fo")
      assert(count() == "149")
      e.batchPut("fo", Seq(Array[Any](300L, Int.box(7))))
      assert(count() == "150")
    }
  }
}
