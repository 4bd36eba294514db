package graft.engine

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sqlfront.{Literal, Parser, Pred, SelectItem, Stmt}

/** The HTAP engine: a thin OLTP surface (catalog + driver-side hot
  * store, mutated without launching Spark jobs) over a Spark-native
  * OLAP surface (every read is a DataFrame over the snapshot).
  *
  * Maps the reference architecture (SURVEY §0) onto Spark:
  *  - memtable/skiplist  → HotStore: LWW map + append-only version log
  *    (reference includes/memtable.hpp, skiplist.hpp)
  *  - WAL → version log replay (durability lands with the delta log)
  *  - SSTables/levels    → cold Parquet tier dirs
  *  - seq-resolved merge → unionByName + window dedup on (pk, seq)
  *    (reference includes/range_query_executor.hpp:38-179)
  *
  * Write statements are O(rows-touched) driver-side — the reference's
  * µs-scale OLTP path has no Spark-job analogue and must not pay one
  * (SURVEY §7.3 risk 1). Analytical reads go through Catalyst.
  */
final class Engine(
    val spark: SparkSession,
    val dataDir: Option[String] = None,
    val hotLimit: Int = 100000,
    val hotLimitBytes: Long = 64L << 20,
    val compactTrigger: Int = 4,
    val selectRowCap: Int = 1 << 20,
    val leaseIdleBreachMs: Long = 60000L,
    val levelBytesBase: Long = 64L << 20,
    val levelMult: Double = 10.0,
    val maxLevels: Int = 7,
    val adminCompactWaitMs: Long = 30000L) {

  private val catalog = mutable.LinkedHashMap.empty[String, TableMeta]
  private val stores  = mutable.HashMap.empty[String, HotStore]
  private val seqGen  = new AtomicLong(0L)
  /** uniquifier for merge-output tier names: two unlocked merges can
    * read the same seqGen value, and a shared path would let the
    * abandoned one delete the live one's files.
    */
  private val tierUniq = new AtomicLong(0L)

  // op counters (M5 — reference storage_engine.hpp:44-68 stats object)
  private val opWrites      = new AtomicLong(0L)
  private val opReads       = new AtomicLong(0L)
  private val opRangeScans  = new AtomicLong(0L)
  private val opCompactions = new AtomicLong(0L)

  /** Hot store: last-writer-wins map for reads + full version log
    * (kept for flush/compaction and snapshot-dedup tests), plus the
    * cold Parquet tier dirs and the durability log.
    */
  final class HotStore(val meta: TableMeta) {
    val latest = mutable.LinkedHashMap.empty[Any, RowVersion]
    val log    = mutable.ArrayBuffer.empty[RowVersion]
    var coldDirs: Vector[String] = Vector.empty
    /** declared z-order layout columns (empty = pk-sorted tiers, the
      * default). Set by [[optimizeZorder]], persisted in the manifest,
      * honored by every subsequent BOTTOM-tier rewrite (admin major
      * compaction) so the optimized clustering survives ingest;
      * leveled merges of young tiers stay pk-sorted — they are small,
      * short-lived, and pk order serves the fresh-data point/range
      * path best.
      */
    var layout: Vector[String] = Vector.empty
    /** part-size the last OPTIMIZE requested (-1 = engine default):
      * honored by subsequent major rewrites, incl. a deferred
      * OPTIMIZE drained after resume; persisted with the layout.
      */
    var layoutPartBytes: Long = -1L
    /** opt-in auto-OPTIMIZE threshold (r19 stretch; 0 = disabled):
      * when the z-layout drift (unlaidBytes — bytes in tiers not
      * carrying the current layout token) crosses this figure after a
      * flush, the incremental fold is scheduled through the existing
      * deferred-compaction contract — paused: recorded for the
      * post-resume drain; running: folded inline after the flush,
      * paying exactly the drifted bytes. Persisted with the layout
      * (manifest LAYOUTAUTO line).
      */
    var layoutAutoBytes: Long = 0L
    /** tiers replaced by recent compactions, batched per compaction —
      * each batch is retained for `tierRetainGens` further compactions
      * before deletion, so in-flight snapshot scans / toLocalIterator
      * consumers that captured an older coldDirs vector can finish
      * even when several compactions complete during their run
      * (deferred, generation-depth tier GC).
      */
    var retiredGens: Vector[Vector[String]] = Vector.empty
    var delta: Option[DeltaLog] = None
    var maxFlushedSeq: Long = 0L
    /** one background-style compaction pass at a time per store: a
      * concurrent trigger (another writer's flush) skips instead of
      * queueing a duplicate merge of the same inputs — the next flush
      * re-checks the triggers anyway. Admin major compaction WAITS on
      * this instead of skipping (compactStore).
      */
    val compacting = new java.util.concurrent.atomic.AtomicBoolean(false)
    /** in-flight bounded-pull scans (DML match / scan iterators)
      * holding the plan-time cold file listing: while > 0, retired
      * tier files are QUEUED for deletion (up to maxDeferredGens)
      * rather than deleted — the generation-depth cushion alone
      * cannot bound how many compactions a long statement's own
      * concurrent writers complete.
      */
    val activeScans = new java.util.concurrent.atomic.AtomicInteger(0)
    /** nanoTime of the most recent bounded-pull fetch under a live
      * scan lease (max across concurrent leases): lets trimRetired
      * tell an ACTIVE slow consumer — still pulling, just slowly —
      * from an abandoned iterator before breaching the deferred-queue
      * cap. Touched on lease acquire and on every pull.
      */
    val lastScanPull = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    /** pulls currently BLOCKED inside a bounded fetch: while nonzero
      * the scan lease can never be judged idle — a single pull can
      * legitimately block longer than leaseIdleBreachMs on a slow
      * stage, and the pre-pull timestamp alone would age the lease
      * out mid-fetch, letting trimRetired delete tier files the
      * in-flight plan still references.
      */
    val inFlightPulls = new java.util.concurrent.atomic.AtomicInteger(0)
    /** monotonic content version: bumped on every hot write and every
      * tier-set swap. The invalidation key for the cached snapshot
      * DataFrame — a version match means neither the hot rows nor the
      * cold file listing changed since the cache was built.
      */
    val version = new java.util.concurrent.atomic.AtomicLong(0L)
    /** A5 cached cold-tier aggregate stats, keyed by the exact
      * coldDirs vector they describe. Carried across compaction swaps
      * (merges preserve the cold live view), dropped on flush-append
      * (the new tier shadows older rows unpredictably — recomputed
      * lazily, or seeded free when the tier set was empty).
      */
    var coldStats: Option[(Vector[String], TableAggStats)] = None
    var shadowTiers: Vector[String] = Vector.empty
    var shadowEpoch: Long = 0L
    /** incremental no-WHERE aggregate fold (r19) — see [[AggFold]];
      * guarded by aggFoldLock, reset whenever the shadow epoch moves.
      */
    var aggFold: AggFold = null
    val aggFoldLock = new Object
    /** cached merged-snapshot DataFrame keyed by `version` — the
      * driver-local accelerator for repeated analytical statements
      * over an unchanged table (the reference's in-RAM columnar store
      * plays the same role for its mixed workload).
      */
    var cachedSnap: Option[(Long, DataFrame)] = None
    /** snapshot-cache entries retired by a version-bump replace,
      * still persisted: an immediate unpersist-on-replace can race a
      * concurrent reader mid-action on that exact plan — under memory
      * pressure the reader's task loses its cached block irrecoverably
      * (`Block rdd_N_P does not exist`). Entries drain (unpersist)
      * only when no scan lease is live, or oldest-first past a depth
      * cap (drainRetiredSnaps).
      */
    var retiredSnaps: Vector[DataFrame] = Vector.empty
    /** statement-result cache for dialect SELECTs, keyed (statement
      * AST, content version): the version in the key makes every
      * write an implicit invalidation — a repeated analytical
      * statement over an unchanged table answers at driver speed
      * (Snowflake-style result reuse; the honest way to the
      * reference's "100 analytical q/s under mixed load" claim —
      * mixed phases keep bumping the version, so only genuinely
      * unchanged reads ever hit). LRU-bounded; access-ordered.
      */
    val resultCache =
      new java.util.LinkedHashMap[(Stmt.Select, Long), ResultSet](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Stmt.Select, Long), ResultSet]): Boolean =
          size() > 512
      }
    /** rough retained bytes — drives the byte-sized flush trigger
      * (the reference freezes its memtable at 64 MB, M1/M4; a pure
      * row-count trigger lets wide rows blow the memory budget).
      */
    var approxBytes: Long = 0L

    private def rowBytes(values: Array[Any]): Long = {
      var b = 16L
      values.foreach {
        case null            => b += 1
        case v: String       => b += v.length.toLong + 8
        case v: Array[Byte]  => b += v.length.toLong + 8
        case _               => b += 8
      }
      b
    }

    /** serializes freeze-and-swap flushes per store; taken BEFORE the
      * store monitor, never while holding it (flushStore's contract)
      */
    val flushLock = new Object

    /** Commit-side retention after a freeze-and-swap flush: drop the
      * rows the new tier made durable (seq <= flushedMax), keep
      * everything written DURING the flush job, and re-derive the
      * retained byte estimate. Called under the store monitor
      * (reentrant) as part of the tier-swap commit.
      */
    def retainAfterFlush(flushedMax: Long): Unit = this.synchronized {
      latest.filterInPlace((_, rv) => rv.seq > flushedMax)
      log.filterInPlace(_.seq > flushedMax)
      approxBytes = latest.values.iterator.map(rv => rowBytes(rv.values)).sum
    }

    def put(values: Array[Any], tombstone: Boolean = false): Long =
      putBatch(Seq((values, tombstone))).head
    /** Batched put: one lock acquisition, one delta-log batch append
      * (single fsync) for the whole group — C8's improvement over the
      * reference's loop-over-singles.
      *
      * GROUP COMMIT across threads (r20): seq draw, WAL staging, and
      * the memtable apply stay under the store lock (seq must be
      * drawn inside it — assigned outside, two concurrent writers can
      * apply out of seq order and leave `latest` and the flushed tier
      * holding the lower-seq row while the LWW snapshot resolves the
      * higher one — and stage-under-lock keeps WAL file order = seq
      * order for replay). The fsync WAIT moves outside it: concurrent
      * writers coalesce onto one leader's sync (DeltaLog.syncTo), so
      * 8 threads pay ~2 fsyncs instead of 8 serialized ones. The call
      * still returns only after an fsync covering its records — a
      * crash loses no acked write. A row is VISIBLE to concurrent
      * readers between apply and ack (the group-commit window);
      * flush-before-sync is safe because flush snapshots the applied
      * memtable and its parquet commit makes the rows durable before
      * truncate discards the staged WAL records.
      */
    def putBatch(rows: Seq[(Array[Any], Boolean)]): Vector[Long] = {
      // row encoding happens OUTSIDE the store lock — it is the
      // critical section's CPU cost, and concurrent writers encode
      // their batches in parallel (seq is not part of the row bytes,
      // so encoding needs no lock)
      val pre: Seq[Array[Byte]] =
        if (delta.isDefined) rows.map { case (v, _) => RowCodec.encode(v, meta) }
        else Seq.empty
      val (rvs, ticket) = this.synchronized {
        val rvs = rows.map { case (v, tomb) =>
          RowVersion(seqGen.incrementAndGet(), tomb, v)
        }.toVector
        val t = delta.map(_.stageEncoded(rvs.zip(pre)))
        rvs.foreach(applyVersion)
        (rvs, t)
      }
      for (dl <- delta; tk <- ticket) dl.syncTo(tk)
      rvs.map(_.seq)
    }

    /** mutate without logging (used by replay). */
    def applyVersion(rv: RowVersion): Unit = this.synchronized {
      log += rv
      latest(rv.values(meta.pkIndex)) = rv
      approxBytes += rowBytes(rv.values)
      version.incrementAndGet()
    }
    def liveRows: Vector[RowVersion] =
      this.synchronized { latest.values.filterNot(_.tombstone).toVector }
    def get(pk: Any): Option[RowVersion] =
      this.synchronized { latest.get(pk) }
  }

  private def catalogPath(dir: String) = java.nio.file.Paths.get(dir, "catalog.sdb")
  private def deltaPath(dir: String, table: String) =
    java.nio.file.Paths.get(dir, "delta", s"$table.log")
  private def coldRoot(dir: String, table: String) =
    java.nio.file.Paths.get(dir, "cold", table)

  /** Recover persisted state: load the catalog, re-attach cold tiers
    * from each table's manifest, replay the delta log into the hot
    * store, and restart the sequence counter above everything seen
    * (reference recoverFromWAL + schema/LSM-metadata load,
    * memtable.hpp:481-526, schema_registry.hpp:248-344,
    * lsm_levels.hpp:452-588).
    */
  private def recover(dir: String): Unit = this.synchronized {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    var maxSeq = 0L
    Persist.loadCatalog(catalogPath(dir)).foreach { m =>
      val store = new HotStore(m)
      val (tiers, flushedMax, layout, layoutPb, layoutAuto) =
        Persist.loadManifest(coldRoot(dir, m.name))
      store.coldDirs = tiers
      store.maxFlushedSeq = flushedMax
      store.layout = layout
      store.layoutPartBytes = layoutPb
      store.layoutAutoBytes = layoutAuto
      // reclaim tiers a previous run retired but never GC'd (deferred
      // tier deletion, see compactStore): anything under coldRoot not
      // named by the manifest is garbage.
      val root = coldRoot(dir, m.name)
      if (java.nio.file.Files.isDirectory(root)) {
        val live = tiers.toSet
        val children = java.nio.file.Files.list(root)
        try children.forEach { c =>
          if (java.nio.file.Files.isDirectory(c) && !live.contains(c.toString))
            Persist.deleteRecursively(c)
        } finally children.close()
        // tier paths derive from seqs; a fresh engine on a reused dir
        // could mint a path the point reader cached in a past life
        ColdPointReader.invalidateCache()
      }
      maxSeq = math.max(maxSeq, flushedMax)
      val dl = new DeltaLog(deltaPath(dir, m.name), m)
      dl.replay().foreach { rv =>
        // records at or below the manifest's flushed max are already
        // durable in a tier — a crash between the commit swap and the
        // WAL rewrite (truncateThrough) must not re-apply them as hot
        // duplicates of their own cold versions
        if (rv.seq > store.maxFlushedSeq) store.applyVersion(rv)
        maxSeq = math.max(maxSeq, rv.seq)
      }
      store.delta = Some(dl)
      catalog(m.name) = m
      stores(m.name) = store
    }
    seqGen.set(maxSeq)
  }

  dataDir.foreach(recover)

  /** Flush the hot store to a new cold Parquet tier, then truncate the
    * delta log through the flushed high-water mark — the reference's
    * memtable FREEZE-and-flush (M1, memtable.hpp:114-299). Since r20
    * the freeze is real: the snapshot is taken under the store lock,
    * the parquet write job runs with the lock RELEASED (writes proceed
    * during the flush — pre-r20 a 64 MB flush stalled every writer for
    * the full write), and the commit swap retains rows written during
    * the job (seq > flushedMax; LWW by seq keeps snapshot semantics
    * exact — the tier's versions can never outrank them). The WAL then
    * drops only what the tier made durable (truncateThrough — the
    * reference's truncate(seq)), so in-flight writers' records survive
    * for crash recovery; recover() skips records at or below the
    * manifest's flushed max, covering a crash between the manifest
    * save and the WAL rewrite. Flushes are serialized per store
    * (flushLock, taken BEFORE the store lock — no caller holds the
    * store lock here). Triggers compaction when the tier count reaches
    * compactTrigger (reference L0 trigger, lsm_levels.hpp:276-384).
    */
  def forceFlush(table: String): Unit = flushStore(storeOf(table))

  private def flushStore(store: HotStore, compactAfter: Boolean = true): Unit = {
    val dir = dataDir.getOrElse(return)
    val didFlush = store.flushLock.synchronized {
      val m = store.meta
      // phase 1 — FREEZE: snapshot the memtable + the stats basis
      val snap = store.synchronized {
        if (store.latest.isEmpty) None
        else Some((store.latest.values.toVector, store.coldDirs, store.coldStats))
      }
      snap match {
        case None => false
        case Some((frozen, preTiers, priorStats)) =>
          val flushedMax = frozen.map(_.seq).max
          val rows = frozen.map(rv =>
            Row.fromSeq(rv.values.toIndexedSeq :+ rv.seq :+ rv.tombstone))
          // A5 eager stats seeding: when this flush BIRTHS the cold set
          // (no prior tiers), the new tier's aggregate stats fall out of
          // the rows already in driver memory — no job, ever, for the
          // common load-flush-aggregate shape.
          val eagerStats =
            if (preTiers.isEmpty) Some(foldLiveStats(m, frozen))
            // append-only incremental (r20): when every flushed pk sits
            // strictly above the cold LIVE pk max — the time-ordered
            // ingest shape, and at 100 TB the only affordable one — no
            // cold row is shadowed, so the cached stats fold forward
            // driver-side and the post-flush aggregate path never
            // relaunches the full cold recompute (measured ~1.5 s per
            // flush epoch at 1M rows × 30 tiers, paid by the first
            // statement after EVERY flush). Updates/deletes of history
            // fall back to the lazy recompute as before. Valid at
            // commit time even if a compaction swapped tiers during
            // the write: merges preserve the cold live view exactly.
            else priorStats match {
              case Some((k, s)) if k == preTiers => appendFoldStats(m, s, frozen)
              case _ => None
            }
          val tier = coldRoot(dir, m.name).resolve(f"tier-$flushedMax%012d").toString
          // phase 2 — FLUSH: the parquet write job, store lock released
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), versionedSchema(m))
            .coalesce(1)
            .sortWithinPartitions(col(m.pk)) // pk-sorted files → parquet row-group
            .write.mode("overwrite")         //   min/max pruning on pk scans
            // pk bloom filter per tier file — the SSTable bloom (SURVEY C1):
            // cached in memory by ColdPointReader, so in-range point
            // MISSES reject the file without opening it.
            // NDV-sized: without it parquet allocates its 1 MiB maximum
            // per file, which dwarfs a small flush tier's data (measured
            // ~1.05 MiB constant on a 2k-row tier); the exact live-row
            // count keeps the false-positive rate and drops the constant
            .option(s"parquet.bloom.filter.enabled#${m.pk}", "true")
            .option(s"parquet.bloom.filter.expected.ndv#${m.pk}",
              math.max(1, rows.size).toString)
            // point reads decode one page: see ColdPointReader.tierPageRows
            .option("parquet.page.row.count.limit", ColdPointReader.tierPageRows.toString)
            .parquet(tier)
          // phase 3 — COMMIT: swap the tier in; retain only rows
          // written DURING the flush job
          store.synchronized {
            store.coldDirs = store.coldDirs :+ tier
            store.coldStats = eagerStats.map(s => (store.coldDirs, s))
            store.maxFlushedSeq = math.max(store.maxFlushedSeq, flushedMax)
            Persist.saveManifest(coldRoot(dir, m.name), store.coldDirs, store.maxFlushedSeq, store.layout, store.layoutPartBytes, store.layoutAutoBytes)
            store.retainAfterFlush(flushedMax) // reentrant on the store monitor
            store.version.incrementAndGet()
          }
          // phase 4 — WAL: drop what the tier made durable, keep the
          // in-flight suffix
          store.delta.foreach(_.truncateThrough(flushedMax))
          true
      }
    }
    // compaction runs AFTER the lock is released: the merge job must
    // never stall concurrent writes (see maybeCompactLeveled).
    // compactAfter=false is the mid-DML flush (see applyDml): a
    // statement's own flushes must only ADD tiers, never retire the
    // ones its read iterator is still scanning.
    if (didFlush) {
      // release the aggregate fold NOW rather than at the next
      // statement's epoch check: its per-pk map is hot-store-sized,
      // and retaining it across a flush pressures GC on the write
      // path with state that can never be read again (the epoch moved
      // with the tier set). Taken OUTSIDE the store lock —
      // statsAggregate locks aggFoldLock first, store second, so
      // nesting the other way here would deadlock.
      store.aggFoldLock.synchronized { store.aggFold = null }
    }
    if (didFlush && compactAfter) {
      maybeCompactLeveled(store)
      autoFoldIfDrifted(store)
    }
  }

  /** Auto-OPTIMIZE (r19 stretch): when a declared layout carries an
    * opt-in LAYOUTAUTO threshold and the post-flush drift (bytes in
    * tiers without the current layout token — the stats unlaidBytes
    * figure) crosses it, fold incrementally NOW, or record a deferred
    * major while the scheduler is paused (drained z-ordered on
    * resume, the deferred-OPTIMIZE contract). The fold pays exactly
    * the drifted bytes (rewriteBottom incremental mode), so the
    * amortized auto cost stays proportional to ingest; a fold that
    * loses the per-store pass race ("aborted"/busy) is left for the
    * next flush's re-check rather than retried here — the trigger
    * re-fires as long as drift persists.
    */
  private def autoFoldIfDrifted(store: HotStore): Unit = {
    val (layout, auto, pb) = store.synchronized(
      (store.layout, store.layoutAutoBytes, store.layoutPartBytes))
    if (layout.isEmpty || auto <= 0L) return
    val dir = dataDir.getOrElse(return)
    val effPb = if (pb > 0) pb else compactPartBytes
    val zPrefix = layoutTierPrefix(layout, effPb)
    val unlaid = store.synchronized(store.coldDirs)
      .filterNot(t => java.nio.file.Paths.get(t)
        .getFileName.toString.startsWith(zPrefix))
      .map(dirBytes).sum
    if (unlaid > auto) {
      if (compactionPaused.get()) deferCompaction(store.meta.name, major = true)
      else {
        try rewriteBottom(store, dir, effPb, incremental = true)
        catch { case _: EngineException => () } // busy: next flush re-checks
        ()
      }
    }
  }

  /** MAJOR compaction: window-dedup ALL cold tiers into one bottom-level
    * tier, dropping tombstones — the admin-triggered full merge
    * (reference compaction.hpp:193-361 k-way merge with bottom-tier GC).
    * The automatic flush-path trigger runs [[maybeCompactLeveled]]
    * instead, which never rewrites the whole cold dataset.
    */
  def compact(table: String): Unit = compactStore(storeOf(table))

  // ---- compaction pause / resume --------------------------------------------
  // Reference scheduler's paused_ flag (compaction.hpp:376, pause/resume
  // :492-497; engine hooks storage_engine.hpp:503-505): while paused the
  // worker loop stops consuming jobs but triggers keep ENQUEUEING them,
  // and resume() notifies the worker to drain the backlog. Mirrored
  // here without a dedicated thread: while paused, flush-path trigger
  // passes and admin majors record a deferred job per store and return
  // immediately; resumeCompaction() drains the recorded jobs inline
  // (major supersedes leveled for the same store). A leveled pass
  // deferred while paused also self-heals on the next post-resume
  // flush, which re-evaluates the byte/count triggers from scratch.
  private val compactionPaused = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** deferred compaction jobs recorded while paused: table -> needsMajor */
  private val deferredCompactions = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def compactionIsPaused: Boolean = compactionPaused.get()
  def pendingCompactions: Int = deferredCompactions.size()

  def pauseCompaction(): Unit = compactionPaused.set(true)

  def resumeCompaction(): Unit = {
    compactionPaused.set(false)
    // Drain until a pass finds nothing runnable: a racer that observed
    // paused=true can record its job after a single drain emptied the
    // map (see deferCompaction's own heal for the symmetric race). A
    // job that FAILS mid-drain (compactStore's bounded-wait
    // COMPACTION_BUSY) is re-recorded rather than lost — a deferred
    // major has no other self-heal path — but is not retried within
    // this call, so a permanently busy store cannot spin the loop.
    val failed = mutable.Set.empty[String]
    var progressed = true
    while (progressed && !compactionPaused.get()) {
      progressed = false
      val it = deferredCompactions.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); val table = e.getKey; val major = e.getValue.booleanValue()
        if (!failed.contains(table)) {
          it.remove()
          progressed = true
          // the table may have been dropped while paused — a vanished
          // store simply has nothing left to compact
          this.synchronized(stores.get(table)) match {
            case Some(st) =>
              try { if (major) compactStore(st) else maybeCompactLeveled(st) }
              catch { case _: EngineException =>
                failed += table
                recordDeferred(table, major)
              }
            case None => ()
          }
        }
      }
    }
  }

  /** raw deferred-job record; major wins over leveled */
  private def recordDeferred(table: String, major: Boolean): Unit =
    deferredCompactions.merge(table.toLowerCase, java.lang.Boolean.valueOf(major),
      (a, b) => java.lang.Boolean.valueOf(a.booleanValue() || b.booleanValue()))

  /** Record a job deferred by pause — then re-check the flag: this
    * thread can observe paused=true, lose the CPU, and record AFTER
    * resumeCompaction's drain already emptied the map, stranding the
    * job (a major never self-heals) until some future resume. If the
    * flag flipped, claim the entry back and run it inline; a run that
    * fails busy is re-recorded for the next resume rather than thrown
    * into an unsuspecting flush path.
    */
  private def deferCompaction(table: String, major: Boolean): Unit = {
    recordDeferred(table, major)
    if (!compactionPaused.get()) {
      val e = deferredCompactions.remove(table.toLowerCase)
      if (e != null)
        try {
          this.synchronized(stores.get(table.toLowerCase)) match {
            case Some(st) => if (e.booleanValue()) compactStore(st) else maybeCompactLeveled(st)
            case None     => ()
          }
        } catch { case _: EngineException => recordDeferred(table, e.booleanValue()) }
    }
  }

  // ---- leveled (size-tiered) compaction -------------------------------------
  // The r4 design merged every cold tier into one on each trigger, so
  // each compaction cycle rewrote the ENTIRE cold dataset — write
  // amplification linear in table size. This is the reference's leveling
  // (lsm_levels.hpp:276-384) mapped onto tier dirs: L0 is count-triggered
  // (level0CompactionThreshold = 4 flushes), higher levels byte-triggered
  // at levelBytesBase·levelMult^(L-1), and a merge only ever reads the
  // tiers OF ONE LEVEL — each flushed byte is rewritten at most once per
  // level it descends through, O(maxLevels) total write amplification.

  /** tier level from its directory name: flush outputs are L0
    * (`tier-<seq>`), leveled-merge outputs carry their level
    * (`tier-l<level>-<seq>`), and major-compaction outputs
    * (`tier-c<seq>`, or `tier-z-<token>-<seq>` when written under a
    * declared z-order layout — the token names WHICH layout at WHICH
    * granularity, see [[layoutToken]]) are bottom-level by
    * construction — the encoding makes levels survive manifest
    * save/load with no format change.
    */
  private[graft] def levelOf(path: String): Int = {
    val name = java.nio.file.Paths.get(path).getFileName.toString
    if (name.startsWith("tier-l")) {
      val digits = name.drop("tier-l".length).takeWhile(_.isDigit)
      if (digits.isEmpty) 0 else math.min(digits.toInt, maxLevels - 1)
    }
    else if (name.startsWith("tier-c") || name.startsWith("tier-z")) maxLevels - 1
    else 0
  }

  /** Collision-FREE fingerprint of a (layout columns, part size)
    * pair, carried in z-tier names (`tier-z-<token>-...`): lets a
    * major rewrite decide whether a surviving bottom tier was written
    * under the CURRENT layout AND granularity without opening any
    * files — re-OPTIMIZing with different columns OR a different
    * part size must rewrite; a repeat with the same pair may no-op.
    * The token is the lowercased column names themselves ("."-joined;
    * any char outside [a-z0-9_] hex-escaped, so the encoding is
    * injective and "." never appears inside a name) plus the part
    * size — not a 32-bit hash, which could collide two different
    * layouts into a silent no-op. Pathologically long column lists
    * fall back to a 128-bit content digest.
    */
  private def layoutToken(layout: Vector[String], partBytes: Long): String = {
    val cols = layout.map(_.toLowerCase.flatMap { c =>
      if (c == '_' || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toString
      else f"=${c.toInt}%04x"
    }).mkString(".")
    val tok = s"$cols-pb$partBytes"
    if (tok.length <= 120) tok
    else {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest((layout.map(_.toLowerCase).mkString("\u0000") + s"\u0000$partBytes")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.take(16).map(b => f"$b%02x").mkString + s"-pb$partBytes"
    }
  }

  /** The tier-name prefix a z-ordered rewrite under `layout` at
    * `partBytes` mints, and the membership test [[rewriteBottom]]
    * uses: a z tier carrying any other token — older naming schemes
    * included — counts as stale and rewrites.
    */
  private def layoutTierPrefix(layout: Vector[String], partBytes: Long): String =
    s"tier-z-${layoutToken(layout, partBytes)}-"

  /** byte budget for level L >= 1 (reference getLevelSizeLimit,
    * lsm_levels.hpp:116-124: base · mult^(L-1); L0 is count-triggered).
    */
  private def levelLimit(level: Int): Long =
    (levelBytesBase * math.pow(levelMult, (level - 1).toDouble)).toLong

  /** Leveled trigger pass, run after every flush. Levels are checked
    * bottom-up so a merge that lands bytes in level L+1 cascades in
    * the same pass (reference shouldTriggerCompaction,
    * lsm_levels.hpp:276-299). A single over-budget tier is left alone
    * — rewriting one tier into the next level reclaims nothing; it
    * merges when a sibling arrives.
    *
    * NON-BLOCKING: the pass runs with the store lock RELEASED (the
    * reference compacts on a dedicated thread, compaction.hpp:364-551
    * — same availability contract: writes proceed while tiers merge).
    * The `compacting` CAS keeps it to one pass per store at a time;
    * a concurrent trigger skips, and the triggers are re-evaluated on
    * the next flush.
    */
  private def maybeCompactLeveled(store: HotStore): Unit = {
    if (compactionPaused.get()) { deferCompaction(store.meta.name, major = false); return }
    if (!store.compacting.compareAndSet(false, true)) return
    try {
      if (store.synchronized(store.coldDirs.count(levelOf(_) == 0)) >= compactTrigger)
        mergeLevel(store, 0)
      var l = 1
      while (l < maxLevels - 1) {
        val tiers = store.synchronized(store.coldDirs.filter(levelOf(_) == l))
        if (tiers.size >= 2 && tiers.map(dirBytes).sum > levelLimit(l))
          mergeLevel(store, l)
        l += 1
      }
    } finally store.compacting.set(false)
  }

  /** Merge ALL tiers at `level` into ONE tier at level+1. Tombstones
    * are dropped only when the merge happens to consume every cold
    * tier — otherwise an older level may still hold a version of the
    * key the tombstone shadows (reference: tombstone GC is bottom-tier
    * only, compaction.hpp:193-361). Correctness of merging a SUBSET of
    * tiers: within the subset the max-__seq version per pk is kept, and
    * any version it discards would lose the global LWW window anyway.
    */
  private def mergeLevel(store: HotStore, level: Int): Unit = {
    val dir = dataDir.getOrElse(return)
    val m = store.meta
    // capture inputs under the lock; run the merge job UNLOCKED
    val (inputs, isAll) = store.synchronized {
      val ins = store.coldDirs.filter(levelOf(_) == level)
      (ins, ins.size == store.coldDirs.size)
    }
    if (inputs.size < 2) return
    val outLevel = math.min(level + 1, maxLevels - 1)
    // the -u suffix makes every merge output path unique even when two
    // merges mint a name at the same seqGen reading (levelOf parses
    // only the leading digits, so the suffix is level-transparent)
    val target = coldRoot(dir, m.name)
      .resolve(f"tier-l$outLevel%d-${seqGen.get()}%012d-u${tierUniq.incrementAndGet()}%d").toString
    // tombstone GC is decided at CAPTURE time: when the inputs covered
    // every cold tier, no older tier can hold a version a dropped
    // tombstone shadows, and any tier flushed DURING the merge is
    // strictly newer — it wins the LWW window regardless.
    writeMerged(m, inputs, target, dropTombstones = isAll)
    val swapped = store.synchronized {
      // staleness re-check: a concurrent major compaction may have
      // consumed the inputs while this merge ran — then this output
      // is based on retired state and must be abandoned, not swapped.
      if (!inputs.forall(store.coldDirs.contains)) false
      else {
        // coldDirs stays age-ordered (oldest first = deepest level
        // first): the new tier is younger than every surviving
        // >= outLevel tier and older than every surviving shallower
        // tier — including tiers flushed at this level DURING the
        // merge, which are strictly younger and land after the
        // target. Age order is what lets the cold point reader
        // early-exit on the newest tier containing a key.
        val before = store.coldDirs
        store.coldDirs =
          store.coldDirs.filter(t => !inputs.contains(t) && levelOf(t) >= outLevel) ++
          Vector(target) ++
          store.coldDirs.filter(t => !inputs.contains(t) && levelOf(t) < outLevel)
        // A5: a merge preserves the cold live view (LWW within the
        // inputs; tombstones dropped only when no older tier can hold
        // a shadowed version), so cached aggregate stats stay valid —
        // re-key them to the new tier vector instead of recomputing
        store.coldStats = store.coldStats.collect {
          case (k, s) if k == before => (store.coldDirs, s)
        }
        Persist.saveManifest(coldRoot(dir, m.name), store.coldDirs, store.maxFlushedSeq, store.layout, store.layoutPartBytes, store.layoutAutoBytes)
        retire(store, inputs)
        store.version.incrementAndGet()
        true
      }
    }
    if (swapped) { opCompactions.incrementAndGet(); trimRetired(store) }
    else Persist.deleteRecursively(java.nio.file.Paths.get(target))
  }

  /** Target bytes per compacted output partition (reference level size
    * unit, lsm_levels.hpp — byte-sized, not row-counted).
    */
  private val compactPartBytes: Long = 64L << 20

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else try {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    } catch {
      // the walk races against compaction's deferred tier GC: a tier
      // retired mid-walk reads as size 0, not a stats failure
      // (Files.walk surfaces mid-stream losses as UncheckedIOException)
      case _: java.nio.file.NoSuchFileException => 0L
      case _: java.io.UncheckedIOException      => 0L
    }
  }

  // adminCompactWaitMs (constructor param): upper bound on how long an
  // admin major waits for an in-flight pass to finish — past this, the
  // caller gets a loud "busy" error instead of an API thread pinned
  // forever to a stuck merge job.

  private def compactStore(store: HotStore): Unit = {
    val dir = dataDir.getOrElse(return)
    if (compactionPaused.get()) { deferCompaction(store.meta.name, major = true); return }
    // honor the part-size a (possibly deferred) OPTIMIZE requested —
    // a drained OPTIMIZE must come out at the granularity it asked for
    val pb = store.synchronized(
      if (store.layoutPartBytes > 0) store.layoutPartBytes else compactPartBytes)
    rewriteBottom(store, dir, pb)
    ()
  }

  /** The cold rewrite shared by admin major compaction and OPTIMIZE,
    * laid out per the store's declared layout (z-order when set,
    * pk-sorted otherwise). In FULL mode (admin major, deferred-OPTIMIZE
    * drain) every cold tier merges into ONE bottom tier. In
    * INCREMENTAL mode (the direct OPTIMIZE path) tiers already written
    * under the current layout token are kept in place and only the
    * rest fold into a new z tier — rewrite bytes ∝ data ingested since
    * the last OPTIMIZE, with the kept chain bounded by
    * [[zIncrementalFanout]] (past it, one full binpack). Returns
    * "rewritten" (swapped in), "noop" (nothing to do — genuinely
    * already laid out, or <2 foldable inputs with no layout due), or
    * "aborted" (the rewrite RAN but a concurrent tier change
    * invalidated the swap — retriable, and distinct from noop so a
    * caller never mistakes an abandoned rewrite for a laid-out table).
    *
    * No-op guard: fewer than two foldable inputs AND nothing to
    * re-lay-out — a declared layout whose tiers were not written under
    * the CURRENT (columns, part size) pair (any non-z tier, or a z
    * tier carrying a different layout token) still rewrites (that is
    * how a deferred OPTIMIZE converges after resume, and how
    * re-OPTIMIZing with new columns OR a new granularity takes
    * effect), while repeated admin compacts of an already-laid-out
    * single tier — and repeated incremental OPTIMIZEs with nothing
    * new — stay free.
    */
  /** z-tier chain length that triggers a full re-fold on the next
    * incremental OPTIMIZE: below it, OPTIMIZE folds only the tiers not
    * yet carrying the current layout token (cost ∝ bytes ingested
    * since the last OPTIMIZE — the Delta/Iceberg file-selection
    * discipline); at it, everything binpacks back into one tier, so
    * the chain is bounded and the amortized write cost per ingested
    * byte stays O(fanout).
    */
  private val zIncrementalFanout = 4

  private def rewriteBottom(store: HotStore, dir: String, partBytes: Long,
                            incremental: Boolean = false): String = {
    val m = store.meta
    // admin rewrite SERIALIZES on the per-store pass guard (waits,
    // unlike the flush-path trigger which skips): two concurrent
    // majors would otherwise merge the same inputs twice, and the
    // loser's abandon path would delete a directory the winner just
    // made live. The wait is BOUNDED: an in-flight pass wedged on a
    // stuck merge job should surface as a retriable error, not pin
    // the calling (API) thread in the spin forever.
    val waitDeadline = System.nanoTime() + adminCompactWaitMs * 1000000L
    while (!store.compacting.compareAndSet(false, true)) {
      if (System.nanoTime() > waitDeadline)
        throw new EngineException(
          s"Compaction busy on '${m.name}' (in-flight pass exceeded ${adminCompactWaitMs / 1000}s) — retry later")
      Thread.sleep(5)
    }
    try {
      // same capture / merge-unlocked / re-checked-swap shape as
      // mergeLevel: the full rewrite is the LONGEST merge, so it is
      // the one that most needs to run outside the store lock
      val (inputs, layout) = store.synchronized((store.coldDirs, store.layout))
      // ONE token computation serves both the staleness scan and the
      // minted output name, so the two can never drift apart
      val zPrefix =
        if (layout.nonEmpty) layoutTierPrefix(layout, partBytes) else ""
      def hasToken(t: String): Boolean =
        java.nio.file.Paths.get(t).getFileName.toString.startsWith(zPrefix)
      // incremental mode (OPTIMIZE): tiers already carrying the
      // current layout token are KEPT in place and only the rest fold
      // into a new z tier — rewrite bytes ∝ data ingested since the
      // last OPTIMIZE, not ∝ table. The kept chain is bounded: at
      // zIncrementalFanout current-token tiers, fall back to the full
      // binpack. z tiers always form an age-prefix of coldDirs (every
      // rewrite lands before the tiers flushed after it), so the fold
      // set is a contiguous suffix and the age-order invariant
      // survives the patch-in below.
      val kept =
        if (incremental && layout.nonEmpty) {
          val zCurrent = inputs.filter(hasToken)
          if (zCurrent.size >= zIncrementalFanout) Vector.empty else zCurrent
        } else Vector.empty[String]
      val folds = inputs.filterNot(kept.contains)
      val needsLayout = layout.nonEmpty && folds.exists(t => !hasToken(t))
      if (folds.isEmpty || (folds.size < 2 && !needsLayout)) return "noop"
      val prefix = if (layout.nonEmpty) zPrefix else "tier-c"
      val target = coldRoot(dir, m.name)
        .resolve(f"$prefix${seqGen.get()}%012d-u${tierUniq.incrementAndGet()}%d").toString
      // tombstones are droppable only in a FULL fold: an incremental
      // fold's kept z tiers may still hold the rows those tombstones
      // shadow (they drop at the next full binpack)
      writeMerged(m, folds, target, dropTombstones = kept.isEmpty, layout, partBytes)
      val swapped = store.synchronized {
        if (!inputs.forall(store.coldDirs.contains)) false
        else {
          // tiers flushed during the merge are strictly newer than the
          // swapped-in tier and stay live after it; kept z tiers are
          // strictly older (their rows were flushed before every
          // folded row), so the target takes the first folded tier's
          // age position
          val before = store.coldDirs
          store.coldDirs =
            if (kept.isEmpty) Vector(target) ++ store.coldDirs.filterNot(folds.contains)
            else {
              val idx = store.coldDirs.indexOf(folds.head)
              store.coldDirs.patch(idx, Vector(target), 0).filterNot(folds.contains)
            }
          // content-preserving swap: carry cached aggregate stats (A5)
          store.coldStats = store.coldStats.collect {
            case (k, s) if k == before => (store.coldDirs, s)
          }
          Persist.saveManifest(coldRoot(dir, m.name), store.coldDirs, store.maxFlushedSeq, store.layout, store.layoutPartBytes, store.layoutAutoBytes)
          retire(store, folds)
          store.version.incrementAndGet()
          true
        }
      }
      if (swapped) { opCompactions.incrementAndGet(); trimRetired(store); "rewritten" }
      else { Persist.deleteRecursively(java.nio.file.Paths.get(target)); "aborted" }
    } finally store.compacting.set(false)
  }

  /** OPTIMIZE <table> ZORDER BY (cols...) — the lakehouse layout verb
    * (reference analogue: the never-wired columnar-level layout,
    * lsm_levels.hpp:84-99; the query-surface twin with its DuckDB
    * oracle is q_zorder). Declares 2-4 numeric/TIMESTAMP layout
    * columns, persists them in the manifest, and rewrites the cold
    * tiers not already laid out under this (columns, part size) pair
    * into a z tier clustered by Morton code
    * (`repartitionByRange(zcode)` + in-partition zcode sort — one
    * range exchange), so a multi-dimensional predicate box reads a
    * FRACTION of row groups via parquet footer min/max on the layout
    * columns ([[coldRowGroupStats]] measures exactly this; the
    * ZOrderOptimizeSpec gate asserts it). The rewrite is INCREMENTAL:
    * a re-OPTIMIZE after ingest folds only the new tiers (cost ∝ new
    * data), keeping the existing z chain until it reaches
    * [[zIncrementalFanout]] tiers, when one full binpack re-folds the
    * table — amortized write cost per ingested byte stays O(fanout).
    *
    * Contracts preserved: the merged snapshot is CONTENT-IDENTICAL
    * (same LWW window dedup as compaction — layout moves rows between
    * files, never changes them); point lookups stay cold-seek-able
    * (every tier file still carries its pk bloom filter — pk footer
    * ranges overlap post-layout, so the bloom does the pruning the
    * min/max no longer can); the layout survives ingest (subsequent
    * admin major compactions rewrite `tier-z`, see [[rewriteBottom]]).
    * Declaring the pk among the layout columns keeps partial pk
    * locality at the cost of one dimension of box selectivity.
    *
    * LAYOUT DRIFT (deliberate design decision, r16 directive 6):
    * leveled merges between OPTIMIZEs keep writing PK-SORTED upper
    * tiers — they serve the point-read path, and z-laying every L1
    * merge would repeatedly re-cluster data that the next merge
    * re-sorts anyway (write amplification with no stable benefit,
    * since those tiers re-fold into the z chain regardless). The
    * drift is therefore BOUNDED AND OBSERVABLE, not hidden: the bytes
    * sitting above the z chain without the current layout token are
    * surfaced per table as `unlaidBytes` in [[stats]] and the REST
    * `/api/status`, and the incremental rewrite below pays exactly
    * that figure to clear it — the operational loop is "watch
    * unlaidBytes, OPTIMIZE when the un-z'd fraction hurts box reads".
    *
    * While the compaction scheduler is paused the layout is recorded
    * and the rewrite DEFERRED (drained z-ordered on resume, like any
    * admin compaction).
    *
    * @return "rewritten" | "deferred" | "noop" (already laid out) |
    *         "aborted" (the rewrite ran but a concurrent tier change
    *         invalidated the swap — retriable; tiers unchanged)
    */
  def optimizeZorder(table: String, cols: Seq[String],
                     targetPartBytes: Long = compactPartBytes,
                     autoBytes: Option[Long] = None): String = {
    val store = storeOf(table)
    val m = store.meta
    val dir = dataDir.getOrElse(throw new EngineException(
      "OPTIMIZE requires a persistent data directory"))
    if (targetPartBytes <= 0)
      throw new EngineException(
        s"OPTIMIZE target part size must be positive, got $targetPartBytes")
    if (cols.size < 2 || cols.size > 4)
      throw new EngineException(
        s"OPTIMIZE ZORDER takes 2 to 4 layout columns, got ${cols.size}")
    val resolved = cols.map { c =>
      val cd = m.indexOf(c).map(m.cols).getOrElse(throw new EngineException(
        s"Column '$c' does not exist in table '${m.name}'"))
      cd.tpe match {
        case ColType.I64 | ColType.I32 | ColType.F64 | ColType.F32 | ColType.Ts => cd.name
        case other => throw new EngineException(
          s"Column '${cd.name}' (${other.sqlName}) cannot be a z-order layout column — numeric or TIMESTAMP only")
      }
    }.toVector
    if (resolved.map(_.toLowerCase).distinct.size != resolved.size)
      throw new EngineException("OPTIMIZE ZORDER layout columns must be distinct")
    autoBytes.foreach { ab =>
      if (ab <= 0) throw new EngineException(
        s"OPTIMIZE AUTO threshold must be positive, got $ab")
    }
    store.synchronized {
      store.layout = resolved
      store.layoutPartBytes = targetPartBytes
      autoBytes.foreach(store.layoutAutoBytes = _)
      Persist.saveManifest(coldRoot(dir, m.name), store.coldDirs,
        store.maxFlushedSeq, store.layout, store.layoutPartBytes,
        store.layoutAutoBytes)
    }
    if (compactionPaused.get()) { deferCompaction(m.name, major = true); "deferred" }
    else rewriteBottom(store, dir, targetPartBytes, incremental = true)
  }

  /** Row-group pruning observability for the layout gate: how many
    * cold row groups a conjunctive per-column `[lo, hi]` box predicate
    * would have to read, by parquet footer min/max alone, against the
    * total. Footer-only (no data pages touched); a row group lacking
    * stats for a queried column counts as overlapping — it cannot be
    * pruned, so the figure never understates the read.
    */
  def coldRowGroupStats(table: String,
                        box: Map[String, (Double, Double)]): (Long, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val store = storeOf(table)
    val tiers = store.synchronized(store.coldDirs)
    val conf = spark.sessionState.newHadoopConf()
    var overlapping = 0L
    var total = 0L
    tiers.foreach { t =>
      // a tier retired by a concurrent compaction can vanish between
      // the listing capture and the footer open (deferred tier GC) —
      // skip it like dirBytes does; its replacement is not in this
      // pass's listing and the caller re-reads for a fresh view
      try {
        val p = new org.apache.hadoop.fs.Path(t)
        val fs = p.getFileSystem(conf)
        val files =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).map(_.getPath)
              .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          else Array(p)
        files.foreach { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try reader.getFooter.getBlocks.asScala.foreach { b =>
            total += 1
            val reads = box.forall { case (cname, (lo, hi)) =>
              b.getColumns.asScala
                .find(_.getPath.toDotString.equalsIgnoreCase(cname)) match {
                case Some(cc) if cc.getStatistics != null &&
                    cc.getStatistics.hasNonNullValue =>
                  (cc.getStatistics.genericGetMin, cc.getStatistics.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      mx.doubleValue >= lo && mn.doubleValue <= hi
                    case _ => true
                  }
                case _ => true
              }
            }
            if (reads) overlapping += 1
          } finally reader.close()
        }
        // IOException, not just FileNotFound: a tier retired mid-scan
        // can also fail the footer OPEN on a half-deleted part file —
        // still per-tier, so the remaining tiers keep counting
      } catch { case _: java.io.IOException => () }
    }
    (overlapping, total)
  }

  /** The merge job shared by leveled and major compaction: union the
    * input tiers, keep the max-__seq version per pk (LWW window dedup).
    * Output partition count is sized by input bytes — a single-task
    * write (coalesce(1)) is a scale-killer; repartitionByRange keeps
    * the merged tier globally sorted across multiple files (parquet
    * row-group min/max pruning still works per file, and the write
    * parallelizes). Sort key: the pk by default; under a declared
    * z-order `layout`, the Morton code over the layout columns
    * (bounds from ONE column-pruned pass over the RAW tier union —
    * overwritten versions only widen bounds, never corrupt them) with
    * the pk as in-partition tiebreak, then the working code column is
    * dropped — pruning rides on the footer min/max of the layout
    * columns themselves, no stored code needed. Either way the pk
    * bloom filter is written per file, so cold point seeks survive
    * any layout.
    */
  private def writeMerged(m: TableMeta, inputs: Vector[String], target: String,
                          dropTombstones: Boolean,
                          layout: Vector[String] = Vector.empty,
                          partBytes: Long = compactPartBytes): Unit = {
    val cold = inputs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    val w = Window.partitionBy(col(m.pk)).orderBy(col("__seq").desc)
    val parts = math.max(1L, math.min(4096L,
      inputs.map(dirBytes).sum / partBytes + 1L)).toInt
    val merged = cold.withColumn("__rn", row_number().over(w))
      .filter(if (dropTombstones) col("__rn") === 1 && !col("__tombstone")
              else col("__rn") === 1)
      .drop("__rn")
    val laid =
      if (layout.isEmpty)
        merged.repartitionByRange(parts, col(m.pk)).sortWithinPartitions(col(m.pk))
      else {
        val bs = graft.operators.ZOrder.bounds(cold, layout)
        merged
          .withColumn("__zcode", graft.operators.ZOrder.zcodeColumn(layout, bs))
          .repartitionByRange(parts, col("__zcode"))
          .sortWithinPartitions(col("__zcode"), col(m.pk))
          .drop("__zcode")
      }
    // NDV-sized bloom (see the flush-path note): the input footers'
    // row-count sum is a free upper bound on the merged pk count —
    // dedup and tombstone drops only shrink it, so the FPP target
    // holds while a small fold stops paying parquet's 1 MiB default
    val ndv = math.max(1L, inputs.map(tierRows).sum)
    laid.write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#${m.pk}", "true")
      .option(s"parquet.bloom.filter.expected.ndv#${m.pk}", ndv.toString)
      .option("parquet.page.row.count.limit", ColdPointReader.tierPageRows.toString)
      .parquet(target)
  }

  /** How many compactions a retired tier batch survives before its
    * files are deleted (deferred tier GC depth — more than one
    * generation so a slow scanIterator consumer holding an older
    * coldDirs vector is safe even if two compactions complete mid-scan).
    */
  private val tierRetainGens = 2

  /** Enqueue replaced tiers for deferred deletion. Enqueue ONLY —
    * callers invoke [[trimRetired]] after releasing their critical
    * section, so the filesystem sweep never runs under the store lock.
    */
  private def retire(store: HotStore, dirs: Vector[String]): Unit =
    store.synchronized { store.retiredGens = store.retiredGens :+ dirs }

  /** Hard ceiling on the deferred queue: an ABANDONED iterator (lease
    * never released) must not pin retired tier files forever — past
    * this depth the oldest generation is reclaimed even under a live
    * lease. That restores the pre-lease exposure, but at 8× the
    * cushion: a scan still live after 16 compaction generations is
    * pathological, while unbounded retired-file growth at 100 TB is
    * a disk-full outage. The breach additionally requires the lease
    * to be IDLE (no pull for [[leaseIdleBreachMs]]): a legitimately
    * slow consumer keeps touching lastScanPull and stays safe past
    * the cap, while an abandoned iterator stops pulling and ages out.
    */
  private val maxDeferredGens = 16

  /** Delete retired generations beyond the retain depth — deferred
    * while a bounded-pull scan is in flight (activeScans lease), up
    * to [[maxDeferredGens]]: a long DML statement's match iterator
    * holds its plan-time file listing, and concurrent writers can
    * complete arbitrarily many compactions during it. Generations are
    * DEQUEUED under the lock but their files deleted OUTSIDE it (a
    * multi-directory recursive delete under the store lock would
    * stall every concurrent write); once dequeued they are
    * unreachable — retired dirs are never in coldDirs, so no new plan
    * can reference them. Deferred generations are reclaimed when the
    * last lease releases (applyDml's finally, leasedIterator's
    * exhaustion/exception hook) or after the next merge swap.
    */
  private def trimRetired(store: HotStore): Unit = {
    val deletable = store.synchronized {
      val d = Vector.newBuilder[Vector[String]]
      def leaseIdle: Boolean =
        store.inFlightPulls.get() == 0 &&
        System.nanoTime() - store.lastScanPull.get() > leaseIdleBreachMs * 1000000L
      while (store.retiredGens.size > tierRetainGens &&
             (store.activeScans.get() == 0 ||
              (store.retiredGens.size > maxDeferredGens && leaseIdle))) {
        d += store.retiredGens.head
        store.retiredGens = store.retiredGens.tail
      }
      d.result()
    }
    deletable.foreach { gen =>
      gen.foreach(p => Persist.deleteRecursively(java.nio.file.Paths.get(p)))
      // drop the deleted dirs' point-reader metadata: bounds cache
      // growth under compaction churn, and a re-minted path must not
      // inherit stale footer stats
      ColdPointReader.evictTiers(gen)
    }
  }

  /** Size-triggered flush: row-count OR retained-bytes threshold
    * (reference memtable freeze at 64 MB, memtable.hpp:114-299).
    */
  private def maybeFlush(store: HotStore): Unit =
    if (dataDir.isDefined &&
        (store.latest.size >= hotLimit || store.approxBytes >= hotLimitBytes))
      flushStore(store)

  // -------------------------------------------------------------------------
  // public API (reference StorageEngine/QueryExecutor surface, SURVEY §3.3)
  // -------------------------------------------------------------------------

  def sql(statement: String): ResultSet =
    try exec(Parser.parse(statement))
    catch {
      case e: Parser.ParseException => ResultSet.err(e.msg)
      case e: EngineException       => ResultSet.err(e.getMessage)
    }

  def tableNames: Vector[String] = this.synchronized { catalog.keys.toVector }

  /** The table's declared z-order layout columns (empty = pk-sorted
    * tiers, the default; empty for unknown tables too — the schema
    * endpoint 404s on meta() first).
    */
  def layoutOf(table: String): Vector[String] =
    this.synchronized(stores.get(table.toLowerCase)) match {
      case Some(st) => st.synchronized(st.layout)
      case None     => Vector.empty
    }

  def meta(table: String): Option[TableMeta] =
    this.synchronized { catalog.get(table.toLowerCase) }

  /** The snapshot: what analytics sees — always includes the latest
    * un-flushed writes (the HTAP freshness contract, SURVEY §0b).
    *
    * Skew note: the LWW window partitions by pk, so one pk's versions
    * colocate in one reducer — but the per-pk fan-in is BOUNDED BY
    * ARCHITECTURE, not by data: each flush writes the latest-version
    * map (one row per pk per tier) and each merge re-dedups, so a pk
    * carries at most (#cold tiers + 1) versions regardless of write
    * skew — single-digit between compactions, never a data-scaled
    * pileup. AQE's skew handling covers joins only and would not
    * rescue a skewed window; for UNBOUNDED changelogs (versions per
    * key grow with the data, e.g. an event log keyed by entity) use
    * the mergeable aggregate form instead — SkewTools.lwwLatest,
    * gated against a planted 10%-hot key in ScaleToolsSpec.
    */
  def snapshot(table: String): DataFrame = {
    val store = storeOf(table)
    val m = store.meta
    // read-mostly fast path: no hot versions + a single cold tier
    // needs no merge at all — any one tier holds each pk at most once
    // (flush writes the latest-version map; compaction dedups), so
    // the parquet serves directly, minus tombstones. This is the
    // common post-flush shape and skips the union + window dedup that
    // dominate job latency for point reads and aggregates.
    val hotEmpty = store.synchronized(store.latest.isEmpty)
    if (hotEmpty && store.coldDirs.size == 1)
      return spark.read.parquet(store.coldDirs.head)
        .filter(!col("__tombstone"))
        .select(m.cols.map(c => col(c.name)): _*)
    val hotRows = store.liveRows.map(rv => Row.fromSeq(rv.values.toIndexedSeq))
    val hot = spark.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), m.schema)
    if (store.coldDirs.isEmpty) hot
    else {
      // hot versions shadow cold: union with seq, LWW window dedup,
      // drop tombstones — the reference's multi-layer merge (C4).
      val hotV = {
        val rows = store.synchronized {
          store.latest.values.map(rv =>
            Row.fromSeq(rv.values.toIndexedSeq :+ rv.seq :+ rv.tombstone)).toVector
        }
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), versionedSchema(m))
      }
      val cold = store.coldDirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      val w = Window.partitionBy(col(m.pk)).orderBy(col("__seq").desc)
      hotV.unionByName(cold)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col("__tombstone"))
        .select(m.cols.map(c => col(c.name)): _*)
    }
  }

  /** Cached-snapshot byte cap: tables whose retained bytes exceed this
    * are never cached — at 100 TB the accelerator is for the HOT mixed
    * working set (the reference's in-RAM columnar store role), not a
    * license to pin an arbitrary table in executor memory.
    */
  private val snapshotCacheMaxBytes: Long = 8L << 30
  private[graft] var snapshotCacheEnabled = true

  /** The snapshot, persisted and reused while the table's content
    * version is unchanged — repeated analytical statements over a
    * stable table (the mixed-HTAP steady state) skip re-planning AND
    * re-scanning: after the first action the data serves from Spark's
    * in-memory columnar cache. Every write path bumps the version
    * (applyVersion covers put/batch/DML/streaming ingest; flush and
    * both compaction swaps bump on tier-set change), so a version
    * match guarantees the cached plan's hot rows and cold file
    * listing are both current — freshness is exactly the snapshot()
    * contract. Invalidated entries are RETIRED when replaced, not
    * unpersisted in place — a reader may be mid-action on the old
    * plan (the leased aggregate path, or a sparkSql consumer) and
    * losing its cached block mid-fetch is an irrecoverable task
    * failure under load. Retired entries drain when no scan lease is
    * live (drainRetiredSnaps); writes still pay zero cache
    * bookkeeping.
    */
  def snapshotCached(table: String): DataFrame = {
    val store = storeOf(table)
    if (!snapshotCacheEnabled) return snapshot(table)
    val v0 = store.version.get()
    store.synchronized {
      store.cachedSnap match {
        case Some((cv, df)) if cv == v0 => return df
        case _                          => ()
      }
    }
    val df = snapshot(table)
    // a write landing while the plan was captured makes the version
    // tag torn — serve the fresh plan uncached, next caller rebuilds
    if (store.version.get() != v0) return df
    if (store.synchronized(store.coldDirs).map(dirBytes).sum
        + store.approxBytes > snapshotCacheMaxBytes) return df
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    store.synchronized {
      if (store.version.get() == v0) {
        store.cachedSnap.foreach { case (_, old) =>
          store.retiredSnaps = store.retiredSnaps :+ old
        }
        store.cachedSnap = Some((v0, cached))
      } else cached.unpersist(false)
    }
    drainRetiredSnaps(store)
    cached
  }

  /** How many retired snapshot-cache entries may stay persisted while
    * scan leases are live before the oldest are force-released: bounds
    * cache memory under a reader that never quiesces (block-manager
    * eviction makes a pinned-but-cold entry cheap, but unbounded
    * lineage retention is not). Small because entries only accumulate
    * while writes keep landing DURING long reads.
    */
  private val maxRetiredSnaps = 8

  /** Reader-safe release of retired snapshot-cache entries: unpersist
    * all of them once no scan lease is live (the aggregate, SELECT
    * scan, DML-match, and scanIterator paths all hold one across their
    * actions), else only the overflow past maxRetiredSnaps —
    * oldest-first, the same cushion discipline as retired tier GC.
    * A force-released entry a reader still holds recomputes from
    * lineage on the next access; the one truly racy window (block
    * removed between locate and fetch) is absorbed by the single
    * block-loss retry on the engine's own action sites.
    */
  private def drainRetiredSnaps(store: HotStore): Unit = {
    val release = store.synchronized {
      if (store.retiredSnaps.isEmpty) Vector.empty[DataFrame]
      else if (store.activeScans.get() == 0) {
        val r = store.retiredSnaps; store.retiredSnaps = Vector.empty; r
      } else if (store.retiredSnaps.size > maxRetiredSnaps) {
        val over = store.retiredSnaps.size - maxRetiredSnaps
        val r = store.retiredSnaps.take(over)
        store.retiredSnaps = store.retiredSnaps.drop(over)
        r
      } else Vector.empty[DataFrame]
    }
    release.foreach(_.unpersist(false))
  }

  /** True when the failure chain is a lost cached block — the
    * signature of an unpersist racing an in-flight fetch. The retry
    * recomputes the partition from lineage (the block is gone by
    * then, so the second run cannot hit the same window).
    */
  private def isBlockLoss(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      val m = c.getMessage
      if (m != null && m.contains("Block rdd_") &&
          (m.contains("does not exist") || m.contains("not found")))
        return true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Run an action-bearing body once, retrying exactly once on a lost
    * cached block (see isBlockLoss). Public as [[withBlockLossRetry]]
    * for the extension-surface consumers (REST /api/sparksql, the
    * shell) whose actions run OUTSIDE the engine's scan leases: a
    * retired snapshot-cache entry can be force-released mid-action
    * there, and the retry (which re-plans through sparkSql against
    * the fresh cache) absorbs the one racy window.
    */
  private def retryOnBlockLoss[T](body: => T): T =
    try body catch { case t: Throwable if isBlockLoss(t) => body }

  def withBlockLossRetry[T](body: => T): T = retryOnBlockLoss(body)

  /** Full Spark SQL over the live snapshots: every table registered
    * as a temp view, then delegated to Catalyst — joins, GROUP BY,
    * windows, set ops, everything the reference dialect lacks
    * (SURVEY §2.6: each gap is native Spark once the snapshot is a
    * DataFrame). HTAP freshness holds — views are rebuilt from the
    * current hot+cold state on every call.
    *
    * ACTION CONTRACT: the returned plan reads cached snapshots, and a
    * concurrent write can retire-and-release the entry mid-action
    * (the lazy plan holds no scan lease — it cannot, the engine never
    * sees the action). Run collect/iterate under
    * [[withBlockLossRetry]] (as /api/sparksql and the shell do): the
    * retry re-plans against the fresh cache, absorbing the one racy
    * release window.
    */
  def sparkSql(query: String): DataFrame = {
    // register only the tables the query REFERENCES (word-boundary
    // match): a 50-table engine serving a 1-table statement must pay
    // one snapshot build, not fifty version checks + possible
    // rebuilds per call. The matcher can only over-match (a table
    // name inside a string literal) — an extra registration costs one
    // cached-snapshot touch, never correctness. Zero matches (e.g. a
    // quoted/qualified spelling the heuristic misses) falls back to
    // registering everything, so behavior degrades to the old cost,
    // never to TABLE_OR_VIEW_NOT_FOUND.
    val names = tableNames
    val referenced = names.filter(referencedIn(query, _))
    def register(ts: Vector[String]): Unit = ts.foreach { t =>
      snapshotCached(t).createOrReplaceTempView(t)
      registeredViews.add(t)
    }
    val selective = referenced.nonEmpty && referenced.size < names.size
    register(if (selective) referenced else names)
    // stale-view guard (r17 ADVICE): a statement can reference one
    // table literally and another NON-literally (IDENTIFIER('or' ||
    // 'ders')) — the literal match then skips the zero-match fallback
    // while the non-literal name would resolve against whatever temp
    // view an EARLIER call left behind: a silently stale snapshot.
    // Drop this engine's views for tables NOT refreshed this call, so
    // a heuristic miss fails analysis loudly — and then retries ONCE
    // with every table's fresh snapshot registered. The worst a miss
    // costs is the old register-everything price, never a stale read.
    if (selective) {
      registeredViews.forEach { v =>
        if (!referenced.contains(v) && names.contains(v)) {
          spark.catalog.dropTempView(v)
          registeredViews.remove(v)
        }
      }
      try spark.sql(query)
      catch {
        // only an UNRESOLVED-RELATION analysis failure means the
        // heuristic missed a table (r18 ADVICE): a typo'd column or
        // bad function would re-register every snapshot just to
        // re-raise — wasted work, and the second registration state
        // can mask which state produced the user-visible error
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
              (e.getCondition.startsWith("TABLE_OR_VIEW_NOT_FOUND") ||
                e.getCondition.startsWith("UNRESOLVED_RELATION")) =>
          register(names.filterNot(referenced.contains))
          spark.sql(query)
      }
    } else spark.sql(query)
  }

  /** Word-boundary test for table `t` appearing in SQL text — the one
    * referenced-table heuristic sparkSql and explainSpark share.
    */
  private def referencedIn(query: String, t: String): Boolean =
    // (?U): the dialect's lexer accepts any Character.isLetter
    // identifier, and a non-Unicode \b never matches a name ending in
    // a non-ASCII letter — which would skip its registration entirely
    java.util.regex.Pattern
      .compile(s"(?iU)\\b${java.util.regex.Pattern.quote(t)}\\b")
      .matcher(query).find()

  /** EXPLAIN for the Spark SQL extension surface (the HTAP EXPLAIN in
    * execExplain covers only the reference dialect): reports which
    * storage tiers feed each referenced table's snapshot — hot rows,
    * cold tiers by level, footer row counts — plus Catalyst's
    * formatted physical plan (pushed filters, pruned read schemas,
    * join strategies, codegen spans). Tier feed + physical plan is
    * the pair a 100 TB operator actually debugs with: the first
    * answers "how fresh/merged is what I'm reading", the second
    * "what will this cost".
    *
    * Referenced tables are matched by word boundary in the query
    * text — a heuristic, but snapshots are rebuilt per call anyway,
    * so an over-match only adds a report line.
    */
  def explainSpark(query: String): String = {
    val df = sparkSql(query)
    val referenced = tableNames.filter(referencedIn(query, _))
    val lines = Vector.newBuilder[String]
    lines += "Snapshot Sources:"
    referenced.foreach { t =>
      val store = storeOf(t)
      val (hotRows, cold, layout) = store.synchronized {
        (store.latest.valuesIterator.count(!_.tombstone), store.coldDirs,
          store.layout)
      }
      val byLevel =
        if (cold.isEmpty) ""
        else cold.groupBy(levelOf).toVector.sortBy(_._1)
          .map { case (l, ts) => s"L$l x${ts.size}" }.mkString(" ", " ", "") +
          s", ~${cold.map(tierRows).sum} rows cold"
      val layoutNote =
        if (layout.isEmpty) "" else s", layout zorder(${layout.mkString(",")})"
      lines += s"  - $t: hot rows $hotRows, cold tiers ${cold.size}$byLevel$layoutNote"
    }
    lines += ""
    lines += df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    lines.result().mkString("\n")
  }

  /** Temp views THIS engine registered via sparkSql — DROP TABLE must
    * not clobber same-named views owned by the user or by another
    * engine sharing the SparkSession.
    */
  private val registeredViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** C7: streaming range iterator — bounded-memory batched pull over
    * the live snapshot (reference range_query_executor.hpp:253-338).
    * Partitions are fetched to the driver one at a time; the full
    * result set is never materialized.
    */
  def scanIterator(table: String, where: Option[Pred] = None): Iterator[Row] = {
    val store = storeOf(table)
    opRangeScans.incrementAndGet()
    // lease BEFORE the plan is built: snapshot() captures the cold
    // file listing, and without the lease already held, back-to-back
    // compaction swaps in the plan-to-lease window (> tierRetainGens
    // of them) could delete files the captured plan references
    acquireScanLease(store)
    try {
      val df0 = snapshot(table)
      val df = where.map(p => df0.filter(predToColumn(store.meta, p))).getOrElse(df0)
      import scala.jdk.CollectionConverters._
      leasedIterator(store, df.toLocalIterator().asScala)
    } catch { case t: Throwable => releaseScanLease(store); throw t }
  }

  /** acquire the retired-tier GC lease and stamp the pull clock —
    * always BEFORE building the plan whose file listing it protects
    */
  private def acquireScanLease(store: HotStore): Unit = {
    store.activeScans.incrementAndGet()
    store.lastScanPull.set(System.nanoTime())
  }

  private def releaseScanLease(store: HotStore): Unit = {
    store.activeScans.decrementAndGet()
    trimRetired(store)
    drainRetiredSnaps(store)
  }

  /** Wrap a bounded-pull iterator for a lease the CALLER has already
    * acquired (acquireScanLease, before plan capture): releases on
    * exhaustion OR on any exception from the underlying pull, and
    * stamps lastScanPull on every fetch so trimRetired can tell this
    * live consumer from an abandoned one. While the lease is live,
    * retired tier files are queued for deletion rather than deleted
    * (trimRetired), so a slow consumer's plan-time file listing stays
    * on disk. An iterator ABANDONED mid-stream without an exception
    * keeps its lease until the deferred queue passes maxDeferredGens
    * AND the lease has gone idle — the C7 contract is to drain (or
    * use the capped SELECT path, which releases in a finally).
    */
  private def leasedIterator[A](store: HotStore, it: Iterator[A]): Iterator[A] = {
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) releaseScanLease(store)
    new Iterator[A] {
      def hasNext: Boolean =
        try {
          val h = pulled(store)(it.hasNext)
          if (!h) release()
          h
        } catch { case t: Throwable => release(); throw t }
      def next(): A =
        try pulled(store)(it.next())
        catch { case t: Throwable => release(); throw t }
    }
  }

  /** Run ONE bounded-pull fetch under the in-flight marker: while the
    * fetch blocks, leaseIdle is false regardless of how long it takes
    * (a fetch can legitimately block past leaseIdleBreachMs on a slow
    * stage), and the pull clock is stamped when it completes — the
    * pre-pull-timestamp-only scheme let a single long fetch make a
    * live scan look abandoned.
    */
  private def pulled[A](store: HotStore)(fetch: => A): A = {
    store.inFlightPulls.incrementAndGet()
    try fetch
    finally {
      store.inFlightPulls.decrementAndGet()
      store.lastScanPull.set(System.nanoTime())
    }
  }

  // -------------------------------------------------------------------------
  // batch write path (C8 — reference storage_engine.hpp:174-217
  // batchPut/batchGet/batchDel; unlike the reference's
  // "TODO: single WAL batch entry" loop-over-singles, the whole batch
  // lands under ONE store lock with ONE delta-log fsync)
  // -------------------------------------------------------------------------

  /** Append many typed rows at once. Rows must be in schema column
    * order with values of the declared runtime types. Validation
    * matches the single-row INSERT path (arity, NOT NULL, PK).
    *
    * @return sequence numbers assigned, in input order
    */
  def batchPut(table: String, rows: Seq[Array[Any]]): Vector[Long] = {
    val store = storeOf(table)
    val m = store.meta
    rows.foreach { values =>
      if (values.length != m.cols.size)
        throw new EngineException(
          s"Column count mismatch: expected ${m.cols.size}, got ${values.length}")
      m.cols.zipWithIndex.foreach { case (cd, idx) =>
        if (values(idx) == null && (cd.notNull || cd.name == m.pk))
          throw new EngineException(s"Column '${cd.name}' cannot be NULL")
      }
    }
    val seqs = store.putBatch(rows.map(v => (v, false)))
    opWrites.addAndGet(rows.size.toLong)
    maybeFlush(store)
    seqs
  }

  /** Point-get many PKs at once: hot-map hits are answered driver-side;
    * all cold misses go to parquet in ONE Spark job (an IN-filter scan),
    * not one job per key.
    */
  def batchGet(table: String, pks: Seq[Any]): Map[Any, Array[Any]] = {
    val store = storeOf(table)
    val m = store.meta
    opReads.addAndGet(pks.size.toLong)
    val hot = pks.flatMap(pk => store.get(pk).map(pk -> _)).toMap
    val hotLive = hot.collect { case (pk, rv) if !rv.tombstone => pk -> rv.values }
    val misses = pks.filterNot(hot.contains)
    if (misses.isEmpty || store.coldDirs.isEmpty) hotLive
    else {
      // a handful of cold misses seek via the direct point reader
      // (no job); larger miss sets amortize better as ONE IN-filter
      // Spark scan
      val coldHits =
        if (misses.size <= 8 && ColdPointReader.supportedPk(m)) {
          val tiers = store.synchronized(store.coldDirs)
          ColdPointReader.lookupMany(spark, m, tiers, misses)
            .collect { case (pk, rv) if !rv.tombstone => pk -> rv.values }
        } else retryOnBlockLoss {
          // cached snapshot (steady-state batch reads must not re-plan
          // the merge per call); the action holds no scan lease, so a
          // concurrent retire can release a block mid-collect — the
          // retry re-plans against the fresh cache
          snapshotCached(m.name)
            .filter(col(m.pk).isin(misses: _*))
            .collect()
            .map(r => r.get(m.pkIndex) -> m.cols.indices.map(i => r.get(i)).toArray)
            .toMap
        }
      hotLive ++ coldHits
    }
  }

  /** Tombstone many PKs at once (existing keys only), one log batch. */
  def batchDel(table: String, pks: Seq[Any]): Long = {
    val store = storeOf(table)
    val existing = batchGet(table, pks)
    val seqs = store.putBatch(existing.values.map(v => (v, true)).toSeq)
    opWrites.addAndGet(seqs.size.toLong)
    maybeFlush(store)
    seqs.size.toLong
  }

  // -------------------------------------------------------------------------
  // stats & monitoring (M5 — reference storage_engine.hpp:517-553,
  // API/json_helpers.hpp:73-104)
  // -------------------------------------------------------------------------

  def stats: EngineStats = {
    val tables = this.synchronized { stores.values.toVector }.map { st =>
      // capture counters under the lock; walk the filesystem AFTER
      // releasing it (a recursive dirBytes over multi-GB tiers inside
      // the lock would stall every write to the table)
      val (name, hotRows, hotVersions, hotBytes, cold, flushedMax, layout, layoutPb) =
        st.synchronized {
          (st.meta.name,
            st.latest.valuesIterator.count(!_.tombstone),
            st.log.size, st.approxBytes, st.coldDirs, st.maxFlushedSeq,
            st.layout, st.layoutPartBytes)
        }
      // ONE filesystem walk per tier: coldBytes and the z-layout
      // drift figure both sum from this map (unlaidBytes = bytes in
      // tiers not carrying the current layout token — leveled merges
      // write pk-sorted tiers by design, see optimizeZorder's
      // scaladoc; the incremental OPTIMIZE's cost to clear it)
      val tierBytes = cold.map(t => t -> dirBytes(t)).toMap
      val unlaid =
        if (layout.isEmpty) 0L
        else {
          val zPrefix = layoutTierPrefix(layout,
            if (layoutPb > 0) layoutPb else compactPartBytes)
          cold.filterNot(t => java.nio.file.Paths.get(t)
            .getFileName.toString.startsWith(zPrefix)).map(tierBytes).sum
        }
      TableStats(
        name = name,
        hotRows = hotRows,
        hotVersions = hotVersions,
        hotBytes = hotBytes,
        coldTiers = cold.size,
        coldBytes = tierBytes.values.sum,
        unlaidBytes = unlaid,
        maxFlushedSeq = flushedMax)
    }
    EngineStats(
      tables = tables,
      totalWrites = opWrites.get(),
      totalReads = opReads.get(),
      totalRangeQueries = opRangeScans.get(),
      totalCompactions = opCompactions.get(),
      currentSeq = seqGen.get())
  }

  private[graft] def versionedSchema(m: TableMeta) =
    org.apache.spark.sql.types.StructType(
      m.schema.fields :+
        org.apache.spark.sql.types.StructField("__seq", org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField("__tombstone", org.apache.spark.sql.types.BooleanType, nullable = false))

  private[graft] def storeOf(table: String): HotStore =
    this.synchronized {
      stores.getOrElse(table.toLowerCase,
        throw new EngineException(s"Table '$table' does not exist"))
    }

  // -------------------------------------------------------------------------
  // statement execution
  // -------------------------------------------------------------------------

  private def exec(stmt: Stmt): ResultSet = stmt match {
    case c: Stmt.CreateTable => execCreate(c)
    case Stmt.DropTable(t)   => execDrop(t)
    case i: Stmt.Insert      => execInsert(i)
    case s: Stmt.Select      => execSelect(s)
    case u: Stmt.Update      => execUpdate(u)
    case del: Stmt.Delete    => execDelete(del)
    case Stmt.ShowTables =>
      ResultSet(ok = true, Vector("Tables"), tableNames.map(Vector(_)))
    case Stmt.Explain(sel)   => execExplain(sel)
    case Stmt.Describe(t)    => execDescribe(t)
    case o: Stmt.Optimize    => execOptimize(o)
    case e: Stmt.Export      => execExport(e)
    case i: Stmt.Import      => execImport(i)
    case se: Stmt.Search     => execSearch(se)
  }

  /** The live merged view WITH `__seq` — SEARCH's incremental-fold
    * discipline needs write recency (rows newer than an artifact's
    * build hash in-plan, see [[AnnSearch]]). LWW dedup and tombstone
    * drop are identical to [[snapshot]]; the one extra column is the
    * high-water mark the delta splits on.
    */
  private def snapshotWithSeq(store: HotStore): DataFrame = {
    val m = store.meta
    val keep = m.cols.map(c => col(c.name)) :+ col("__seq")
    val hotEmpty = store.synchronized(store.latest.isEmpty)
    if (hotEmpty && store.coldDirs.size == 1)
      return spark.read.parquet(store.coldDirs.head)
        .filter(!col("__tombstone")).select(keep: _*)
    val hotRows = store.synchronized {
      store.latest.values.map(rv =>
        Row.fromSeq(rv.values.toIndexedSeq :+ rv.seq :+ rv.tombstone)).toVector
    }
    val hotV = spark.createDataFrame(
      java.util.Arrays.asList(hotRows: _*), versionedSchema(m))
    val all =
      if (store.coldDirs.isEmpty) hotV
      else hotV.unionByName(
        store.coldDirs.map(spark.read.parquet(_)).reduce(_.unionByName(_)))
    val w = Window.partitionBy(col(m.pk)).orderBy(col("__seq").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__tombstone"))
      .select(keep: _*)
  }

  /** SEARCH <table> NEAREST (...) TOP k [USING exact|lsh|ivf|ivfpq]
    * [VECTOR <col>] — cosine top-k over a VARCHAR vector column
    * (comma-separated floats), routed through engine-owned ANN
    * artifacts (see [[AnnSearch]] for the build/delta/staleness
    * contract). USING omitted = size-routed: exact below
    * AnnSearch.ExactMax live vectors, LSH above (index routes need a
    * durable data root — an in-memory engine auto-routes to exact).
    * Results: (pk, cosine) ordered by cosine desc then pk, k rows,
    * query-vector rows included (the query is a literal, not a corpus
    * member). Index routes follow the TABLE'S vector dimension (r20
    * — the seeded plane family and IVF codebooks parameterize by dim,
    * recorded in the artifact's _META): any dimension works; ivfpq
    * additionally needs dim divisible by AnnSearch.PqSubspaces. A
    * query whose dimension matches no live row searches exactly over
    * the (empty) dim-matched corpus rather than building an index of
    * nothing.
    */
  private def execSearch(se: Stmt.Search): ResultSet = {
    val store = storeOf(se.table)
    val m = store.meta
    try {
      val vcolName = se.vecCol.getOrElse("v")
      val vcol = m.cols.find(_.name.equalsIgnoreCase(vcolName)).getOrElse(
        throw new EngineException(
          s"SEARCH: vector column '$vcolName' does not exist on '${m.name}'"))
      if (vcol.tpe != ColType.Str)
        throw new EngineException(
          s"SEARCH: vector column '${vcol.name}' must be VARCHAR of " +
            s"comma-separated floats, got ${vcol.tpe.sqlName}")
      val pkCol = m.cols.find(_.name == m.pk).get
      if (pkCol.tpe != ColType.I64 && pkCol.tpe != ColType.I32)
        throw new EngineException(
          "SEARCH requires an integer primary key (the index tier's vec_id domain)")
      se.method.foreach { mm =>
        if (!AnnSearch.Methods.contains(mm))
          throw new EngineException(
            s"SEARCH USING '$mm' is not supported (expected one of: " +
              AnnSearch.Methods.toSeq.sorted.mkString(", ") + ")")
      }
      val q = se.vec.toArray
      acquireScanLease(store)
      try {
        val v0 = store.version.get()
        // parse failures are EXCLUDED, not errors: a malformed or
        // wrong-dimension vector row can never be a neighbor (the
        // zero-norm exclusion every index build applies, extended to
        // the VARCHAR encoding's failure modes)
        val corpus = snapshotWithSeq(store)
          .select(col(m.pk).cast("long").as("vec_id"),
            expr(s"transform(split(`${vcol.name}`, ','), " +
              "x -> CAST(x AS DOUBLE))").as("v"),
            col("__seq"))
          .filter(size(col("v")) === q.length &&
            !exists(col("v"), _.isNull))
          .filter(expr(
            "aggregate(v, CAST(0 AS DOUBLE), (a, x) -> a + x * x) > 0"))
        val n = corpus.count()
        // n == 0 (no live row of the query's dimension) short-circuits
        // to exact regardless of USING: building an index over nothing
        // would train a codebook from zero seeds; the exact scan of an
        // empty corpus returns the correct empty result
        val method =
          if (n == 0) "exact"
          else se.method.getOrElse(
            if (n < AnnSearch.ExactMax || dataDir.isEmpty) "exact" else "lsh")
        val root = if (method == "exact") "" else dataDir match {
          case Some(dd) => java.nio.file.Paths
            .get(dd, "annidx", m.name, s"${vcol.name}_$method").toString
          case None => throw new EngineException(
            s"SEARCH USING $method requires a durable data directory " +
              "(the artifact home); an in-memory engine searches exactly")
        }
        val hits = AnnSearch.search(spark, method, corpus, root, q,
          se.topK, v0, n)
        ResultSet(ok = true, Vector(m.pk, "cosine"),
          hits.toVector.map { case (id, cos) =>
            Vector(id.toString, fmtDouble(cos)) })
      } finally releaseScanLease(store)
    } catch {
      case e: EngineException => ResultSet.err(e.getMessage)
      case e: Exception => ResultSet.err(s"SEARCH failed: ${e.getMessage}")
    }
  }

  /** EXPORT <table> TO '<path>' — write the merged live snapshot
    * (hot ∪ cold, LWW, tombstones dropped) as parquet, error-if-exists
    * (an export must never destroy data it did not write). The in/out
    * twin of IMPORT: together they round-trip a table through plain
    * parquet without a line of Scala — the snapshot-to-downstream-job
    * handoff a 100 TB deployment runs daily. One distributed write
    * job under a scan lease (the plan's tier listing must survive
    * concurrent compaction, the scanIterator discipline).
    */
  /** Striped monitors for export target paths: concurrent EXPORTs to
    * the same target must serialize, or the loser's staging reclaim
    * can destroy the winner's in-flight write (and the winner's
    * rename could then publish the loser's PARTIAL staging dir as the
    * target). Striping (fixed 64) instead of a per-path map: a
    * long-lived engine exporting to timestamped paths daily must not
    * grow an unbounded key registry (the PersistRegistry lesson) —
    * same-path calls always collide on their stripe; the rare
    * cross-path false share only serializes two unrelated exports.
    */
  private val exportLocks = Array.fill(64)(new Object)

  private def execExport(e: Stmt.Export): ResultSet = {
    val store = storeOf(e.table)
    val canonical = java.nio.file.Paths.get(e.path)
      .toAbsolutePath.normalize.toString
    acquireScanLease(store)
    try exportLocks(math.floorMod(canonical.hashCode, 64)).synchronized {
      // never-clobber, crash-atomic: the never-destroy-foreign-data
      // contract is checked up front, the write lands in a staging
      // sibling, and the target appears via ONE rename — a killed or
      // failed export leaves no partial target directory that would
      // (a) permanently block retries with "path already exists" and
      // (b) hand a downstream job incomplete data. The stale staging
      // dir of a previous kill is OURS (suffix-named) and is reclaimed
      // before the write; the per-path lock above makes the reclaim
      // safe against a concurrent export of the same target.
      val target = java.nio.file.Paths.get(e.path)
      if (java.nio.file.Files.exists(target))
        throw new java.io.IOException(s"path already exists: ${e.path}")
      val staging = java.nio.file.Paths.get(e.path + ".__export_staging__")
      Persist.deleteRecursively(staging)
      try {
        snapshot(store.meta.name).write.mode("errorifexists")
          .parquet(staging.toString)
        java.nio.file.Files.move(staging, target)
      } catch {
        case ex: Throwable => Persist.deleteRecursively(staging); throw ex
      }
      ResultSet(ok = true, Vector("Result"),
        Vector(Vector(s"EXPORT ok: '${store.meta.name}' -> ${e.path}")))
    } catch {
      case ex: Exception if !ex.isInstanceOf[EngineException] =>
        ResultSet.err(s"EXPORT failed: ${ex.getMessage}")
    } finally releaseScanLease(store)
  }

  /** IMPORT <table> FROM '<path>' — bulk-load a parquet directory
    * with upsert semantics (BulkLoader.loadFrom: columns matched by
    * name, values coerced per the dialect's INSERT rules, chunked
    * batchPut writes through the WAL). Returns rows loaded.
    */
  private def execImport(i: Stmt.Import): ResultSet = {
    storeOf(i.table) // loud "does not exist" before any Spark read
    try ResultSet.affected(
      BulkLoader.loadFrom(this, i.table, spark.read.parquet(i.path)))
    catch {
      case ex: Exception if !ex.isInstanceOf[EngineException] =>
        ResultSet.err(s"IMPORT failed: ${ex.getMessage}")
    }
  }

  /** OPTIMIZE <table> ZORDER BY (...) through the SQL front — the
    * same [[optimizeZorder]] the admin endpoint calls, surfaced in
    * the dialect so /api/query and the shell reach it too.
    */
  private def execOptimize(o: Stmt.Optimize): ResultSet =
    try {
      val outcome = o.partBytes match {
        case Some(pb) => optimizeZorder(o.table, o.zorderCols, pb, o.autoBytes)
        case None     => optimizeZorder(o.table, o.zorderCols,
          autoBytes = o.autoBytes)
      }
      ResultSet(ok = true, Vector("Result"),
        Vector(Vector(s"OPTIMIZE $outcome: '${o.table}' " +
          s"zorder(${o.zorderCols.mkString(",")})")))
    } catch { case e: EngineException => ResultSet.err(e.getMessage) }

  private def execCreate(c: Stmt.CreateTable): ResultSet = this.synchronized {
    val key = c.table.toLowerCase
    if (catalog.contains(key))
      return ResultSet.err(s"Table '${c.table}' already exists")
    val cols = c.cols.map { spec =>
      val tpe = ColType.fromSql(spec.sqlType).getOrElse(
        return ResultSet.err(s"Unsupported column type '${spec.sqlType}'"))
      ColumnDef(spec.name, tpe, spec.notNull || spec.primaryKey)
    }
    if (cols.map(_.name.toLowerCase).distinct.size != cols.size)
      return ResultSet.err("Duplicate column name")
    // PK: explicit PRIMARY KEY, else first NOT NULL, else first column
    // (reference query_executor.cpp:326-345)
    val pk = c.cols.find(_.primaryKey).map(_.name)
      .orElse(c.cols.find(_.notNull).map(_.name))
      .getOrElse(c.cols.head.name)
    val m = TableMeta(key, cols, pk)
    catalog(key) = m
    val store = new HotStore(m)
    dataDir.foreach { dir =>
      store.delta = Some(new DeltaLog(deltaPath(dir, key), m))
      Persist.saveCatalog(catalogPath(dir), catalog.values)
    }
    stores(key) = store
    ResultSet.affected(0L)
  }

  private def execDrop(table: String): ResultSet = this.synchronized {
    val key = table.toLowerCase
    if (!catalog.contains(key))
      return ResultSet.err(s"Table '$table' does not exist")
    // unlike the reference (which leaves orphan rows, SURVEY §4.3.7)
    // we actually drop the data: delta log, cold tiers, catalog entry.
    catalog.remove(key)
    val store = stores.remove(key)
    store.foreach(st => st.synchronized {
      st.cachedSnap.foreach(_._2.unpersist(false))
      st.cachedSnap = None
      // reading a table concurrently with its DROP is out-of-contract;
      // retired entries need no reader-safe deferral here
      st.retiredSnaps.foreach(_.unpersist(false))
      st.retiredSnaps = Vector.empty
    })
    // a temp view registered by OUR sparkSql would otherwise keep
    // serving the dropped table's last snapshot; views we did not
    // register are someone else's and stay
    if (registeredViews.remove(key)) spark.catalog.dropTempView(key)
    dataDir.foreach { dir =>
      store.flatMap(_.delta).foreach(_.close())
      Persist.deleteRecursively(deltaPath(dir, key))
      Persist.deleteRecursively(coldRoot(dir, key))
      Persist.saveCatalog(catalogPath(dir), catalog.values)
      // the deleted tier paths may be re-minted by a future engine on
      // this dir — drop any point-reader metadata cached against them
      ColdPointReader.invalidateCache()
    }
    ResultSet.affected(0L)
  }

  private def execInsert(i: Stmt.Insert): ResultSet = {
    val store = storeOf(i.table)
    val m = store.meta
    val targetCols: Vector[Int] = i.cols match {
      case Some(names) =>
        names.map(n => m.indexOf(n).getOrElse(
          return ResultSet.err(s"Column '$n' does not exist in table '${i.table}'")))
      case None => m.cols.indices.toVector
    }
    if (targetCols.size != i.values.size)
      return ResultSet.err(
        s"Column count mismatch: expected ${targetCols.size}, got ${i.values.size}")
    val values = new Array[Any](m.cols.size)
    targetCols.zip(i.values).foreach { case (idx, lit) =>
      values(idx) = coerce(lit, m.cols(idx)) match {
        case Right(v)  => v
        case Left(msg) => return ResultSet.err(msg)
      }
    }
    m.cols.zipWithIndex.foreach { case (cd, idx) =>
      if (values(idx) == null && (cd.notNull || cd.name == m.pk))
        return ResultSet.err(s"Column '${cd.name}' cannot be NULL")
    }
    store.put(values)   // upsert: same PK overwrites (skiplist.hpp:170-186)
    opWrites.incrementAndGet()
    maybeFlush(store)
    ResultSet.affected(1L)
  }

  /** literal → typed value per the reference's type-check rules
    * (row_codec.hpp:215-251): ints into int cols, int-or-float into
    * float cols, strings into string cols, true/false/1/0 into bool.
    */
  private def coerce(lit: Literal, cd: ColumnDef): Either[String, Any] = {
    def mismatch = Left(s"Type mismatch for column '${cd.name}'")
    lit match {
      case Literal.NullLit => Right(null)
      case Literal.IntLit(v) => cd.tpe match {
        case ColType.I64 | ColType.Ts => Right(v)
        case ColType.I32 =>
          if (v >= Int.MinValue && v <= Int.MaxValue) Right(v.toInt) else mismatch
        case ColType.F64  => Right(v.toDouble)
        case ColType.F32  => Right(v.toFloat)
        case ColType.Bool => if (v == 0L || v == 1L) Right(v == 1L) else mismatch
        case _            => mismatch
      }
      case Literal.FloatLit(v) => cd.tpe match {
        case ColType.F64 => Right(v)
        case ColType.F32 => Right(v.toFloat)
        case _           => mismatch
      }
      case Literal.StrLit(v) => cd.tpe match {
        case ColType.Str   => Right(v)
        case ColType.Bytes => Right(v.getBytes("UTF-8"))
        case _             => mismatch
      }
      case Literal.BoolLit(v) =>
        if (cd.tpe == ColType.Bool) Right(v) else mismatch
    }
  }

  // ---- SELECT --------------------------------------------------------------

  /** results above this row count are recomputed rather than retained
    * (a cached 1M-row SELECT * would pin driver memory for nothing)
    */
  private val resultCacheMaxRows = 10000
  private[graft] var resultCacheEnabled = true

  private def execSelect(s: Stmt.Select): ResultSet = {
    val store = storeOf(s.table)
    val v0 = store.version.get()
    if (resultCacheEnabled) {
      val hit = store.resultCache.synchronized(store.resultCache.get((s, v0)))
      if (hit != null) return hit
    }
    val rs = execSelectUncached(store, s)
    // cache only when the content version did not move during the
    // read — a mid-statement write would tag a newer result with v0
    if (resultCacheEnabled && rs.ok && rs.rows.size <= resultCacheMaxRows &&
        store.version.get() == v0)
      store.resultCache.synchronized(store.resultCache.put((s, v0), rs))
    rs
  }

  private def execSelectUncached(store: HotStore, s: Stmt.Select): ResultSet = {
    val m = store.meta
    // validate plain column refs
    s.items.foreach {
      case SelectItem.Col(n) if m.indexOf(n).isEmpty =>
        return ResultSet.err(s"Column '$n' does not exist in table '${s.table}'")
      case SelectItem.Agg(_, Some(c)) if m.indexOf(c).isEmpty =>
        return ResultSet.err(s"Column '$c' does not exist in table '${s.table}'")
      case _ => ()
    }
    val agg = s.items.collectFirst { case a: SelectItem.Agg => a }
    agg match {
      case Some(a) => execAggregate(store, a, s.where)
      case None =>
        // driver-side point-lookup fast path: top-level `pk = lit`
        // (reference C1, query_executor.cpp:603-624 — top-level only;
        // AND-nested pk= goes to the scan path). Hot map first — hot
        // versions are strictly newer than anything flushed — then
        // the cold tiers via the direct parquet point reader (no
        // Spark job; files pruned in memory by pk range and bloom).
        pointLookupKey(store, s.where) match {
          case Some(pk) if store.coldDirs.isEmpty || ColdPointReader.supportedPk(m) =>
            opReads.incrementAndGet()
            val cols = projection(m, s.items)
            val rv = store.get(pk).orElse {
              val tiers = store.synchronized(store.coldDirs)
              if (tiers.isEmpty) None
              else ColdPointReader.lookup(spark, m, tiers, pk)
            }
            val rows = rv.filterNot(_.tombstone).toVector
              .map(rv => cols.map(i => fmt(rv.values(i), m.cols(i).tpe)))
            ResultSet(ok = true, cols.map(m.cols(_).name), rows)
          case _ =>
            opRangeScans.incrementAndGet()
            val cols = projection(m, s.items)
            // bounded-memory materialization: toLocalIterator pulls one
            // partition at a time (an unbounded collect() of
            // `SELECT * FROM big` OOMs the driver); results are capped
            // at selectRowCap rows — callers needing the full stream
            // use scanIterator (C7). The scan lease (activeScans)
            // covers plan capture AND the pull — acquired BEFORE
            // snapshot() so no compaction-swap window can delete files
            // the captured plan references; the cap means the iterator
            // may STOP before exhaustion, so release happens in the
            // finally, not via leasedIterator's exhaustion hook.
            acquireScanLease(store)
            try {
              val df0 = snapshot(s.table)
              val df = s.where.map(p => df0.filter(predToColumn(m, p))).getOrElse(df0)
                .select(cols.map(i => col(m.cols(i).name)): _*)
              val it = df.toLocalIterator()
              val buf = Vector.newBuilder[Vector[String]]
              var n = 0
              while (n < selectRowCap && pulled(store)(it.hasNext)) {
                val r = pulled(store)(it.next())
                buf += cols.indices.toVector.map(i => fmt(r.get(i), m.cols(cols(i)).tpe))
                n += 1
              }
              val truncated = n >= selectRowCap && pulled(store)(it.hasNext)
              ResultSet(ok = true, cols.map(m.cols(_).name), buf.result(),
                error = if (truncated)
                  s"Result truncated at $selectRowCap rows; use scanIterator for the full stream"
                else "")
            } finally releaseScanLease(store)
        }
    }
  }

  private def projection(m: TableMeta, items: Vector[SelectItem]): Vector[Int] = {
    val idx = items.flatMap {
      case SelectItem.Star   => m.cols.indices
      case SelectItem.Col(n) => Vector(m.indexOf(n).get)
      case _: SelectItem.Agg => Vector.empty
    }
    if (idx.isEmpty) m.cols.indices.toVector else idx
  }

  private def pointLookupKey(store: HotStore, where: Option[Pred]): Option[Any] =
    where match {
      case Some(Pred.Cmp(c, "=", lit)) if c.equalsIgnoreCase(store.meta.pk) =>
        coerce(lit, store.meta.cols(store.meta.pkIndex)).toOption
      case _ => None
    }

  // ---- A5: stats-accelerated no-WHERE aggregates ---------------------------
  // `SELECT COUNT/SUM/AVG/MIN/MAX(col) FROM t` with no WHERE answers
  // driver-side, no Spark job: cached cold-tier aggregate stats (one
  // job per cold tier-set lifetime at most — seeded FREE at first
  // flush, carried across content-preserving compaction swaps) + a
  // fold over the hot store, with hot-over-cold shadowing resolved
  // through the no-job cold point reader (bloom-gated: a hot pk absent
  // from every tier costs no I/O). This finishes the reference's own
  // unfinished idea — its columnar files carry per-file stats
  // (columnar_format.hpp:143-191) and hybrid_query_router.hpp:404-446
  // sketches the ColumnarAggregator, but the stats never reached SQL.
  // Exactness is preserved by falling back to the Spark path whenever
  // the stats can't answer byte-identically: WHERE clauses, oversized
  // hot stores, unsupported pk types with shadowing to resolve, and
  // MIN/MAX whose cold extreme was shadowed by a hot write.

  private[graft] var statsAggEnabled = true

  /** Hot stores past this size pay the Spark path instead of a
    * driver fold (normally unreachable: hotLimit flushes far below).
    * Raised 1M → 4M (r20): the caps predate the incremental AggFold,
    * and the r20 HTAP A/B measured the two paths directly — the fold
    * advances at ~1.5M rows/s (mixed_count_under_writes) while the
    * Spark fallback it bails to pays a driver createDataFrame at
    * ~100k rows/s (a >1M-row backlog count chased ~26 s in the
    * flush-free arm). Bailing EARLIER than the fold can afford is
    * strictly worse.
    *
    * Scaled by numeric-COLUMN count since r22 (r20 ADVICE item 4 /
    * r21 verdict item 6): the 4M-row constant assumed the measured
    * 2-numeric-column bench table (~570 MB of byPk state); a very
    * wide table at a non-default hotLimit could otherwise grow the
    * fold's driver-side map to several GB. The cap now spends the
    * SAME byte budget the measured constant implied —
    * 4M · entryBytes(2) ≈ 830 MB — at every width: narrow tables
    * keep the full measured 4M-row cap (ceiling — wider caps were
    * never measured), wide tables bail to Spark proportionally
    * earlier (a 1000-numeric-col table caps at ~90k rows ≈ the same
    * bytes). Floor of 64k rows so a pathological width can never
    * disable the stats path entirely below one flush of backlog.
    */
  private[graft] val statsAggFoldBudgetBytes: Long =
    (1L << 22) * Engine.aggFoldEntryBytes(2)

  private[graft] def statsAggHotCap(numNumericCols: Int): Int =
    math.max(1 << 16, math.min(1 << 22,
      (statsAggFoldBudgetBytes / Engine.aggFoldEntryBytes(numNumericCols)).toInt))
  /** max unfolded log entries one statement will fold — see the
    * write-burst guard in statsAggregate. Raised 64k → 1M (r20, same
    * measurement): a 1M-entry fold costs well under a second; the
    * Spark path it bailed to costs ~10 s at that backlog.
    */
  private val aggFoldPendingCap = 1 << 20

  /** shadow-cache entries are bounded: past this the per-query
    * resolutions still run (bloom-gated) but are not retained
    */

  private def numericType(t: ColType): Boolean = t match {
    case ColType.I64 | ColType.I32 | ColType.F64 | ColType.F32 | ColType.Ts => true
    case _ => false
  }

  /** the same widening the Spark path's `cast("double")` applies */
  private def numVal(v: Any): Double = v match {
    case l: java.lang.Long    => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case d: java.lang.Double  => d.doubleValue()
    case f: java.lang.Float   => f.toDouble
    case other                => other.toString.toDouble
  }

  /** driver-side stats fold over row versions (tombstones excluded) —
    * used to seed the first tier's stats from the rows a flush already
    * holds in memory
    */
  private def foldLiveStats(m: TableMeta, rows: Iterable[RowVersion]): TableAggStats = {
    val n = m.cols.size
    val sums = new Array[Double](n)
    val mins = new Array[Double](n)
    val maxs = new Array[Double](n)
    val nn   = new Array[Long](n)
    var live = 0L
    rows.foreach { rv =>
      if (!rv.tombstone) {
        live += 1
        var i = 0
        while (i < n) {
          if (numericType(m.cols(i).tpe)) {
            val v = rv.values(i)
            if (v != null) {
              val d = numVal(v)
              sums(i) += d
              if (nn(i) == 0L || d < mins(i)) mins(i) = d
              if (nn(i) == 0L || d > maxs(i)) maxs(i) = d
              nn(i) += 1
            }
          }
          i += 1
        }
      }
    }
    TableAggStats(live, m.cols.indices.toVector.map { i =>
      if (!numericType(m.cols(i).tpe)) None
      else if (nn(i) == 0L) Some(ColAggStats(0.0, Double.NaN, Double.NaN, 0L))
      else Some(ColAggStats(sums(i), mins(i), maxs(i), nn(i)))
    })
  }

  /** Fold a flushed batch into cached cold stats WITHOUT a job —
    * valid only when no flushed row can shadow a cold LIVE row, i.e.
    * every flushed pk (tombstones included: a delete of history is a
    * retraction too) is strictly greater than the cold live pk
    * maximum. The pk is a numeric stats column, so that maximum is IN
    * the cached stats — the check costs one pass over the hot rows,
    * no file access. Tombstones of hot-only pks pass (they shadowed
    * nothing cold and contribute nothing live); min/max only ever
    * extend under pure appends, so no dirty-tracking is needed.
    */
  private def appendFoldStats(m: TableMeta, prior: TableAggStats,
                              rows: Iterable[RowVersion]): Option[TableAggStats] = {
    if (!numericType(m.cols(m.pkIndex).tpe)) return None
    val pkStats = prior.cols(m.pkIndex) match {
      case Some(s) => s
      case None => return None
    }
    val coldLiveMax =
      if (pkStats.nonNull == 0L) Double.NegativeInfinity else pkStats.max
    val anyShadowing = rows.exists { rv =>
      val v = rv.values(m.pkIndex)
      v == null || numVal(v) <= coldLiveMax
    }
    if (anyShadowing) return None
    val add = foldLiveStats(m, rows)
    Some(TableAggStats(prior.liveRows + add.liveRows,
      m.cols.indices.toVector.map { i =>
        (prior.cols(i), add.cols(i)) match {
          case (Some(a), Some(b)) => Some(ColAggStats(
            a.sum + b.sum,
            if (a.nonNull == 0L) b.min
            else if (b.nonNull == 0L) a.min else math.min(a.min, b.min),
            if (a.nonNull == 0L) b.max
            else if (b.nonNull == 0L) a.max else math.max(a.max, b.max),
            a.nonNull + b.nonNull))
          case _ => None
        }
      }))
  }

  /** ONE Spark job computing every numeric column's stats over the
    * cold-only LWW live view, cached per tier-set — steady-state
    * aggregates over a stable cold set never launch a job again. The
    * collect is the single aggregate row itself — model-sized.
    */
  private def computeColdStats(m: TableMeta, tiers: Vector[String]): TableAggStats = {
    val base = tiers.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    val live =
      if (tiers.size == 1) base.filter(!col("__tombstone"))  // one tier: pk unique by construction
      else {
        val w = Window.partitionBy(col(m.pk)).orderBy(col("__seq").desc)
        base.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && !col("__tombstone"))
      }
    val numIdx = m.cols.indices.filter(i => numericType(m.cols(i).tpe)).toVector
    val aggs: Seq[Column] = count(lit(1)) +: numIdx.flatMap { i =>
      val c = col(m.cols(i).name).cast("double")
      Seq(sum(c), min(c), max(c), count(c))
    }
    val r = live.agg(aggs.head, aggs.tail: _*).collect()(0)
    val byIdx = numIdx.zipWithIndex.map { case (i, k) =>
      val o = 1 + k * 4
      i -> ColAggStats(
        if (r.isNullAt(o)) 0.0 else r.getDouble(o),
        if (r.isNullAt(o + 1)) Double.NaN else r.getDouble(o + 1),
        if (r.isNullAt(o + 2)) Double.NaN else r.getDouble(o + 2),
        r.getLong(o + 3))
    }.toMap
    TableAggStats(r.getLong(0), m.cols.indices.toVector.map(byIdx.get))
  }

  /** Incremental fold state for the no-WHERE stats aggregates (r19 —
    * the HTAP_r19 decomposition named COUNT-under-writes as the
    * mixed-workload floor: every version bump invalidates the result
    * cache, and each statement re-folded the ENTIRE hot store — O(hot)
    * per query, quadratic across a write-heavy phase). The fold now
    * lives with the store: per-pk folded contributions plus running
    * aggregates, advanced by exactly the log suffix appended since the
    * last statement — O(writes since last read), the incremental
    * view-maintenance discipline every HTAP engine converges on.
    * Valid for ONE shadow epoch (tier set): flush/compaction reset it,
    * because cold stats AND shadow resolutions both key on the tier
    * set. MIN/MAX stay monotone under inserts; an update/delete that
    * retracts a column's current hot extremum marks it dirty and the
    * next MIN/MAX recomputes those two numbers from the folded per-pk
    * state (consistent with the fold point, still no Spark job).
    * COUNT/SUM/AVG never dirty. Running float sums retract with
    * subtraction, the standard running-aggregate trade (the one-shot
    * fold already accumulated in arbitrary map order).
    */
  private[engine] final class AggFold(m: TableMeta, val epoch: Long) {
    val numIdx: Array[Int] =
      m.cols.indices.filter(i => numericType(m.cols(i).tpe)).toArray
    private val numPos: Map[Int, Int] = numIdx.zipWithIndex.toMap
    def posOf(colIdx: Int): Int = numPos(colIdx)
    /** store.log entries already folded */
    var logIdx = 0
    /** pk -> (hot-live, has-value per numeric col, value per numeric col) */
    val byPk = new java.util.HashMap[Any, (Boolean, Array[Boolean], Array[Double])]()
    var hotLive = 0L
    var shadowLive = 0L
    val sumDelta = new Array[Double](numIdx.length)
    val nnDelta = new Array[Long](numIdx.length)
    val shadowNN = new Array[Long](numIdx.length)
    val minHit = new Array[Boolean](numIdx.length)
    val maxHit = new Array[Boolean](numIdx.length)
    val hotMin = new Array[Double](numIdx.length)
    val hotMax = new Array[Double](numIdx.length)
    val hotNN = new Array[Long](numIdx.length)
    val mmDirty = new Array[Boolean](numIdx.length)
  }

  /** The no-job aggregate answer, or None when only the Spark path is
    * exact (see section comment). The returned value is in the same
    * double domain the Spark path collects. Since r19 the hot side is
    * the INCREMENTAL [[AggFold]] — a statement pays only the writes
    * that landed since the previous one.
    */
  private def statsAggregate(store: HotStore, a: SelectItem.Agg): Option[Double] = {
    val m = store.meta
    // non-COUNT without a column is a parse-level error — let the
    // Spark path produce the loud message
    if (a.fn != "COUNT" && a.col.isEmpty) return None
    val colIdx = a.col.map(c => m.indexOf(c).get)
    // non-numeric column: the Spark path aggregates a null literal —
    // a constant 0 regardless of data (reference "skip" semantics)
    if (a.fn != "COUNT" && !numericType(m.cols(colIdx.get).tpe)) return Some(0.0)
    val (hotCount, tiers, epoch) = store.synchronized {
      if (store.shadowTiers != store.coldDirs) {
        store.shadowTiers = store.coldDirs
        store.shadowEpoch += 1
      }
      (store.latest.size, store.coldDirs, store.shadowEpoch)
    }
    if (hotCount > statsAggHotCap(m.cols.count(c => numericType(c.tpe))))
      return None
    if (hotCount > 0 && tiers.nonEmpty && !ColdPointReader.supportedPk(m))
      return None
    val cold: TableAggStats =
      if (tiers.isEmpty) TableAggStats(0L, m.cols.map(_ => None))
      else store.synchronized(store.coldStats) match {
        case Some((k, s)) if k == tiers => s
        case _ =>
          val s = computeColdStats(m, tiers)
          store.synchronized {
            if (store.coldDirs == tiers) store.coldStats = Some((tiers, s))
          }
          s
      }
    store.aggFoldLock.synchronized {
      if (store.aggFold == null || store.aggFold.epoch != epoch)
        store.aggFold = new AggFold(m, epoch)
      // capture the unfolded log suffix under the store lock (the
      // buffer may reallocate under a concurrent append); a log
      // shorter than the fold's watermark means the hot store was
      // cleared without an epoch move — cannot happen today (every
      // flush mints a tier), guarded anyway
      val delta: Vector[RowVersion] = store.synchronized {
        if (store.log.size < store.aggFold.logIdx)
          store.aggFold = new AggFold(m, epoch)
        val f0 = store.aggFold
        // write-burst guard: folding is O(pending), and a pending
        // backlog beyond this cap (sustained firehose faster than the
        // fold's shadow resolution) makes the Spark snapshot path the
        // better instrument for THIS statement — bail WITHOUT
        // advancing the watermark, so a later calmer statement folds
        // the backlog incrementally. The same burst-pressure reasoning
        // as statsAggHotCap, one level down.
        if (store.log.size - f0.logIdx > aggFoldPendingCap) return None
        val d = store.log.slice(f0.logIdx, store.log.size).toVector
        f0.logIdx = store.log.size
        d
      }
      val f = store.aggFold
      // batched shadow resolution (r19): every pk NEW to the fold gets
      // its cold shadow resolved in ONE lookupMany pass — one reader
      // open per candidate tier file for the whole delta, instead of
      // one per pk (a write burst whose ids overlap tier ranges was
      // reader-open-bound, hundreds of µs per pk). The per-file row
      // cache inside ColdPointReader keeps repeated folds cheap; the
      // fold itself consults each pk exactly once per epoch (byPk).
      val newPks = {
        val seen = new java.util.LinkedHashSet[Any]()
        delta.foreach { rv =>
          val pk = rv.values(m.pkIndex)
          if (!f.byPk.containsKey(pk)) seen.add(pk)
        }
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq
      }
      val shadows: Map[Any, RowVersion] =
        if (tiers.isEmpty || newPks.isEmpty) Map.empty
        else ColdPointReader.lookupMany(spark, m, tiers, newPks)
      delta.foreach { rv =>
        val pk = rv.values(m.pkIndex)
        val prev = f.byPk.get(pk)
        if (prev == null) {
          // first hot appearance of this pk this epoch: retract its
          // batched-resolved cold shadow
          shadows.get(pk) match {
            case Some(sv) if !sv.tombstone =>
              f.shadowLive += 1
              var k = 0
              while (k < f.numIdx.length) {
                val v = sv.values(f.numIdx(k))
                if (v != null) {
                  val d = numVal(v)
                  f.sumDelta(k) -= d; f.nnDelta(k) -= 1; f.shadowNN(k) += 1
                  cold.cols(f.numIdx(k)).foreach { cs =>
                    if (d == cs.min) f.minHit(k) = true
                    if (d == cs.max) f.maxHit(k) = true
                  }
                }
                k += 1
              }
            case _ => ()
          }
        } else if (prev._1) {
          // retract the superseded live contribution
          f.hotLive -= 1
          var k = 0
          while (k < f.numIdx.length) {
            if (prev._2(k)) {
              val d = prev._3(k)
              f.sumDelta(k) -= d; f.nnDelta(k) -= 1; f.hotNN(k) -= 1
              if (!f.mmDirty(k) && f.hotNN(k) > 0 &&
                  (d == f.hotMin(k) || d == f.hotMax(k))) f.mmDirty(k) = true
            }
            k += 1
          }
        }
        val has = new Array[Boolean](f.numIdx.length)
        val vals = new Array[Double](f.numIdx.length)
        if (!rv.tombstone) {
          f.hotLive += 1
          var k = 0
          while (k < f.numIdx.length) {
            val v = rv.values(f.numIdx(k))
            if (v != null) {
              val d = numVal(v)
              has(k) = true; vals(k) = d
              f.sumDelta(k) += d; f.nnDelta(k) += 1
              if (f.hotNN(k) == 0L || d < f.hotMin(k)) f.hotMin(k) = d
              if (f.hotNN(k) == 0L || d > f.hotMax(k)) f.hotMax(k) = d
              f.hotNN(k) += 1
            }
            k += 1
          }
        }
        f.byPk.put(pk, (!rv.tombstone, has, vals))
      }
      // the pre-r19 one-shot fold read hot rows and the tier listing in
      // ONE critical section; the incremental fold reads the log in a
      // second one, so a flush can interleave (hot drained into a NEW
      // tier while `cold` still describes the old set — an undercount
      // window). Detect and bail to the Spark path: the fold state
      // itself is safe, the next statement's epoch check resets it.
      if (store.synchronized(store.coldDirs) != tiers) return None
      val liveRows = cold.liveRows + f.hotLive - f.shadowLive
      a.fn match {
        case "COUNT" => Some(liveRows.toDouble)
        case fn =>
          val ci = colIdx.get
          val k = f.posOf(ci)
          if (f.mmDirty(k) && (fn == "MIN" || fn == "MAX")) {
            // refresh the two dirty extremes from the FOLDED per-pk
            // state (consistent with the fold point, no store lock,
            // no Spark job); hotNN is maintained and stays
            var mn = 0.0; var mx = 0.0; var seen = false
            val it = f.byPk.values().iterator()
            while (it.hasNext) {
              val (live, has, vals) = it.next()
              if (live && has(k)) {
                val d = vals(k)
                if (!seen || d < mn) mn = d
                if (!seen || d > mx) mx = d
                seen = true
              }
            }
            if (seen) { f.hotMin(k) = mn; f.hotMax(k) = mx }
            f.mmDirty(k) = false
          }
          val cs = cold.cols(ci).getOrElse(ColAggStats(0.0, Double.NaN, Double.NaN, 0L))
          val totalNN = cs.nonNull + f.nnDelta(k)
          if (totalNN <= 0L) Some(0.0) // empty / all-null ⇒ reference 0
          else {
            val coldRemaining = cs.nonNull - f.shadowNN(k)
            fn match {
              case "SUM" => Some(cs.sum + f.sumDelta(k))
              case "AVG" => Some((cs.sum + f.sumDelta(k)) / liveRows)
              case "MIN" =>
                // a shadowed row carrying the cold minimum means the
                // remaining cold rows' minimum is unknown — Spark path
                if (coldRemaining > 0 && f.minHit(k)) None
                else {
                  val cands = (if (coldRemaining > 0) List(cs.min) else Nil) ++
                    (if (f.hotNN(k) > 0) List(f.hotMin(k)) else Nil)
                  if (cands.isEmpty) Some(0.0) else Some(cands.min)
                }
              case "MAX" =>
                if (coldRemaining > 0 && f.maxHit(k)) None
                else {
                  val cands = (if (coldRemaining > 0) List(cs.max) else Nil) ++
                    (if (f.hotNN(k) > 0) List(f.hotMax(k)) else Nil)
                  if (cands.isEmpty) Some(0.0) else Some(cands.max)
                }
              case _ => None
            }
          }
      }
    }
  }

  /** Aggregates with the reference quirks (SURVEY §4.3): COUNT(col)
    * counts all rows; AVG = SUM/COUNT(*); empty set ⇒ 0.
    */
  private def execAggregate(store: HotStore, a: SelectItem.Agg,
                            where: Option[Pred]): ResultSet = {
    opRangeScans.incrementAndGet()
    // scan lease over the WHOLE aggregate — the stats path reads tier
    // files driver-side (cold-stats job, shadow point lookups) and the
    // fallback runs a Spark job; either way the tier listing captured
    // here must outlive concurrent compaction churn (the chaos gate
    // drives flush+compact while COUNT(*) runs)
    acquireScanLease(store)
    // the body's collect runs against the (possibly cached) snapshot;
    // a force-released retired entry can still lose a block mid-fetch
    // in a narrow window — one retry recomputes from lineage
    try retryOnBlockLoss(execAggregateLeased(store, a, where))
    finally releaseScanLease(store)
  }

  private def execAggregateLeased(store: HotStore, a: SelectItem.Agg,
                                  where: Option[Pred]): ResultSet = {
    val m = store.meta
    val header = a.col match {
      case Some(c) => s"${a.fn}($c)"
      case None    => s"${a.fn}(*)"
    }
    if (where.isEmpty && statsAggEnabled) {
      statsAggregate(store, a) match {
        case Some(v) =>
          val shown = if (a.fn == "COUNT") v.toLong.toString else fmtDouble(v)
          return ResultSet(ok = true, Vector(header), Vector(Vector(shown)))
        case None => ()
      }
    }
    val df0 = snapshotCached(m.name)
    val df = where.map(p => df0.filter(predToColumn(m, p))).getOrElse(df0)
    // `SUM(*)` etc. is rejected at parse time (Parser.select); a None
    // column can only reach here for COUNT.
    val numeric: Option[Column] = a.col.map { c =>
      val cd = m.cols(m.indexOf(c).get)
      cd.tpe match {
        case ColType.I64 | ColType.I32 | ColType.F64 | ColType.F32 | ColType.Ts =>
          col(cd.name).cast("double")
        case _ => lit(null).cast("double")  // non-numeric: every value "skipped"
      }
    }
    val resultCol: Column = (a.fn, numeric) match {
      case ("COUNT", _)     => count(lit(1)).cast("double")
      case ("SUM", Some(n)) => coalesce(sum(n), lit(0.0))
      case ("AVG", Some(n)) => coalesce(sum(n) / count(lit(1)), lit(0.0))
      case ("MIN", Some(n)) => coalesce(min(n), lit(0.0))
      case ("MAX", Some(n)) => coalesce(max(n), lit(0.0))
      case (fn, _) =>
        return ResultSet.err(s"$fn(*) is not supported")
    }
    val v = df.agg(resultCol.as("v")).collect()(0).getDouble(0)
    val shown = if (a.fn == "COUNT") v.toLong.toString else fmtDouble(v)
    ResultSet(ok = true, Vector(header), Vector(Vector(shown)))
  }

  /** predicate AST → Catalyst Column. Columns absent from the table
    * evaluate to false, matching the reference (query_executor.cpp:745).
    */
  private[graft] def predToColumn(m: TableMeta, p: Pred): Column = p match {
    case Pred.And(l, r) => predToColumn(m, l) && predToColumn(m, r)
    case Pred.Or(l, r)  => predToColumn(m, l) || predToColumn(m, r)
    case Pred.Cmp(c, op, l) =>
      m.indexOf(c) match {
        case None => lit(false)
        case Some(idx) =>
          val cd = m.cols(idx)
          val v = coerce(l, cd) match {
            case Right(x)  => x
            case Left(_)   =>
              // literal not coercible to the column type (e.g. string vs
              // int): numeric-else-string reference semantics degrade to
              // no match for typed columns
              return lit(false)
          }
          val lc = lit(v)
          op match {
            case "="  => col(cd.name) === lc
            case "!=" => col(cd.name) =!= lc
            case "<"  => col(cd.name) < lc
            case "<=" => col(cd.name) <= lc
            case ">"  => col(cd.name) > lc
            case ">=" => col(cd.name) >= lc
          }
      }
  }

  /** driver-side predicate eval for DML (no Spark job). */
  private[graft] def evalPred(m: TableMeta, p: Pred, values: Array[Any]): Boolean = p match {
    case Pred.And(l, r) => evalPred(m, l, values) && evalPred(m, r, values)
    case Pred.Or(l, r)  => evalPred(m, l, values) || evalPred(m, r, values)
    case Pred.Cmp(c, op, litv) =>
      m.indexOf(c) match {
        case None => false
        case Some(idx) =>
          val cd = m.cols(idx)
          val target = coerce(litv, cd) match {
            case Right(x) => x
            case Left(_)  => return false
          }
          val v = values(idx)
          if (v == null || target == null) return false
          val cmp: Int = (cd.tpe: @unchecked) match {
            case ColType.I64 | ColType.Ts => v.asInstanceOf[Long].compareTo(target.asInstanceOf[Long])
            case ColType.I32  => v.asInstanceOf[Int].compareTo(target.asInstanceOf[Int])
            case ColType.F64  => v.asInstanceOf[Double].compareTo(target.asInstanceOf[Double])
            case ColType.F32  => v.asInstanceOf[Float].compareTo(target.asInstanceOf[Float])
            case ColType.Str  => v.asInstanceOf[String].compareTo(target.asInstanceOf[String])
            case ColType.Bool => v.asInstanceOf[Boolean].compareTo(target.asInstanceOf[Boolean])
          }
          op match {
            case "="  => cmp == 0
            case "!=" => cmp != 0
            case "<"  => cmp < 0
            case "<=" => cmp <= 0
            case ">"  => cmp > 0
            case ">=" => cmp >= 0
          }
      }
  }

  // ---- UPDATE / DELETE -----------------------------------------------------

  /** Matching rows buffered on the driver at once for non-pk DML —
    * one store lock + one delta-log fsync per batch (the C8 batch
    * contract applied to mutation).
    */
  private val dmlBatchRows = 4096

  /** Stream `currentRows` matches and apply them in bounded batches:
    * a broad UPDATE/DELETE never materializes more than dmlBatchRows
    * matching rows on the driver (the SELECT path's toLocalIterator
    * pattern — pre-r8 this was an unbounded collect, a driver OOM on
    * a 10M-row match). Statement semantics are snapshot-at-start
    * either way: the snapshot captures hot rows at plan time and cold
    * tiers are immutable (deferred tier GC keeps retired files alive
    * for in-flight iterators), so mid-statement writes never feed
    * back into the match set.
    */
  private def applyDml(store: HotStore, matches: => Iterator[RowVersion],
                       mutate: RowVersion => (Array[Any], Boolean)): Long = {
    var n = 0L
    val batch = scala.collection.mutable.ArrayBuffer.empty[(Array[Any], Boolean)]
    def drain(): Unit = if (batch.nonEmpty) {
      store.putBatch(batch.toSeq)
      n += batch.size
      batch.clear()
      // mid-statement flushes bound the hot store but must NOT
      // compact: compaction retires tiers, and after tierRetainGens
      // more generations deletes them — which would yank cold files
      // out from under THIS statement's still-running match iterator.
      // Flush-only grows the tier count transiently; the single
      // compaction pass below reclaims it once the iterator is done.
      if (dataDir.isDefined &&
          (store.synchronized(store.latest.size) >= hotLimit ||
            store.synchronized(store.approxBytes) >= hotLimitBytes))
        flushStore(store, compactAfter = false)
    }
    // scan lease: while this statement's match iterator is live,
    // CONCURRENT writers' compactions queue their tier deletions
    // instead of deleting (trimRetired) — the generation cushion
    // alone cannot bound how many compactions finish during a long
    // statement. Acquired BEFORE `matches` (by-name) builds its plan,
    // so the plan-time cold file listing is protected from the first
    // instant. Released (and the queue drained) in the finally.
    acquireScanLease(store)
    try {
      val it = matches
      while (pulled(store)(it.hasNext)) {
        val rv = pulled(store)(it.next())
        batch += mutate(rv)
        if (batch.size >= dmlBatchRows) drain()
      }
      drain()
    } finally releaseScanLease(store)
    if (dataDir.isDefined) maybeCompactLeveled(store)
    opWrites.addAndGet(n)
    n
  }

  private def execUpdate(u: Stmt.Update): ResultSet = {
    val store = storeOf(u.table)
    val m = store.meta
    val setIdx = u.sets.map { case (c, l) =>
      val idx = m.indexOf(c).getOrElse(
        return ResultSet.err(s"Column '$c' does not exist in table '${u.table}'"))
      val v = coerce(l, m.cols(idx)) match {
        case Right(x)  => x
        case Left(msg) => return ResultSet.err(msg)
      }
      if (v == null && (m.cols(idx).notNull || m.cols(idx).name == m.pk))
        return ResultSet.err(s"Column '${m.cols(idx).name}' cannot be NULL")
      (idx, v)
    }
    val n = applyDml(store, currentRows(store, u.where), { rv =>
      val next = rv.values.clone()
      setIdx.foreach { case (i, v) => next(i) = v }
      (next, false)
    })
    ResultSet.affected(n)
  }

  private def execDelete(d: Stmt.Delete): ResultSet = {
    val store = storeOf(d.table)
    val n = applyDml(store, currentRows(store, d.where), rv => (rv.values, true))
    ResultSet.affected(n)
  }

  /** live rows matching `pred` across hot+cold, for DML, as a BOUNDED
    * stream. The predicate is applied BEFORE any driver pull: on the
    * cold path it becomes a Catalyst filter pushed into the parquet
    * scan, and toLocalIterator fetches one partition at a time, so
    * neither non-matching rows nor the full match set ever sit on the
    * driver at once. Cold rows shadowed by hot versions are excluded
    * via the LWW snapshot.
    */
  private def currentRows(store: HotStore, pred: Pred): Iterator[RowVersion] = {
    val m = store.meta
    if (store.coldDirs.isEmpty)
      store.liveRows.filter(rv => evalPred(m, pred, rv.values)).iterator
    else pointLookupKey(store, Some(pred)) match {
      // `UPDATE/DELETE ... WHERE pk = x` — the canonical OLTP
      // mutation — seeks through the direct point reader instead of
      // paying a Spark scan job per statement
      case Some(pk) if ColdPointReader.supportedPk(m) =>
        store.get(pk)
          .orElse(ColdPointReader.lookup(spark, m, store.synchronized(store.coldDirs), pk))
          .filterNot(_.tombstone).iterator
      case _ =>
        import scala.jdk.CollectionConverters._
        snapshot(m.name).filter(predToColumn(m, pred))
          .toLocalIterator().asScala.map { r =>
            RowVersion(0L, tombstone = false,
              m.cols.indices.map(i => r.get(i)).toArray)
          }
    }
  }

  // ---- EXPLAIN / DESCRIBE --------------------------------------------------

  /** Row count of a cold tier from parquet footer metadata — no data
    * scan, no Spark job. Tiers are immutable once written, so counts
    * cache by path.
    */
  private val tierRowCache = scala.collection.concurrent.TrieMap.empty[String, Long]

  private def tierRows(path: String): Long =
    tierRowCache.get(path).getOrElse {
      try {
        val conf = spark.sessionState.newHadoopConf()
        val dir = new org.apache.hadoop.fs.Path(path)
        val fs = dir.getFileSystem(conf)
        val n =
          if (!fs.exists(dir)) 0L
          else fs.listStatus(dir)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map { st =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }.sum
        tierRowCache.put(path, n)
        n
      } catch {
        // transient footer-read failure: report 0 this time but do
        // NOT cache it — a cached 0 would undercount the tier forever
        case _: java.io.IOException => 0L
      }
    }

  private def execExplain(sel: Stmt.Select): ResultSet = {
    val store = storeOf(sel.table)
    val m = store.meta
    val hasAgg = sel.items.exists(_.isInstanceOf[SelectItem.Agg])
    val qtype =
      if (hasAgg) "AGGREGATION"
      else if (pointLookupKey(store, sel.where).isDefined) "POINT_LOOKUP"
      else if (sel.where.isDefined) "RANGE_SCAN"
      else "FULL_SCAN"
    val hotCount = store.liveRows.size
    val tiers = store.coldDirs.size
    // reference estimator (hybrid_query_router.hpp:164-218): per-level
    // entry counts, estimate = max(maxLevel, total/2) — duplicate-
    // aware (a key in a newer level shadows its older versions, so a
    // plain sum over-counts). Hot store is level 0; cold parquet
    // tiers report their footer counts.
    val levels = hotCount.toLong +: store.coldDirs.map(tierRows)
    val estRows =
      if (qtype == "POINT_LOOKUP") 1L
      else math.max(levels.max, levels.sum / 2)
    // estimated I/O cost: the reference router's formulas
    // (hybrid_query_router.hpp:255,274-275,293-294,321-322) with our
    // hot store standing in for the memtable and parquet tiers for
    // the row levels.
    val ioCost = qtype match {
      case "POINT_LOOKUP" => 1.0 + 0.5 * tiers
      case "AGGREGATION"  => 1.0 + 1.3 * tiers
      case _              => 1.0 + tiers.toDouble
    }
    val storageLine =
      if (tiers == 0) "Storage Layers: hot store"
      else s"Storage Layers: hot store + ${store.coldDirs.map(p => java.nio.file.Paths.get(p).getFileName).mkString(", ")}"

    // ---- reference explainPlan layout (hybrid_query_router.hpp:331-393):
    // exact section headers and indentation, so the reference's
    // substring-matching EXPLAIN tests would pass verbatim. The storage
    // path maps onto this architecture honestly: the hot store is the
    // memtable; for point lookups the tiers are read SSTable-style
    // (direct parquet-hadoop seeks, ColdPointReader), for scans and
    // aggregations they are read as columnar files (Spark vectorized
    // parquet scan) — the same files serving both roles IS the HTAP
    // design.
    val tierLevels = store.coldDirs.map(levelOf).distinct.sorted
    val levelsStr = tierLevels.map(l => s"$l ").mkString   // ref: trailing space per level
    def firstCol(p: Pred): String = p match {
      case Pred.Cmp(c, _, _) => c
      case Pred.And(l, _)    => firstCol(l)
      case Pred.Or(l, _)     => firstCol(l)
    }
    val firstFilterCol = sel.where.map(firstCol)
    val refLines = Vector.newBuilder[String]
    refLines += "Query Plan:"
    refLines += s"  Type: $qtype"
    refLines += s"  Estimated Rows: $estRows"
    refLines += f"  Estimated Cost (I/O units): $ioCost%.6f"   // std::to_string(double)
    refLines += "  Storage Path:"
    refLines += "    - Memtable: YES"
    if (tierLevels.nonEmpty) {
      if (qtype == "POINT_LOOKUP")
        refLines += s"    - Row SSTables (Levels): $levelsStr"
      else
        refLines += s"    - Columnar Files (Levels): $levelsStr"
    }
    firstFilterCol.foreach(c => refLines += s"  Filter Pushdown: YES (column: $c)")
    val projCols = sel.items.collect {
      case SelectItem.Col(n)           => n
      case SelectItem.Agg(_, Some(n))  => n
    }
    if (!sel.items.contains(SelectItem.Star) && projCols.nonEmpty)
      refLines += s"  Projection: ${projCols.map(c => s"$c ").mkString}"

    // engine diagnostics beyond the reference's surface
    val lines = refLines.result() ++ Vector(
      "Engine:",
      s"  Query Type: $qtype",
      s"  Table: ${m.name}",
      s"  Hot Rows: $hotCount",
      s"  Cold Tiers: $tiers",
      f"  Estimated I/O Cost: $ioCost%.1f",
      s"  $storageLine",
      s"  Filter Pushdown: ${if (sel.where.isDefined) "YES" else "NO"}",
      s"  Projection Pushdown: ${if (sel.items.contains(SelectItem.Star)) "NO" else "YES"}")
    ResultSet(ok = true, Vector("Explain"), lines.map(Vector(_)))
  }

  private def execDescribe(table: String): ResultSet = {
    val m = this.synchronized {
      catalog.getOrElse(table.toLowerCase,
        return ResultSet.err(s"Table '$table' does not exist"))
    }
    val rows = m.cols.map { c =>
      Vector(c.name, c.tpe.sqlName,
        if (c.notNull || c.name == m.pk) "NOT NULL" else "NULL",
        if (c.name == m.pk) "PRI" else "")
    }
    ResultSet(ok = true, Vector("Column", "Type", "Nullable", "Key"), rows)
  }

  // ---- value formatting (reference result_formatter.hpp:153-172) -----------

  private[graft] def fmt(v: Any, tpe: ColType): String = v match {
    case null => ""   // reference displays NULL as empty string
    case d: Double => fmtDouble(d)
    case f: Float  => fmtDouble(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** C++ `ostringstream << double` look-alike: 6 significant digits,
    * trailing zeros stripped (300.00 prints as "300").
    */
  private[graft] def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == d.toLong && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d, new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString
}

object Engine {

  /** Estimated retained bytes per [[AggFold]] byPk entry at `numCols`
    * numeric columns: HashMap.Entry + boxed Long key + Tuple3 + the
    * hash table's own growth slack (~180 fixed) plus Array[Boolean]
    * (1 B/col) + Array[Double] (8 B/col). Constants fit MEASUREMENT,
    * not just object-layout arithmetic — graft.FoldMemProbe (post-GC
    * heap deltas over the exact AggFold structure) measured
    * 194 B/entry at k=2 (model 198), 459 at k=32 (468), 9234 at
    * k=1000 (9180): within ±2% everywhere that matters.
    */
  private[graft] def aggFoldEntryBytes(numCols: Int): Long =
    180L + 9L * numCols
}
