package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession

/** Driver-side cold point lookup — the analogue of the reference's
  * SSTable point-read path (hybrid_query_router POINT_LOOKUP via
  * bloom/index, never a scan): for `pk = lit` the pk-sorted tier
  * files are read DIRECTLY through parquet-hadoop with the predicate
  * pushed into the reader. No Spark job, no scheduler latency.
  *
  * Tier files are immutable once written, so everything knowable from
  * their metadata is cached per path (the reference caches a bloom
  * filter + sparse index per SSTable for the same reason,
  * sstable.hpp): the Hadoop conf, each tier's file listing, and each
  * file's parsed footer, pk min/max and pk bloom filter. A file that
  * cannot hold the key is rejected in memory — first by its pk range,
  * then by one bloom probe — so in-range misses cost no I/O at all.
  * Only the file that holds the key is opened: with the cached footer
  * (no footer read, no per-call Hadoop setup), and the column-index
  * page filter decodes just the page holding the key — tier pages are
  * capped at [[tierPageRows]] rows. Per-file verdicts are additionally
  * LRU row-cached (the block-cache role), so repeat reads of warm keys
  * never touch the filesystem.
  *
  * LWW across tiers: tiers are age-ordered in `coldDirs` (flush
  * drains hot rows whose seqs exceed everything flushed before, and a
  * leveled merge consumes a contiguous age range and lands in its
  * place), so every seq in a younger tier is greater than every seq
  * in an older one. The NEWEST tier containing the key therefore
  * holds its latest version — the scan early-exits there, tombstone
  * included (the caller treats a winning tombstone as "no row").
  * Hot-store versions are strictly newer than anything cold, so the
  * caller consults the hot map first and only falls here on a miss.
  */
object ColdPointReader {

  /** Native predicates exist for the integer/string pk types; other
    * pk types fall back to the Spark scan path.
    */
  def supportedPk(m: TableMeta): Boolean =
    m.cols(m.pkIndex).tpe match {
      case ColType.I64 | ColType.I32 | ColType.Str | ColType.Ts => true
      case _ => false
    }

  /** Row cap of one parquet page in every tier file, set by both tier
    * writers (flush and compaction). A point read decodes the one page
    * the column index names for the key, so this bounds its decode to
    * ~1k rows per column instead of parquet's 20k-row default.
    */
  val tierPageRows = 1024

  // ---- observability (spec gates, not hot-path logic) -----------------------

  /** Files actually opened for data reads / footer metadata parses.
    * Spec-gated: after the metadata cache is warm, a point lookup must
    * open only files whose pk range covers the key, and must parse no
    * footers at all.
    */
  val dataFilesOpened = new java.util.concurrent.atomic.AtomicLong(0)
  val footersParsed   = new java.util.concurrent.atomic.AtomicLong(0)

  // ---- immutable-tier metadata caches ---------------------------------------

  /** One Hadoop conf per session — `newHadoopConf()` copies the full
    * configuration and costs more than the point read itself. Weak-keyed
    * on the session itself (identity equality — SparkSession doesn't
    * override equals): entries vanish with the session, and no identity
    * hash can ever alias two live sessions.
    */
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, org.apache.hadoop.conf.Configuration])

  private def confOf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    confCache.synchronized {
      var c = confCache.get(spark)
      if (c == null) { c = spark.sessionState.newHadoopConf(); confCache.put(spark, c) }
      c
    }

  /** One immutable tier file's cached read state: its input handle
    * and parsed footer (a lookup opens the file without re-reading
    * either), the pk min/max from the footer row-group stats (None when
    * stats are absent), and the in-memory pk bloom gate (None when a
    * row group has no bloom or the pk's physical type has no matching
    * hash — then only the range prunes).
    */
  private final case class FileMeta(input: HadoopInputFile, footer: ParquetMetadata,
                                    range: Option[(Any, Any)],
                                    bloom: Option[Any => Boolean])

  private val tierCache =
    scala.collection.concurrent.TrieMap.empty[String, Vector[FileMeta]]

  /** Dirs whose tiers were GC'd: a listing computed concurrently with
    * the eviction must not re-insert dead metadata (the compute inside
    * a plain getOrElseUpdate could finish AFTER evictTiers removed the
    * entry and win the insert — a stale FileMeta vector nothing evicts
    * again). Retired dirs are never cached again; tier paths embed a
    * monotonic seq and are not re-minted in-process, so this costs
    * nothing on live paths, and the set grows only with compaction
    * churn — the same rate the evicted cache entries themselves did.
    */
  private val retired = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Bounded LRU row cache, keyed (tier file, pk) → that FILE's verdict
    * for the key (hit with version, or definitive absence). Tier files
    * are immutable, so entries can never go stale: a newer version of
    * the key lands in the hot store or a NEWER tier, both consulted
    * before this file. Repeated point reads of warm keys are served at
    * memory speed — the reference's block-cache role (SSTable blocks
    * cached across reads; sstable.hpp / SURVEY §2.4 C1).
    */
  private val rowCacheMax = 1 << 16
  private val rowCache =
    new java.util.LinkedHashMap[(String, Any), Option[RowVersion]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Any), Option[RowVersion]]): Boolean =
        size() > rowCacheMax
    }

  /** Drop cached metadata (tests / bounded memory in very long-lived
    * drivers; stale entries for deleted tiers are otherwise harmless —
    * lookups never consult dirs outside the live coldDirs vector).
    */
  def invalidateCache(): Unit = {
    tierCache.clear()
    retired.clear()   // full reset: retired paths may be reused across test engines
    rowCache.synchronized(rowCache.clear())
  }

  /** Test probe: whether a tier dir's listing is currently cached. */
  private[graft] def tierCached(dir: String): Boolean = tierCache.contains(dir)

  /** Evict exactly the retired tier dirs' metadata (called from the
    * engine's deferred tier GC when the files are deleted): without
    * this, compaction churn in a long-lived driver grows the metadata
    * cache without bound — and a future tier that re-mints a deleted
    * path must not inherit its predecessor's footer stats.
    */
  def evictTiers(dirs: Iterable[String]): Unit = {
    // retire BEFORE removing: tierFiles double-checks `retired` after
    // any insert, so an in-flight listing that loses the race undoes
    // its own re-insert (see `retired` scaladoc)
    dirs.foreach { d => retired.put(d, ()); tierCache.remove(d) }
    // rowCache keys are fully-qualified Hadoop paths (the invariant is
    // asserted where they are minted — see the lookup cache insert)
    // while coldDirs may be relative — normalize the HANDFUL of prefix
    // dirs through NIO, but keep the per-key side to cheap string ops:
    // running Paths.get over 64k keys inside the lock would stall
    // every concurrent point read for the duration of a tier GC.
    def bare(p: String) =
      java.nio.file.Paths.get(p.stripPrefix("file:"))
        .toAbsolutePath.normalize.toString
    val prefixes = dirs.map(d => {
      val b = bare(d); if (b.endsWith("/")) b else b + "/"
    }).toVector
    rowCache.synchronized {
      val it = rowCache.keySet.iterator()
      while (it.hasNext) {
        val (file, _) = it.next()
        var f = file.stripPrefix("file:")
        if (f.startsWith("//")) {
          // authority form (file://host/x or file:///x): drop the
          // authority segment — over-matching only costs a re-read,
          // under-matching would leave a stale entry a re-minted
          // path could inherit
          val rest = f.drop(2)
          val slash = rest.indexOf('/')
          f = if (slash >= 0) rest.substring(slash) else "/" + rest
        }
        // non-absolute after the cheap strip (unexpected key shape):
        // fall back to full NIO normalization rather than silently
        // escaping eviction
        if (!f.startsWith("/")) f = bare(f)
        if (prefixes.exists(f.startsWith)) it.remove()
      }
    }
  }

  private def tierFiles(conf: org.apache.hadoop.conf.Configuration,
                        m: TableMeta, dir: String): Vector[FileMeta] =
    tierCache.get(dir).getOrElse {
      val d = new Path(dir)
      val fs = d.getFileSystem(conf)
      // A missing dir is NOT cached: a lookup holding an older coldDirs
      // snapshot can race the deferred tier GC and observe a dir that
      // evictTiers just deleted — caching Vector.empty here would
      // repopulate the cache being evicted with an entry nothing ever
      // removes again. Live dirs always exist, so the uncached miss
      // costs one fs.exists on a path that shouldn't be consulted anyway.
      if (!fs.exists(d)) Vector.empty
      else {
        val listing = fs.listStatus(d).toVector
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { st =>
            footersParsed.incrementAndGet()
            val input = HadoopInputFile.fromStatus(st, conf)
            val r = ParquetFileReader.open(input, HadoopReadOptions.builder(conf).build())
            try FileMeta(input, r.getFooter, pkRange(m, r.getFooter), bloomGate(m, r))
            finally r.close()
          }
        // cache only dirs the GC has not retired, and double-check
        // after the insert: evictTiers marks `retired` before clearing
        // the cache, so losing the race here is always visible on the
        // re-check and the entry removes itself
        if (!retired.contains(dir)) {
          tierCache.putIfAbsent(dir, listing)
          if (retired.contains(dir)) tierCache.remove(dir)
        }
        listing
      }
    }

  private def pkChunks(m: TableMeta, footer: ParquetMetadata) =
    footer.getBlocks.asScala.toVector.map(
      _.getColumns.asScala.find(_.getPath.toDotString == m.cols(m.pkIndex).name))

  /** pk min/max over the file's row groups, from the footer stats. */
  private def pkRange(m: TableMeta, footer: ParquetMetadata): Option[(Any, Any)] = {
    val stats = pkChunks(m, footer).flatMap(_
      .filter(c => c.getStatistics != null && !c.getStatistics.isEmpty
        && c.getStatistics.hasNonNullValue)
      .map(_.getStatistics))
    if (stats.isEmpty) None
    else {
      val mins = stats.map(s => statValue(m, s.genericGetMin))
      val maxs = stats.map(s => statValue(m, s.genericGetMax))
      Some((mins.minBy(identity)(ordering(m)), maxs.maxBy(identity)(ordering(m))))
    }
  }

  /** "May this file hold pk?" from the pk bloom filters of all its row
    * groups, read once here and probed in memory from then on.
    */
  private def bloomGate(m: TableMeta, r: ParquetFileReader): Option[Any => Boolean] = {
    val probes = pkChunks(m, r.getFooter).map(_.flatMap(c =>
      Option(r.readBloomFilter(c)).flatMap(
        bloomProbe(m, c.getPrimitiveType.getPrimitiveTypeName, _))))
    if (probes.exists(_.isEmpty)) None
    else Some(pk => probes.exists(_.get(pk)))
  }

  /** The writer hashed the pk's PHYSICAL value, so the probe must hash
    * the same representation; a (logical, physical) pair without a
    * known match gets no probe rather than a false negative.
    */
  private def bloomProbe(m: TableMeta, physical: PrimitiveTypeName,
                         bf: BloomFilter): Option[Any => Boolean] = {
    val hash: Any => Long = (m.cols(m.pkIndex).tpe, physical) match {
      case (ColType.I64 | ColType.Ts, PrimitiveTypeName.INT64) =>
        pk => bf.hash(pk.asInstanceOf[Long])
      case (ColType.I32, PrimitiveTypeName.INT32) =>
        pk => bf.hash(pk.asInstanceOf[Int])
      case (ColType.Str, PrimitiveTypeName.BINARY) =>
        pk => bf.hash(Binary.fromString(pk.asInstanceOf[String]))
      case _ => return None
    }
    // BlockSplitBloomFilter's hash and findHash share mutable scratch
    // buffers: unsynchronized concurrent probes return false negatives
    Some(pk => bf.synchronized(bf.findHash(hash(pk))))
  }

  /** Stats are kept in their parquet-comparable representation: Str
    * stays raw UTF-8 bytes, because parquet UTF8 min/max are ordered by
    * UNSIGNED lexicographical byte comparison, and java.lang.String
    * ordering (UTF-16 code units) disagrees for supplementary code
    * points vs U+E000–U+FFFF — decoding before comparing could prune a
    * file that actually holds the key.
    */
  private def statValue(m: TableMeta, v: Any): Any = m.cols(m.pkIndex).tpe match {
    case ColType.Str => v.asInstanceOf[Binary].getBytes
    case _           => v
  }

  /** The pk literal in the same representation `statValue` uses. */
  private def statKey(m: TableMeta, pk: Any): Any = m.cols(m.pkIndex).tpe match {
    case ColType.Str => pk.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case _           => pk
  }

  private def ordering(m: TableMeta): Ordering[Any] = (m.cols(m.pkIndex).tpe match {
    case ColType.I64 | ColType.Ts => Ordering.Long.on[Any](_.asInstanceOf[java.lang.Long].longValue)
    case ColType.I32              => Ordering.Int.on[Any](_.asInstanceOf[java.lang.Integer].intValue)
    case ColType.Str              =>
      new Ordering[Any] { // parquet UTF8 order: unsigned lexicographical bytes
        def compare(x: Any, y: Any): Int = java.util.Arrays.compareUnsigned(
          x.asInstanceOf[Array[Byte]], y.asInstanceOf[Array[Byte]])
      }
    case t => throw new IllegalArgumentException(s"unsupported pk type $t")
  })

  private def mayContain(fm: FileMeta, m: TableMeta, pk: Any): Boolean =
    fm.range.forall { case (lo, hi) =>
      val ord = ordering(m)
      val k = statKey(m, pk)
      ord.lteq(lo, k) && ord.lteq(k, hi)
    } && fm.bloom.forall(_(pk))

  /** Latest cold version of `pk` across `coldDirs` (tombstones
    * included — the caller interprets), or None if no tier holds it.
    */
  def lookup(spark: SparkSession, m: TableMeta, coldDirs: Seq[String],
             pk: Any): Option[RowVersion] =
    lookupMany(spark, m, coldDirs, Seq(pk)).get(pk)

  /** Latest cold version of each of `pks` (the incremental aggregate
    * fold resolves its whole write delta here): newest tier first — the
    * first tier containing a pk holds its latest version (age-order
    * invariant, scaladoc above) — and ONE file read per candidate file
    * for all of its uncached pks. Verdicts (positive AND negative) land
    * in the per-file row cache.
    */
  def lookupMany(spark: SparkSession, m: TableMeta, coldDirs: Seq[String],
                 pks: Seq[Any]): Map[Any, RowVersion] = {
    if (pks.isEmpty) return Map.empty
    val conf = confOf(spark)
    val resolved = scala.collection.mutable.HashMap.empty[Any, RowVersion]
    var remaining: Set[Any] = pks.toSet
    val it = coldDirs.reverseIterator
    while (it.hasNext && remaining.nonEmpty) {
      val dir = it.next()
      // within one tier a pk occurs at most once (flush writes the
      // latest-version map; merges dedup), but keep max-seq across the
      // tier's files anyway — robustness over assumption
      val tierBest = scala.collection.mutable.HashMap.empty[Any, RowVersion]
      def offer(pk: Any, rv: RowVersion): Unit =
        if (tierBest.get(pk).forall(_.seq < rv.seq)) tierBest(pk) = rv
      tierFiles(conf, m, dir).foreach { fm =>
        // key invariant relied on by evictTiers' cheap prefix match:
        // the path came from FileSystem.listStatus, which returns
        // fully-qualified, normalized paths (file:/abs/... on local FS)
        val file = fm.input.getPath.toString
        val uncached = remaining.filter(pk => mayContain(fm, m, pk)).filter { pk =>
          val hit = rowCache.synchronized(rowCache.get((file, pk)))
          if (hit != null) { hit.foreach(offer(pk, _)); false } else true
        }
        if (uncached.nonEmpty) {
          val found = readFile(conf, m, fm, uncached)
          uncached.foreach { pk =>
            val v = found.get(pk)
            rowCache.synchronized(rowCache.put((file, pk), v))
            v.foreach(offer(pk, _))
          }
        }
      }
      resolved ++= tierBest
      remaining = remaining -- tierBest.keys
    }
    resolved.toMap
  }

  /** Every version of `pks` in one file, max-seq per pk. The cached
    * footer opens the file without re-reading it; the row-group stats,
    * dictionary and bloom filters are off (the in-memory gates already
    * chose this file), while the column-index page filter and the
    * record filter decode only pages that can hold a wanted pk.
    * `HadoopInputFile` keeps checksum-FS verification on the read.
    */
  private def readFile(conf: org.apache.hadoop.conf.Configuration,
                       m: TableMeta, fm: FileMeta,
                       pks: Set[Any]): Map[Any, RowVersion] = {
    dataFilesOpened.incrementAndGet()
    val filter = FilterCompat.get(pkFilter(m, pks))
    // options per read: each builds its own CodecFactory, which the
    // reader releases on close — one shared across threads corrupts pages
    val options = HadoopReadOptions.builder(conf)
      .useStatsFilter(false).useDictionaryFilter(false).useBloomFilter(false)
      .withRecordFilter(filter).build()
    val schema = fm.footer.getFileMetaData.getSchema
    val columnIO = new ColumnIOFactory(fm.footer.getFileMetaData.getCreatedBy)
      .getColumnIO(schema)
    val out = scala.collection.mutable.HashMap.empty[Any, RowVersion]
    val stream = fm.input.newStream()
    val reader =
      try new ParquetFileReader(fm.input, fm.footer, options, stream)
      catch { case t: Throwable => stream.close(); throw t }
    try {
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val records = columnIO.getRecordReader(pages, new GroupRecordConverter(schema), filter)
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read() // null: the record filter rejected the row
          if (g != null) {
            val rv = toRowVersion(g, m)
            val pk = rv.values(m.pkIndex)
            if (out.get(pk).forall(_.seq < rv.seq)) out(pk) = rv
          }
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
    } finally reader.close()
    out.toMap
  }

  private def pkFilter(m: TableMeta, pks: Set[Any]): FilterPredicate = {
    val name = m.cols(m.pkIndex).name
    m.cols(m.pkIndex).tpe match {
      case ColType.I64 | ColType.Ts =>
        FilterApi.in(FilterApi.longColumn(name),
          pks.map(pk => java.lang.Long.valueOf(pk.asInstanceOf[Long])).asJava)
      case ColType.I32 =>
        FilterApi.in(FilterApi.intColumn(name),
          pks.map(pk => java.lang.Integer.valueOf(pk.asInstanceOf[Int])).asJava)
      case ColType.Str =>
        FilterApi.in(FilterApi.binaryColumn(name),
          pks.map(pk => Binary.fromString(pk.asInstanceOf[String])).asJava)
      case t => throw new IllegalArgumentException(s"unsupported pk type $t")
    }
  }

  private def toRowVersion(g: Group, m: TableMeta): RowVersion = {
    val values = m.cols.map { c =>
      if (g.getFieldRepetitionCount(c.name) == 0) null
      else c.tpe match {
        case ColType.I64 | ColType.Ts => Long.box(g.getLong(c.name, 0))
        case ColType.I32   => Int.box(g.getInteger(c.name, 0))
        case ColType.F64   => Double.box(g.getDouble(c.name, 0))
        case ColType.F32   => Float.box(g.getFloat(c.name, 0))
        case ColType.Str   => g.getString(c.name, 0)
        case ColType.Bool  => Boolean.box(g.getBoolean(c.name, 0))
        case ColType.Bytes => g.getBinary(c.name, 0).getBytes
      }
    }.toArray[Any]
    RowVersion(g.getLong("__seq", 0), g.getBoolean("__tombstone", 0), values)
  }
}
