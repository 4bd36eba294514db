package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.api.ApiServer
import graft.engine.{ColdPointReader, Engine, Persist}

/** One workload: table size, flush policy, who sends what.
  * `clients` closed-loop clients send point reads and single-row
  * writes, `writePct` of them writes, over uniform keys or, when
  * `rest`, over Zipf keys through the REST server; `analysts`
  * closed-loop clients instead cycle scan_agg, fold_agg, sparksql; one
  * open-loop writer sends `writerBatch`-row batches at
  * `writerRowsPerSec`.
  */
final case class Spec(name: String, rows: Int, hotLimit: Int, rest: Boolean, writePct: Int,
                      clients: Int, analysts: Int, writerRowsPerSec: Int, writerBatch: Int)

object Spec {
  def of(name: String, nproc: Int): Spec = name match {
    case "htap_analytics" =>
      Spec(name, rows = 60000, hotLimit = 10000, rest = false, writePct = 50,
        clients = 1, analysts = 1, writerRowsPerSec = 2000, writerBatch = 100)
    case "rest_mixed" => Spec(name, rows = 100000, hotLimit = 100000, rest = true, writePct = 20,
      clients = math.max(1, nproc / 2), analysts = 0, writerRowsPerSec = 500, writerBatch = 25)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** `statements`, when set, replaces the timed window with exactly that
  * many statements from one client and no writer: a repeatable run
  * for checking that the Spark work counters come out identical.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
                      statements: Option[Int] = None)

object Main {
  import Cls._

  /** The end-to-end figures: those that repeat from run to run within
    * their bound on every workload. ops_per_s and recovery_s are
    * reported with the layer metrics: the single point client's
    * throughput on htap_analytics swings 20-32 statements/s with the
    * analysts' Spark load, and a reopen replays whatever the last flush
    * left in the log (0-20k rows on htap_analytics, 1-14 ms).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "point_p50_ms" -> "ms", "write_p50_ms" -> "ms")

  /** Client latencies that do not repeat from run to run within a
    * bound (tails; ingest, which flush and compaction stalls dominate on
    * htap_analytics) or that not every workload runs (the analyst
    * classes): reported with the layer metrics, 0 where the workload
    * does not run the class.
    */
  val ClassLatencies: Seq[(String, String, Double)] = Seq(
    ("point_p99_ms", Point, 0.99), ("write_p99_ms", Write, 0.99),
    ("ingest_p50_ms", Ingest, 0.5), ("ingest_p99_ms", Ingest, 0.99),
    ("fold_agg_p50_ms", Fold, 0.5), ("fold_agg_p99_ms", Fold, 0.99),
    ("scan_agg_p50_ms", Scan, 0.5), ("scan_agg_p90_ms", Scan, 0.9),
    ("sparksql_p50_ms", SparkSql, 0.5))

  /** Self-time layers reported per statement class. */
  val SelfLayers: Seq[(String, Seq[String])] = Seq(
    Point -> Seq("sqlfront", "hotstore", "cold_reader", "api", "other"),
    Write -> Seq("sqlfront", "wal", "api", "other"),
    Ingest -> Seq("queue", "wal", "tier", "other"),
    Fold -> Seq("sqlfront", "stats_fold", "spark", "api", "other"),
    Scan -> Seq("sqlfront", "snapshot", "spark", "api", "other"),
    SparkSql -> Seq("snapshot", "spark", "api", "other"))

  /** Untimed traffic before the window: see `run`. */
  val WarmupSeconds = 6

  /** Times the table is loaded into a fresh engine per run: `setup_s`
    * is the median load time.
    */
  val SetupPasses = 3

  val SparkCounters = Seq("jobs", "stages", "tasks", "shuffle_bytes", "input_bytes")

  val PerLayer: Seq[(String, String)] =
    Seq("ops_per_s" -> "1/s", "recovery_s" -> "s") ++ ClassLatencies.map(_._1 -> "ms") ++ Seq(
    "sqlfront.parse_us" -> "us",
    "cold_reader.files_opened_per_point" -> "count",
    "cold_reader.footers_parsed" -> "count",
    "cold_reader.point_ms" -> "ms",
    "hotstore.rows_peak" -> "count",
    "hotstore.bytes_peak" -> "bytes",
    "wal.fsync_p50_ms" -> "ms",
    "engine.write_ms" -> "ms",
    "stats_fold.zero_job_share" -> "ratio",
    "snapshot.build_ms" -> "ms") ++
    Seq(Point, Write, Ingest, Fold, Scan, SparkSql).flatMap(c =>
      SparkCounters.map(k => s"spark.${k}_per_stmt.$c" -> (if (k.endsWith("bytes")) "bytes" else "count"))) ++
    Seq(
      "spark.spill_bytes" -> "bytes",
      "spark.plan_ms.sparksql" -> "ms",
      "spark.exec_ms.scan_agg" -> "ms",
      "spark.exec_ms.sparksql" -> "ms",
      "spark.busy_share" -> "ratio",
      "tier.flushes" -> "count",
      "tier.compactions" -> "count",
      "tier.cold_tiers_peak" -> "count",
      "tier.bytes_per_live_row" -> "bytes",
      "api.overhead_ms" -> "ms",
      "api.response_bytes" -> "bytes",
      "engine.exec_ms" -> "ms",
      "loadgen.late_ms" -> "ms",
      "trace.overhead" -> "ratio",
      "error_rate" -> "ratio",
      "check.print_divergences" -> "count") ++
    SelfLayers.flatMap { case (c, ls) => ls.map(l => s"self_ms.$c.$l" -> "ms") } ++
    Seq(Point, Write, Ingest, Fold, Scan, SparkSql).map(c => s"trace.self_sum_ratio.$c" -> "ratio")

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.get("statements").map(_.toInt))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val full = Spec.of(args.workload, nproc)
    val spec = if (args.statements.isEmpty) full
      else full.copy(clients = if (full.analysts > 0) 0 else 1,
        analysts = math.min(1, full.analysts), writerRowsPerSec = 0)
    val code =
      try { run(args, spec, nproc); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.exit(code)
  }

  /** Median fsync of an 8 KiB write on the data dir's device. */
  def fsyncP50Ms(dir: java.nio.file.Path): Double = {
    val p = dir.resolve("fsync.probe")
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val buf = java.nio.ByteBuffer.allocate(8192)
      Stats.median((1 to 21).map { _ =>
        buf.rewind(); ch.write(buf)
        val t0 = System.nanoTime(); ch.force(false)
        (System.nanoTime() - t0) / 1e6
      })
    } finally { ch.close(); java.nio.file.Files.deleteIfExists(p) }
  }

  private val Ddl =
    "CREATE TABLE kv (id BIGINT NOT NULL PRIMARY KEY, grp BIGINT, amount DOUBLE, note VARCHAR(16))"

  def run(args: Args, spec: Spec, nproc: Int): Unit = {
    val jvmStartNs = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val work = java.nio.file.Paths.get(args.work).toAbsolutePath
    val dataDir = work.resolve("data")
    java.nio.file.Files.createDirectories(dataDir)
    // Spark runs on a quarter of the cores and leaves the rest to the
    // point/write client, the writer, the analyst's own thread and
    // GC (on 4 cores, point_p50's spread across ten htap_analytics seeds
    // fell from 0.17 with half the cores to 0.09 with a quarter)
    val sparkCores = math.max(1, nproc / 4)
    val spark = SparkSession.builder()
      .master(s"local[$sparkCores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", sparkCores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    var api: Option[ApiServer] = None
    try {
      spark.sparkContext.setLogLevel("ERROR")
      def phase(what: String): Unit =
        System.err.println(f"perfbench: $what at ${(System.nanoTime() - jvmStartNs) / 1e9}%.2f s")
      phase("spark up")
      val probe = new SparkProbe
      spark.sparkContext.addSparkListener(probe)
      val fsync = fsyncP50Ms(dataDir)
      def open(dir: java.nio.file.Path) = new Engine(spark, Some(dir.toString), hotLimit = spec.hotLimit)
      val n = spec.rows.toLong
      /** Opens an engine on an empty `dir` and loads the table. */
      def setUp(dir: java.nio.file.Path): (Double, Engine) = {
        java.nio.file.Files.createDirectories(dir)
        val t0 = System.nanoTime()
        val e = open(dir)
        require(e.sql(Ddl).ok, "create table")
        (0L until n).grouped(10000).foreach { ks =>
          e.batchPut("kv", ks.map(k =>
            Array[Any](k, Gen.group(k), Gen.seedCents(args.seed, k) / 100.0, Gen.note(k))))
        }
        e.forceFlush("kv")
        ((System.nanoTime() - t0) / 1e9, e)
      }
      // the last pass loads the engine the run uses; the earlier ones
      // load throwaway copies, so setup_s is a median, not one sample
      val passes = (1 to SetupPasses).map { i =>
        val dir = if (i == SetupPasses) dataDir else work.resolve(s"setup-$i")
        val r = setUp(dir)
        if (i < SetupPasses) Persist.deleteRecursively(dir)
        r
      }
      val engine = passes.last._2
      val setupS = Stats.median(passes.map(_._1))
      phase(f"seeded (${passes.map(_._1).map(t => f"$t%.2f").mkString(", ")} s)")
      if (spec.rest) {
        val s = new ApiServer(engine)
        s.start()
        api = Some(s)
      }
      val model = new Model(args.seed, n)
      val owners = spec.clients + spec.analysts + 1
      val ctx = new Ctx(engine, model, n, owners, args.trace,
        if (spec.rest) Some(new Zipf(spec.rows, 0.99)) else None)
      val root = new Gen(args.seed)
      def backend() = api.fold[Backend](new InProc(engine))(s => new Rest(s.boundPort))
      val clients = (0 until spec.clients + spec.analysts).map(i =>
        new Client(ctx, i, root.stream(i), backend(), new Recorder))
      val writer = new Writer(ctx, owners - 1, root.stream(owners - 1L), spec.writerBatch,
        new Recorder)

      val cycle = Seq(Scan, Fold, SparkSql)
      /** Every closed-loop client on a thread of its own, from `from`
        * until `until` (nanoTime), or for `count` statements when given.
        */
      def closedLoop(from: Long, until: Long, count: Option[Int], record: Boolean): Seq[Thread] =
        clients.map { c =>
          new Thread(() => {
            val mix = new Mix(Seq(Point -> (100 - spec.writePct), Write -> spec.writePct))
            (0 until c.id * 7).foreach(_ => mix.next()) // clients out of phase
            SystemClock.sleepUntil(from)
            var i = 0
            while (count.fold(System.nanoTime() < until)(i < _)) {
              c.run(if (c.id >= spec.clients) cycle((i + c.id) % cycle.size) else mix.next(), record)
              i += 1
            }
          }, s"perfbench-client-${c.id}")
        }

      // warm-up: the window's own closed-loop traffic, untimed, long
      // enough that the JIT has compiled the cold read path (point
      // latency falls for the first 4-7 s of a fresh JVM)
      val warmFrom = System.nanoTime()
      val warm = closedLoop(warmFrom, warmFrom + WarmupSeconds * 1000000000L,
        args.statements.map(_ => 3), record = false)
      warm.foreach(_.start())
      warm.foreach(_.join())
      (1 to 3).foreach(_ => writer.put(record = false))
      phase("warm")

      // ---- the measured window ----
      probe.reset()
      val files0 = ColdPointReader.dataFilesOpened.get()
      val footers0 = ColdPointReader.footersParsed.get()
      val compactions0 = engine.stats.totalCompactions
      val mon = new Monitor(engine, args.trace)
      val anchorMs = System.currentTimeMillis()
      val anchorNs = System.nanoTime()
      val start = anchorNs + 20000000L
      val end = start + args.seconds * 1000000000L
      val closed = closedLoop(start, end, args.statements, record = true)
      val writerThread = new Thread(() =>
        writer.runOpenLoop(start, end, 1000000000L * spec.writerBatch / spec.writerRowsPerSec),
        "perfbench-writer")
      mon.start()
      (if (spec.writerRowsPerSec > 0) closed :+ writerThread else closed).foreach(_.start())
      closed.foreach(_.join())
      val elapsedS = (System.nanoTime() - start) / 1e9
      if (spec.writerRowsPerSec > 0) writerThread.join()
      phase("window done")
      mon.stop()
      probe.settle(10000)
      val filesOpened = ColdPointReader.dataFilesOpened.get() - files0
      val footers = ColdPointReader.footersParsed.get() - footers0
      val compactions = engine.stats.totalCompactions - compactions0

      // ---- correctness: quiescent model check, then restart ----
      val verifyRec = new Recorder
      spark.sparkContext.setLocalProperty(SparkProbe.ClassProp, "verify")
      api.foreach(_.stop()); api = None
      // one untimed reopen first, so the three timed ones do not
      // include compiling the recovery path
      val reopenS = (1 to 4).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val e = open(dataDir)
        ((System.nanoTime() - t0) / 1e9, e)
      }.drop(1)
      Verify.all(reopenS.last._2, model, verifyRec, "after reopen")
      phase("verified")
      val coldBytes = reopenS.last._2.stats.tables.find(_.name == "kv").map(_.coldBytes).getOrElse(0L)

      val recs = clients.map(_.rec) :+ writer.rec :+ verifyRec
      val report = new Report(spec, args, nproc, sparkCores, recs, probe, anchorMs, anchorNs)
      val attempted = recs.map(_.attempted).sum
      val failed = recs.map(_.failed).sum
      val e2e = report.endToEnd(setupS, start, end, Stats.median(reopenS.map(_._1)),
        clients.map(_.rec))
      val layers = report.perLayer(fsync, filesOpened, footers, compactions, mon, coldBytes,
        model.finalState().size.toLong, elapsedS, attempted, failed)
      val metrics = if (args.trace) layers ++ e2e else e2e
      val missing = (if (args.trace) PerLayer else EndToEnd).map(_._1).filterNot(metrics.contains)
      require(missing.isEmpty, s"metrics not produced: $missing")
      println(report.detail(fsync, spark.version, elapsedS, recs.flatMap(_.failures)))
      val body = (if (args.trace) PerLayer else EndToEnd).map { case (k, unit) =>
        "\"" + k + "\":{\"value\":" + Report.num(metrics(k)) + ",\"unit\":\"" + unit + "\"}"
      }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    } finally {
      api.foreach(_.stop())
      spark.stop()
      Persist.deleteRecursively(dataDir)
    }
  }
}

/** Samples engine.stats while the window runs (traced runs only, as
  * the stats call walks tier files and takes the store lock).
  */
final class Monitor(e: Engine, enabled: Boolean) {
  @volatile private var running = true
  var hotRowsPeak, hotBytesPeak, tiersPeak = 0L
  val flushedSeqs = mutable.HashSet.empty[Long]
  private val t = new Thread(() => {
    while (running) {
      e.stats.tables.find(_.name == "kv").foreach { s =>
        hotRowsPeak = math.max(hotRowsPeak, s.hotRows)
        hotBytesPeak = math.max(hotBytesPeak, s.hotBytes)
        tiersPeak = math.max(tiersPeak, s.coldTiers.toLong)
        flushedSeqs += s.maxFlushedSeq
      }
      Thread.sleep(100)
    }
  }, "perfbench-monitor")
  def start(): Unit = if (enabled) t.start()
  def stop(): Unit = if (enabled) { running = false; t.join() }
  def flushes: Long = math.max(0, flushedSeqs.size - 1).toLong
}

/** Untimed full check of a reopened engine against the model: every
  * row of the live snapshot holds the last acked value of its key, and
  * no other row exists. (Aggregates are checked statement by statement
  * inside the window.)
  */
object Verify {
  def all(e: Engine, m: Model, rec: Recorder, when: String): Unit = {
    val expect = m.finalState()
    rec.attempted += 1
    try {
      val rows = e.snapshot("kv").collect()
      val bad = rows.iterator.filterNot { r =>
        val k = r.getLong(0)
        expect.get(k).contains(math.round(r.getDouble(2) * 100)) &&
          r.getLong(1) == Gen.group(k) && r.getString(3) == Gen.note(k)
      }.take(3).map(_.toString).toVector
      if (rows.length != expect.size || bad.nonEmpty)
        rec.fail(s"$when: snapshot has ${rows.length} rows, model ${expect.size}; mismatches $bad")
    } catch { case NonFatal(ex) => rec.fail(s"$when: snapshot failed: $ex") }
  }
}
