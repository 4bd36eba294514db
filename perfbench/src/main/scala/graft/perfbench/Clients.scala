package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.engine.Engine
import graft.sqlfront.Parser

/** Statement classes, one latency distribution each. */
object Cls {
  val Point = "point"
  val Write = "write"
  val Ingest = "ingest"
  val Fold = "fold_agg"
  val Scan = "scan_agg"
  val SparkSql = "sparksql"
  val All: Seq[String] = Seq(Point, Write, Ingest, Fold, Scan, SparkSql)
}

/** State shared by every client thread of one run. */
final class Ctx(val engine: Engine, val model: Model, val n: Long, val owners: Int,
                val trace: Boolean, val zipf: Option[Zipf]) {
  val table = "kv"
  val reqIds = new AtomicLong(0L)
  val fresh = new AtomicLong(n)
  val sc = engine.spark.sparkContext
}

/** What one thread measured. Merged across threads after the run. */
final class Recorder {
  val lat = mutable.HashMap.empty[String, Samples]
  val latTraced = mutable.HashMap.empty[String, Samples]
  val traces = mutable.ArrayBuffer.empty[(String, ReqTrace)]
  val apiOverhead, apiExec, late = new Samples
  var apiBytes, apiCalls = 0L
  var attempted, failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var printDivergences = 0L
  /** (start, end, class) of every statement, for REST job attribution. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long, String)]
  var writeRows = 0L
  val foldReqs = mutable.ArrayBuffer.empty[Long]

  def samples(cls: String, traced: Boolean): Samples =
    (if (traced) latTraced else lat).getOrElseUpdate(cls, new Samples)

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 5) failures += msg
  }
}

/** One thread issuing statements. `backend` decides in-process vs
  * REST; statements, keys, bounds and values come from `g`.
  */
final class Client(ctx: Ctx, val id: Int, g: Gen, backend: Backend, val rec: Recorder) {
  import Cls._
  private val m = ctx.model
  private val n = ctx.n

  private def key(): Long = ctx.zipf.fold(g.long(n))(_.key(g))
  private def amount(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"
  private def range(): (Long, Long) = {
    val w = n / 200 + g.long(n / 20 - n / 200)
    val a = g.long(n - w)
    (a, a + w - 1)
  }
  private def cents(s: String): Option[Long] = s.toDoubleOption.map(d => math.round(d * 100))
  /** Statements run per class: a traced run traces every second one of
    * each class (odd clients start with an untraced one), so traced and
    * untraced halves see the same conditions.
    */
  private val seen = mutable.HashMap.empty[String, Int]
  private var writes = 0
  /** Aggregates cycle in a fixed order: some folds answer from stats
    * and others run Spark jobs for seconds, so a seeded choice gave
    * each seed its own analyst load (same-seed reruns of htap_analytics
    * repeated point_p50 within 2%, while two seeds differed by 16%).
    */
  private var folds, scans = 0

  /** Runs `cls` once: timed call, then the model check outside the
    * timed interval. Every failure or wrong answer counts in `failed`.
    */
  def run(cls: String, record: Boolean = true): Unit = {
    val req = ctx.reqIds.incrementAndGet()
    val traced = ctx.trace && record && { val k = seen.getOrElse(cls, 0); seen(cls) = k + 1; (k + id) % 2 == 0 }
    val rt = if (traced) new ReqTrace(req) else null
    ctx.sc.setLocalProperty(SparkProbe.ClassProp, cls)
    ctx.sc.setLocalProperty(SparkProbe.ReqProp, req.toString)
    val st = statement(cls)
    val t0 = System.nanoTime()
    val out =
      try {
        if (rt == null) st.exec(null)
        else rt.span("client", -1)(st.exec(rt))._1
      } catch { case NonFatal(e) => Outcome(ok = false, Vector.empty, 0L, String.valueOf(e)) }
    val t1 = System.nanoTime()
    st.after(out, t1)
    rec.attempted += 1
    val verdict =
      if (!out.ok) Some(s"$cls failed: ${out.error.take(200)}")
      else try st.check(out, t0, t1) catch { case NonFatal(e) => Some(s"$cls check threw: $e") }
    verdict.foreach(rec.fail)
    if (record) {
      rec.samples(cls, traced).add((t1 - t0) / 1e6)
      rec.intervals += ((t0, t1, cls))
      if (cls == Fold) rec.foldReqs += req
      if (!out.execMs.isNaN) {
        rec.apiOverhead.add((t1 - t0) / 1e6 - out.execMs)
        rec.apiExec.add(out.execMs)
        rec.apiBytes += out.bytes
        rec.apiCalls += 1
      }
      if (traced) rec.traces += ((cls, rt))
    }
  }

  /** A generated statement: `exec` is the timed part, `after` updates
    * the model with the ack, `check` compares with the model.
    */
  private final class Stmt(val exec: ReqTrace => Outcome,
                           val check: (Outcome, Long, Long) => Option[String],
                           val after: (Outcome, Long) => Unit = (_, _) => ())

  private def statement(cls: String): Stmt = cls match {
    case Point => pointStmt()
    // 6 of every 7 writes UPDATE a pre-loaded key (it must find the row
    // first, so it shares the point-read path), 1 INSERTs a fresh key; a
    // fixed split keeps write_p50 near the middle of the UPDATE mode in
    // every run, and its odd period gives the traced and the untraced
    // halves (every second write) the same split
    case Write =>
      writes += 1
      if (writes % 7 == 0) insertStmt() else updateStmt()
    case Fold => foldStmt()
    case Scan => scanStmt()
    case SparkSql => sparkSqlStmt()
    case other => throw new IllegalArgumentException(other)
  }

  /** Parse span, then the engine (or HTTP + engine) span named after
    * the layer that serves the class.
    */
  private def viaSql(q: String, layer: String)(rt: ReqTrace): Outcome =
    if (rt == null) backend.sql(q)
    else {
      rt.span("sqlfront", 0)(Parser.parse(q))
      traceCall(rt, layer)(backend.sql(q))
    }

  private def traceCall(rt: ReqTrace, layer: String)(call: => Outcome): Outcome =
    backend match {
      case _: InProc =>
        val (o, idx) = rt.span(layer, 0)(call)
        rt.engineSpan = idx
        o
      case _: Rest =>
        val (o, idx) = rt.span("api", 0)(call)
        val sp = rt.spans(idx)
        if (!o.execMs.isNaN) {
          val e = math.max(sp.start, sp.end - (o.execMs * 1e6).toLong)
          rt.engineSpan = rt.add(layer, e, sp.end, idx)
        }
        o
    }

  private def pointStmt(): Stmt = {
    val k = key()
    val layer = if (m.written(k)) "hotstore" else "cold_reader"
    new Stmt(viaSql(s"SELECT * FROM kv WHERE id = $k", layer), (o, t0, t1) => {
      val acc = m.acceptable(k, t0, t1)
      o.rows match {
        case Vector(r) if r.size == 4 && r(0) == k.toString && r(1) == Gen.group(k).toString &&
          r(3) == Gen.note(k) && cents(r(2)).exists(acc.contains) => None
        case rows => Some(s"point $k: got ${rows.take(2)} expected cents in $acc")
      }
    })
  }

  private def writeStmt(k: Long, q: Long => String, c: Long): Stmt = {
    val p = m.begin(Seq(k -> c), System.nanoTime())
    new Stmt(viaSql(q(c), "wal"), (o, _, _) =>
      if (o.affected == 1) None else Some(s"write $k affected ${o.affected}"),
      (o, t1) => { m.ack(p, o.ok, t1); rec.writeRows += 1 })
  }

  private def insertStmt(): Stmt = {
    val k = ctx.fresh.getAndIncrement()
    writeStmt(k, c => s"INSERT INTO kv VALUES ($k, ${Gen.group(k)}, ${amount(c)}, '${Gen.note(k)}')",
      g.long(100000))
  }

  // uniform even where point keys are Zipf: an UPDATE moves its key
  // into the hot store, so repeated hot keys would make ever more
  // writes take the fast path until write_p50 sat between two modes
  private def updateStmt(): Stmt = {
    val k = Gen.ownKey(g.long(n), id, ctx.owners, n)
    writeStmt(k, c => s"UPDATE kv SET amount = ${amount(c)} WHERE id = $k", g.long(100000))
  }

  private def one(o: Outcome): Option[String] = o.rows match {
    case Vector(Vector(v)) => Some(v)
    case _ => None
  }

  /** Compare a single printed aggregate with bounds; an in-range value
    * printed differently from the documented 6-digit rule is counted
    * (not failed) when the bounds are exact.
    */
  private def agg(o: Outcome, b: Bounds, what: String): Option[String] =
    one(o) match {
      case Some(v) if Check.within(v, b) =>
        if (what.startsWith("SUM") && b.lo == b.hi && v != Check.fmt6(b.lo))
          rec.printDivergences += 1
        None
      case v => Some(s"$what: got $v expected in [${b.lo}, ${b.hi}]")
    }

  private def foldStmt(): Stmt = {
    folds += 1
    val fn = Seq("COUNT(*)", "SUM(amount)", "AVG(amount)", "MIN(id)", "MAX(id)")(folds % 5)
    val a = m.snap()
    new Stmt(viaSql(s"SELECT $fn FROM kv", "stats_fold"),
      (o, _, _) => {
        val b = m.snap()
        val bounds = fn match {
          case "COUNT(*)" => m.countBounds(a, b)
          case "SUM(amount)" => m.sumBounds(a, b)
          case "AVG(amount)" =>
            val s = m.sumBounds(a, b); val c = m.countBounds(a, b)
            Bounds(s.lo / c.hi, s.hi / c.lo)
          case "MIN(id)" => Bounds(0, 0)
          case _ => m.maxIdBounds(a, b)
        }
        agg(o, bounds, fn)
      })
  }

  private def scanStmt(): Stmt = {
    scans += 1
    val fn = Seq("COUNT(*)", "SUM(amount)", "AVG(amount)", "MIN(amount)", "MAX(amount)")(scans % 5)
    val (lo, hi) = range()
    new Stmt(viaSql(s"SELECT $fn FROM kv WHERE id >= $lo AND id <= $hi", "snapshot"),
      (o, t0, t1) => {
        val r = m.rangeBounds(lo, hi, t0, t1)
        val bounds = fn match {
          case "COUNT(*)" => Bounds(r.count.toDouble, r.count.toDouble)
          case "SUM(amount)" => r.sum
          case "AVG(amount)" => Bounds(r.sum.lo / r.count, r.sum.hi / r.count)
          case "MIN(amount)" => r.min
          case _ => r.max
        }
        agg(o, bounds, s"$fn [$lo,$hi]")
      })
  }

  private def sparkSqlStmt(): Stmt = {
    val (lo, hi) = range()
    val q = s"SELECT grp, COUNT(*) AS c, SUM(amount) AS s FROM kv WHERE id >= $lo AND id <= $hi GROUP BY grp"
    new Stmt(rt => backend match {
      case ip: InProc if rt != null =>
        val (df, si) = rt.span("snapshot", 0)(ip.engine.sparkSql(q))
        rt.engineSpan = si
        rt.span("spark_plan", 0)(df.queryExecution.executedPlan)
        val (rows, ei) = rt.span("spark_exec", 0)(df.collect())
        rt.engineSpan = ei
        Outcome(ok = true, rows.iterator.map(r => r.toSeq.map(String.valueOf).toVector).toVector, 0L, "")
      case _ if rt != null => traceCall(rt, "snapshot")(backend.sparkSql(q))
      case _ => backend.sparkSql(q)
    }, (o, t0, t1) => {
      val g = m.groupBounds(lo, hi, t0, t1)
      val got = o.rows.flatMap(r => r.lift(0).flatMap(_.toLongOption).map(_ -> r)).toMap
      val bad = g.collect {
        case (grp, (cnt, b)) if !got.get(grp).exists(r =>
          r(1) == cnt.toString && Check.within(r(2), b)) => grp
      }
      if (bad.isEmpty && got.size == g.size) None
      else Some(s"sparksql [$lo,$hi]: groups $bad differ (${got.size} vs ${g.size} groups)")
    })
  }
}

/** The open-loop batch writer: `rowsPerBatch` rows every `periodNs`,
  * half of them overwriting existing keys it owns, the rest fresh
  * keys. Each batch is one `Engine.batchPut` timed from its due time.
  */
final class Writer(ctx: Ctx, val id: Int, g: Gen, rowsPerBatch: Int, val rec: Recorder) {
  private val m = ctx.model

  private def batch(): Seq[(Long, Long)] = {
    val seen = mutable.HashSet.empty[Long]
    (0 until rowsPerBatch).map { _ =>
      val k =
        if (g.unit() < 0.5) {
          var k = Gen.ownKey(g.long(ctx.n), id, ctx.owners, ctx.n)
          while (!seen.add(k)) k = Gen.ownKey(g.long(ctx.n), id, ctx.owners, ctx.n)
          k
        } else ctx.fresh.getAndIncrement()
      k -> g.long(100000)
    }
  }

  private var puts = 0

  /** One batch, due at `due`; returns whether it was traced. A traced
    * batch's root span starts at its due time, so the wait behind
    * earlier batches shows as its `queue` child.
    */
  def put(record: Boolean, due: Long = System.nanoTime()): Boolean = {
    val req = ctx.reqIds.incrementAndGet()
    val traced = ctx.trace && record && { puts += 1; puts % 2 == 0 }
    val rt = if (traced) new ReqTrace(req) else null
    ctx.sc.setLocalProperty(SparkProbe.ClassProp, Cls.Ingest)
    ctx.sc.setLocalProperty(SparkProbe.ReqProp, req.toString)
    val rows = batch()
    val arrays = rows.map { case (k, c) =>
      Array[Any](k, Gen.group(k), c / 100.0, Gen.note(k))
    }
    val p = m.begin(rows, System.nanoTime())
    def call(): Int = ctx.engine.batchPut(ctx.table, arrays).size
    val t0 = System.nanoTime()
    val res =
      try Right {
        if (rt == null) call()
        else {
          rt.add("client", due, 0L, -1)
          rt.add("queue", due, t0, 0)
          val (v, idx) = rt.span("wal", 0)(call())
          rt.engineSpan = idx
          v
        }
      } catch { case NonFatal(e) => Left(String.valueOf(e)) }
    val t1 = System.nanoTime()
    if (rt != null) rt.spans(0) = rt.spans(0).copy(end = t1)
    val ok = res.contains(arrays.size)
    m.ack(p, ok, t1)
    rec.attempted += 1
    if (!ok) rec.fail(s"ingest: $res")
    rec.writeRows += rows.size
    if (record) {
      rec.intervals += ((t0, t1, Cls.Ingest))
      if (traced) rec.traces += ((Cls.Ingest, rt))
    }
    traced
  }

  /** Open loop from `start` until `end` (nanoTime). */
  def runOpenLoop(start: Long, end: Long, periodNs: Long): Unit = {
    var traced = false
    OpenLoop.run(SystemClock, start, periodNs, end)(i =>
      traced = put(record = true, due = start + i * periodNs)) {
      (latNs, lateNs) =>
        rec.samples(Cls.Ingest, traced).add(latNs / 1e6)
        rec.late.add(lateNs / 1e6)
    }
  }
}
