package graft.perfbench

import scala.collection.mutable

/** Turns what the threads recorded into the named metrics. */
final class Report(spec: Spec, args: Args, nproc: Int, sparkCores: Int, recs: Seq[Recorder],
                   probe: SparkProbe, anchorMs: Long, anchorNs: Long) {
  import Cls._

  private def merged(cls: String, traced: Boolean): Array[Double] =
    recs.flatMap(r => (if (traced) r.latTraced else r.lat).get(cls).map(_.toArray))
      .foldLeft(Array.empty[Double])(_ ++ _)

  /** Untraced latencies: the end-to-end figures. Every statement of a
    * --trace 0 run is untraced; a --trace 1 run traces every other one.
    */
  private val lat: Map[String, Array[Double]] = All.map(c => c -> merged(c, traced = false)).toMap
  private val latT: Map[String, Array[Double]] = All.map(c => c -> merged(c, traced = true)).toMap

  val pcts = mutable.LinkedHashMap.empty[String, Stats.Pct]
  private def p(cls: String, nominal: Double, name: String): Double = {
    val s = lat(cls)
    val r = if (s.isEmpty) Stats.Pct(0.0, nominal, 0) else Stats.pct(s, nominal)
    pcts(name) = r
    r.value
  }

  /** `ops_per_s` is the median over the window's whole seconds of the
    * closed-loop statements completed in that second: a burst of host
    * noise in one second does not move it, and a statement still running
    * at the end does not stretch the window.
    */
  def endToEnd(setupS: Double, start: Long, end: Long, recoveryS: Double,
               closedLoop: Seq[Recorder]): Map[String, Double] = {
    val secs = ((end - start) / 1000000000L).toInt
    val perSec = new Array[Double](math.max(1, secs))
    closedLoop.flatMap(_.intervals).foreach { case (_, t1, _) =>
      val s = ((t1 - start) / 1000000000L).toInt
      if (t1 >= start && s < perSec.length) perSec(s) += 1
    }
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> Stats.median(perSec.toSeq),
      "point_p50_ms" -> p(Point, 0.5, "point_p50_ms"),
      "write_p50_ms" -> p(Write, 0.5, "write_p50_ms"),
      "recovery_s" -> recoveryS)
  }

  private def toNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val layerOf: Map[String, String] = Map(
    "client" -> "other", "spark_plan" -> "spark", "spark_exec" -> "spark").withDefault(identity)

  /** Traced requests with Spark job spans attached, as (class, spans, self per layer). */
  private lazy val traced: Seq[(String, IndexedSeq[Span], Map[String, Long])] =
    recs.flatMap(_.traces).map { case (cls, rt) =>
      val jobs = Option(probe.reqJobs.get(rt.req)).map(l => l.synchronized(l.toArray.toSeq))
        .getOrElse(Nil).map(_.asInstanceOf[(Long, Long)])
      if (rt.engineSpan >= 0)
        jobs.foreach { case (s, e) =>
          rt.add(if (cls == Write || cls == Ingest) "tier" else "spark", toNs(s), toNs(e), rt.engineSpan)
        }
      val spans = rt.spans.toIndexedSeq
      val self = Trace.selfByName(spans).toSeq.map { case (k, v) => layerOf(k) -> v }
        .groupMapReduce(_._1)(_._2)(_ + _)
      (cls, spans, self)
    }

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def spanMs(cls: Option[String], name: String, self: Boolean): Seq[Double] =
    traced.filter(t => cls.forall(_ == t._1)).flatMap { case (_, spans, _) =>
      val st = if (self) Trace.selfTimes(spans) else spans.map(s => s.end - s.start)
      spans.indices.filter(i => spans(i).name == name).map(i => st(i) / 1e6)
    }

  /** Per-layer self time of the traced statements around the class's
    * traced median (ranks 40-60%): their layers sum to about that
    * median, so the sum can be compared with the untraced p50.
    */
  private def central(cls: String): Seq[Map[String, Long]] = {
    val ts = traced.filter(_._1 == cls).sortBy(t => t._2.head.end - t._2.head.start)
    if (ts.isEmpty) Nil
    else {
      val lo = (ts.size * 0.4).toInt
      val hi = math.max(lo + 1, math.ceil(ts.size * 0.6).toInt)
      ts.slice(lo, hi).map(_._3)
    }
  }

  def perLayer(fsync: Double, filesOpened: Long, footers: Long, compactions: Long, mon: Monitor,
               coldBytes: Long, liveRows: Long, elapsedS: Double,
               attempted: Long, failed: Long): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val count = All.map(c => c -> (lat(c).length + latT(c).length)).toMap
    Main.ClassLatencies.foreach { case (name, c, q) =>
      val all = lat(c) ++ latT(c)
      out(name) = if (all.isEmpty) 0.0 else Stats.pct(all, q).value
    }
    out("sqlfront.parse_us") = med(spanMs(None, "sqlfront", self = false)) * 1000
    out("cold_reader.files_opened_per_point") = filesOpened.toDouble / math.max(1, count(Point))
    out("cold_reader.footers_parsed") = footers.toDouble
    out("cold_reader.point_ms") = med(spanMs(Some(Point), "cold_reader", self = true))
    out("hotstore.rows_peak") = mon.hotRowsPeak.toDouble
    out("hotstore.bytes_peak") = mon.hotBytesPeak.toDouble
    out("wal.fsync_p50_ms") = fsync
    out("engine.write_ms") = med(spanMs(Some(Write), "wal", self = false))
    out("stats_fold.zero_job_share") = zeroJobShare()
    out("snapshot.build_ms") = med(spanMs(Some(SparkSql), "snapshot", self = true))
    Seq(Point, Write, Ingest, Fold, Scan, SparkSql).foreach { c =>
      val a = Option(probe.byClass.get(c))
      def per(f: probe.Acc => Long) = a.map(x => f(x).toDouble).getOrElse(0.0) / math.max(1, count(c))
      out(s"spark.jobs_per_stmt.$c") = per(_.jobs.get)
      out(s"spark.stages_per_stmt.$c") = per(_.stages.get)
      out(s"spark.tasks_per_stmt.$c") = per(_.tasks.get)
      out(s"spark.shuffle_bytes_per_stmt.$c") = per(_.shuffleBytes.get)
      out(s"spark.input_bytes_per_stmt.$c") = per(_.inputBytes.get)
    }
    val accs = scala.jdk.CollectionConverters.CollectionHasAsScala(probe.byClass.values).asScala
      .filterNot(_ eq probe.byClass.get("verify"))
    out("spark.spill_bytes") = accs.map(_.spillBytes.get).sum.toDouble
    out("spark.plan_ms.sparksql") = med(spanMs(Some(SparkSql), "spark_plan", self = false))
    out("spark.exec_ms.scan_agg") = med(traced.filter(_._1 == Scan).map(_._3.getOrElse("spark", 0L) / 1e6))
    out("spark.exec_ms.sparksql") = med(spanMs(Some(SparkSql), "spark_exec", self = false))
    out("spark.busy_share") = accs.map(_.taskMs.get).sum / (elapsedS * 1000 * sparkCores)
    out("tier.flushes") = mon.flushes.toDouble
    out("tier.compactions") = compactions.toDouble
    out("tier.cold_tiers_peak") = mon.tiersPeak.toDouble
    out("tier.bytes_per_live_row") = coldBytes.toDouble / math.max(1L, liveRows)
    val apiO = recs.flatMap(_.apiOverhead.toArray)
    out("api.overhead_ms") = med(apiO)
    out("api.response_bytes") = recs.map(_.apiBytes).sum.toDouble / math.max(1L, recs.map(_.apiCalls).sum)
    out("engine.exec_ms") = med(recs.flatMap(_.apiExec.toArray))
    val late = recs.flatMap(_.late.toArray).toArray
    out("loadgen.late_ms") = if (late.isEmpty) 0.0 else Stats.pct(late, 0.99).value
    val ratios = All.filter(c => lat(c).length >= 10 && latT(c).length >= 10).map { c =>
      Stats.pct(latT(c), 0.5).value / Stats.pct(lat(c), 0.5).value - 1
    }
    out("trace.overhead") = med(ratios)
    out("error_rate") = failed.toDouble / math.max(1L, attempted)
    out("check.print_divergences") = recs.map(_.printDivergences).sum.toDouble
    Main.SelfLayers.foreach { case (c, layers) =>
      val cs = central(c)
      layers.foreach { l =>
        out(s"self_ms.$c.$l") = if (cs.isEmpty) 0.0 else cs.map(_.getOrElse(l, 0L)).sum / 1e6 / cs.size
      }
      val sum = if (cs.isEmpty) 0.0 else cs.map(_.values.sum).sum / 1e6 / cs.size
      out(s"trace.self_sum_ratio.$c") =
        if (lat(c).isEmpty) 0.0 else sum / Stats.pct(lat(c), 0.5).value
    }
    out.toMap
  }

  /** Share of fold_agg statements that ran no Spark job. In-process
    * statements are tagged; a REST statement counts as zero-job when
    * no untagged job overlapped it (a lower bound).
    */
  private def zeroJobShare(): Double = {
    val tagged = recs.flatMap(_.foldReqs)
    if (!spec.rest) {
      if (tagged.isEmpty) 0.0
      else tagged.count(r => !probe.reqJobs.containsKey(r)).toDouble / tagged.size
    } else {
      val untagged = Option(probe.reqJobs.get(-1L)).map(l => l.synchronized(l.toArray.toSeq))
        .getOrElse(Nil).map(_.asInstanceOf[(Long, Long)]).map { case (s, e) => (toNs(s), toNs(e)) }
      val folds = recs.flatMap(_.intervals).filter(_._3 == Fold)
      if (folds.isEmpty) 0.0
      else folds.count { case (s, e, _) => !untagged.exists { case (js, je) => js < e && je > s } }
        .toDouble / folds.size
    }
  }

  /** One line of provenance and sample counts, printed before the result. */
  def detail(fsync: Double, sparkVersion: String, elapsedS: Double, failures: Seq[String]): String = {
    val rt = Runtime.getRuntime
    val head = Report.gitHead()
    val samples = pcts.map { case (k, v) =>
      s""""$k":{"n":${v.n},"q":${Report.num(v.q)}}""" }.mkString(",")
    val classes = All.map { c =>
      val all = lat(c) ++ latT(c)
      val p50 = if (all.isEmpty) 0.0 else Stats.pct(all, 0.5).value
      s""""$c":{"n":${all.length},"p50_ms":${Report.num(p50)}}"""
    }.mkString(",")
    val writeRows = recs.map(_.writeRows).sum
    val stmts = recs.map(r => r.lat.values.map(_.size).sum + r.latTraced.values.map(_.size).sum).sum
    val fails = failures.take(5).map(f => "\"" + f.replace("\\", "/").replace("\"", "'") + "\"")
    s"""{"detail":{"workload":"${spec.name}","seed":${args.seed},"seconds":${args.seconds},""" +
      s""""trace":${args.trace},"nproc":$nproc,"spark_cores":$sparkCores,"heap_max_mb":${rt.maxMemory >> 20},""" +
      s""""spark":"$sparkVersion","git_head":"$head","source_digest":"${sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")}",""" +
      s""""wal_fsync_p50_ms":${Report.num(fsync)},"rows":${spec.rows},"hot_limit":${spec.hotLimit},""" +
      s""""window_s":${Report.num(elapsedS)},"statements_per_s":${Report.num(stmts / elapsedS)},""" +
      s""""write_rows_per_s":${Report.num(writeRows / elapsedS)},"samples":{$samples},""" +
      s""""classes":{$classes},""" +
      s""""failures":[${fails.mkString(",")}]}}"""
  }
}

object Report {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** HEAD commit of the checkout when it is a git work tree, else "none". */
  def gitHead(): String = {
    val head = java.nio.file.Paths.get(".git", "HEAD")
    try {
      val h = new String(java.nio.file.Files.readAllBytes(head)).trim
      if (!h.startsWith("ref: ")) h
      else new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(".git", h.drop(5)))).trim
    } catch { case _: java.io.IOException => "none" }
  }
}
