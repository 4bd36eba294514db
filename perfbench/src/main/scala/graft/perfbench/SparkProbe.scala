package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** Spark work per statement class, counted by a listener the
  * benchmark registers. A client tags each statement by setting the
  * `ClassProp`/`ReqProp` local properties on its own thread; every job
  * the engine submits from that thread carries them, so concurrent
  * clients are attributed exactly. Jobs with no tag (e.g. submitted
  * from the REST server's threads) count under "untagged".
  */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  final class Acc {
    val jobs, stages, tasks, shuffleBytes, inputBytes, spillBytes, taskMs = new AtomicLong(0L)
  }
  val byClass = new ConcurrentHashMap[String, Acc]()
  private def acc(cls: String) = byClass.computeIfAbsent(cls, _ => new Acc)

  private val stageClass = new ConcurrentHashMap[Integer, String]()
  private val jobInfo = new ConcurrentHashMap[Integer, (String, Long, Long)]()
  /** (request id, -1 when untagged) -> job intervals in epoch ms. */
  val reqJobs = new ConcurrentHashMap[Long, java.util.List[(Long, Long)]]()
  val started, ended = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val cls = props.flatMap(p => Option(p.getProperty(ClassProp))).getOrElse("untagged")
    val req = props.flatMap(p => Option(p.getProperty(ReqProp))).map(_.toLong).getOrElse(-1L)
    jobInfo.put(e.jobId, (cls, req, e.time))
    e.stageIds.foreach(s => stageClass.put(s, cls))
    val a = acc(cls)
    a.jobs.incrementAndGet()
    a.stages.addAndGet(e.stageInfos.count(_.numTasks > 0).toLong)
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val info = jobInfo.remove(e.jobId)
    if (info != null)
      reqJobs.computeIfAbsent(info._2, _ =>
        java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long)]()))
        .add((info._3, e.time))
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageClass.get(e.stageId)).getOrElse("untagged"))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.taskMs.addAndGet(m.executorRunTime)
    }
  }

  /** Wait until every started job's end event has been delivered. */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (started.get() != ended.get() || last != ended.get())) {
      last = ended.get()
      Thread.sleep(100)
    }
  }

  def reset(): Unit = { byClass.clear(); reqJobs.clear() }
}

object SparkProbe {
  val ClassProp = "perfbench.class"
  val ReqProp = "perfbench.req"
}
