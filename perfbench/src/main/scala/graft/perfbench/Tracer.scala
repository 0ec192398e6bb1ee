package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded only around the benchmark's own calls into the engine
  * (one span per public call, one per load-phase artifact). Spark job, stage
  * and task counters come from a listener the benchmark registers; each job
  * is attributed to the op whose id was set as the `perfbench.op` local
  * property on the driver thread when the job was submitted. Nothing is
  * written until [[Tracer.spansJson]] is read at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val events = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()

  sc.addSparkListener(this)

  def setOp(id: String): Unit = sc.setLocalProperty(OpProperty, id)

  def span(opId: String, name: String, parent: String, startNs: Long,
           endNs: Long): Unit = spans.add(Span(opId, name, parent, startNs, endNs))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(op, e.time))
    e.stageIds.foreach(stageOp.put(_, op))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val op = stageOp.getOrDefault(i.stageId, "")
    if (m != null) stages.add(StageRec(op, i.numTasks,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3))
    events.incrementAndGet()
  }

  /** Waits until every started job has ended and the listener bus has gone
    * quiet, so the counters below are complete. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      val open = jobs.values.asScala.exists(_.end < 0)
      if (n == last && !open) quiet += 1 else quiet = 0
      last = n
    }
  }

  /** Spark counters of one op (or of every op when `op` is null). Jobs
    * started before `beforeMs` are counted separately as `build_jobs`: the
    * jobs a frontend ran while it lowered text into a plan. */
  def counters(op: String, beforeMs: Long = Long.MinValue): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => op == null || j.op == op).toSeq
    val ss = stages.asScala.filter(s => op == null || s.op == op).toSeq
    Map(
      "jobs" -> js.size.toDouble,
      "build_jobs" -> js.count(_.start < beforeMs).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks.toDouble).sum,
      "shuffle_write_bytes" -> ss.map(_.shuffleWrite.toDouble).sum,
      "shuffle_read_bytes" -> ss.map(_.shuffleRead.toDouble).sum,
      "spill_bytes" -> ss.map(_.spill.toDouble).sum,
      "executor_run_s" -> ss.map(_.runS).sum,
      "executor_cpu_s" -> ss.map(_.cpuS).sum,
      "gc_s" -> ss.map(_.gcS).sum,
      "job_busy_s" -> unionSeconds(js.map(j => (j.start, math.max(j.end, j.start)))))
  }

  def spansJson: Seq[java.util.Map[String, Any]] = spans.asScala.toSeq.map { s =>
    Json.obj("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "dur_s" -> (s.endNs - s.startNs) / 1e9)
  }

  def jobsJson: Seq[java.util.Map[String, Any]] =
    jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      Json.obj("job" -> id, "op" -> j.op, "start_ms" -> j.start, "end_ms" -> j.end)
    }
}

object Tracer {
  val OpProperty = "perfbench.op"

  final class JobRec(val op: String, val start: Long) { @volatile var end: Long = -1L }
  final case class StageRec(op: String, tasks: Int, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, runS: Double,
                            cpuS: Double, gcS: Double)
  final case class Span(op: String, name: String, parent: String,
                        startNs: Long, endNs: Long)

  /** Length in seconds of the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
