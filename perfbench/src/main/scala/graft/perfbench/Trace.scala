package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function. Spans of one request
  * (a query, a build, a commit, a gate) share `req`; `parent` is the
  * enclosing span (0 = the request root). Times are System.nanoTime. */
final class Span(val id: Int, val parent: Int, val req: Int,
                 val name: String, val start: Long) {
  @volatile var end: Long = 0L
  def secs: Double = (end - start) / 1e9
}

/** Per-job figures collected by [[JobListener]], keyed to the span that
  * was open on the submitting thread. */
final class JobRec(val jobId: Int, val span: Int, val group: String,
                   val submitMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var longestTaskMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  def wallS: Double = if (endMs < 0) 0.0 else (endMs - submitMs) / 1e3
}

/** In-memory span recorder. Disabled (the untraced run) it is a plain
  * call-through. Enabled, each span also tags the Spark jobs its thread
  * submits (local property [[Tracer.SpanProp]]) so the listener can
  * attribute job, task, shuffle and GC figures to it. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val reqs = new AtomicInteger(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  /** A new request root: a fresh request id, no parent. */
  def request[A](name: String)(f: => A): A =
    if (!enabled) f else open(name, newRequest = true)(f)

  /** A child span under the thread's open span. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f else open(name, newRequest = false)(f)

  private def open[A](name: String, newRequest: Boolean)(f: => A): A = {
    val outer = stack.get()
    val req = if (newRequest || outer.isEmpty) reqs.incrementAndGet() else outer.head.req
    val parent = if (newRequest) 0 else outer.headOption.map(_.id).getOrElse(0)
    val s = new Span(ids.incrementAndGet(), parent, req, name, System.nanoTime())
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    stack.set(s :: outer)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
      closed.add(s)
    }
  }

  def spans: Vector[Span] = closed.asScala.toVector.sortBy(_.start)
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** The benchmark's own SparkListener: one [[JobRec]] per job, tagged with
  * the submitting span and job group; task metrics roll up into the job
  * that owns the task's stage. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, span, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.longestTaskMs = math.max(j.longestTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.bytesRead += m.inputMetrics.bytesRead
        j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def all: Vector[JobRec] = synchronized(jobs.values.toVector)
}
