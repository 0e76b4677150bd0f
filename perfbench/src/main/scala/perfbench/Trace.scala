package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter totals at one instant; differences of two snapshots attribute
  * Spark work to whatever the benchmark ran between them.
  */
final case class Snap(
    jobs: Long, tasks: Long, taskCpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long,
    queries: Long, planMs: Long, execNs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, taskCpuNs - o.taskCpuNs,
    gcMs - o.gcMs, inputBytes - o.inputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, outputBytes - o.outputBytes, queries - o.queries,
    planMs - o.planMs, execNs - o.execNs)
}

/** One timed interval: `parent` is the span that caused it (0 for a root),
  * spans of one request or one query share `trace`.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    startNs: Long, endNs: Long)

/** The traced run's instruments, all owned by the benchmark: a
  * `SparkListener` (jobs, tasks, task metrics), a `QueryExecutionListener`
  * (Catalyst phase times from `QueryPlanningTracker`, execution time) and
  * an in-memory span buffer written out when the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(11)(new AtomicLong)
  private val ids = new AtomicInteger
  private val spans = ArrayBuffer.empty[Span]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  def snap(): Snap = {
    val v = c.map(_.get)
    Snap(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10))
  }

  def span[T](trace: String, name: String, parent: Int = 0)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally record(Span(id, parent, trace, name, t0, System.nanoTime()))
  }

  def record(s: Span): Unit = spans.synchronized(spans += s)

  def nextId(): Int = ids.incrementAndGet()

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    jobStarts.put(e.jobId, System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStarts.remove(e.jobId)
    if (t0 != null) record(Span(nextId(), 0, "spark", s"job ${e.jobId}", t0, System.nanoTime()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(1).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(2).addAndGet(m.executorCpuTime)
      c(3).addAndGet(m.jvmGCTime)
      c(4).addAndGet(m.inputMetrics.bytesRead)
      c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(6).addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      c(7).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    c(8).incrementAndGet()
    val phases = qe.tracker.phases
    c(9).addAndGet(Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum)
    c(10).addAndGet(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def detach(s: SparkSession): Unit = {
    drain(s)
    s.listenerManager.unregister(this)
    s.sparkContext.removeSparkListener(this)
  }

  def drain(s: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(s.sparkContext)
}
