package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. A span is (id, name, op, parent,
  * start, end), times in epoch milliseconds. All spans of one op share the
  * op id. The innermost open span's id is set as a Spark local property, so
  * every job the listener sees names the span that submitted it.
  *
  * Disabled, `span` only runs its body: untraced ops pay nothing. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    start: Double, end: Double)

final class Recorder(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  var op: Int = -1
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Recorder.SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Recorder.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, op, parent, start, end)
      }
    }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Per-job counters: stages, tasks, input/shuffle/spill/output bytes and
  * task GC, keyed by the span that submitted the job. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val start: Long, val stages: Int) {
    @volatile var end: Long = -1L
    val tasks = new AtomicLong()
    val inputBytes = new AtomicLong()
    val shuffleWrite = new AtomicLong()
    val shuffleRead = new AtomicLong()
    val spill = new AtomicLong()
    val outputBytes = new AtomicLong()
    val gcMs = new AtomicLong()
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val job = new Job(e.jobId, span, e.time, e.stageIds.size)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(stageJob.put(_, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (job != null && m != null) {
      job.tasks.incrementAndGet()
      job.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      job.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      job.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      job.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      job.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      job.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  /** Jobs recorded so far, removed from the listener. */
  def take(): Seq[Job] = {
    val out = jobs.values.asScala.toSeq.sortBy(_.id)
    out.foreach(j => jobs.remove(j.id))
    out
  }
}

/** Scan-node counters of a finished query: files, bytes and rows one
  * Parquet scan read. */
final case class Scan(func: String, files: Long, bytes: Long, rows: Long)

/** Collects the Parquet scans of every finished query. Metrics are read in
  * `take`, after the op: a `toLocalIterator` query reports success before
  * its rows are consumed. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val done = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add((funcName, qe))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Seq[Scan] =
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq.flatMap { case (func, qe) =>
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.map { s =>
        def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        Scan(func, metric("numFiles"), metric("filesSize"), metric("numOutputRows"))
      }
    }
}
