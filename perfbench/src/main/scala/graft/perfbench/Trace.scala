package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval in epoch nanoseconds, the span that caused
  * it, the operation it belongs to, and counters recorded at the same
  * boundary.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    start: Long, end: Long, attrs: Map[String, Double])

/** In-memory span store. Spans are written out once, at the end. */
final class Tracer {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // epoch-aligned nanoseconds: listener events carry epoch millis
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
  def fromMillis(ms: Long): Long = ms * 1000000L

  def add(parent: Long, name: String, op: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, name, op, start, end, attrs))
    id
  }

  /** Time `body` as a span; returns its result and the span id. */
  def span[T](parent: Long, name: String, op: String)(body: => T): (T, Long) = {
    val t0 = now()
    val r = body
    (r, add(parent, name, op, t0, now()))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** The traced run's listener: job and stage intervals become spans under
  * the current operation's exec span; task metrics, Catalyst phase times
  * and file-scan counts accumulate as that span's counters. The caller
  * drains the listener bus after each operation and then [[take]]s what
  * was recorded for it.
  */
final class LayerListener(tracer: Tracer, warehouse: String)
    extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val pending = mutable.ArrayBuffer.empty[(String, Long, Long, Map[String, Double])]
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def bump(k: String, v: Double): Unit = counters(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStarts.remove(e.jobId).getOrElse(e.time)
    pending += (("job", t0, e.time, Map.empty))
    bump("jobs", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      pending += (("stage", s, c, Map("tasks" -> i.numTasks.toDouble)))
    bump("stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    bump("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bump("cpu_ms", m.executorCpuTime / 1e6)
      bump("run_ms", m.executorRunTime.toDouble)
      bump("gc_ms", m.jvmGCTime.toDouble)
      bump("input_bytes", m.inputMetrics.bytesRead.toDouble)
      bump("shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      bump("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      bump("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) => bump(s"plan_${phase}_ms", s.durationMs.toDouble) }
      Plans.foreach(qe.executedPlan) {
        case s: FileSourceScanExec =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          val inStore = s.relation.location.rootPaths.exists(_.toString.contains(warehouse))
          if (inStore) bump("store_read_bytes", metric("filesSize"))
          else {
            bump("scan_bytes", metric("filesSize"))
            bump("scan_files", metric("numFiles"))
            bump("scan_rows", metric("numOutputRows"))
          }
        case _ =>
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the last call, as child spans of `parent`
    * plus the counters attached to it.
    */
  def take(parent: Long, op: String): Map[String, Double] = synchronized {
    pending.foreach { case (n, s, e, a) =>
      tracer.add(parent, n, op, tracer.fromMillis(s), tracer.fromMillis(e), a) }
    pending.clear()
    val out = counters.toMap
    counters.clear()
    out
  }
}

object LayerListener {
  def install(spark: SparkSession, tracer: Tracer, warehouse: String): LayerListener = {
    val l = new LayerListener(tracer, warehouse)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
