package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the engine's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval of the traced chain workload → pass → call|trigger → sql →
  * job → stage. `parent` is 0 for the workload root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

final case class JobRec(id: Int, startMs: Double, var endMs: Double,
    stages: Seq[Int], callSpan: Long, sqlExec: Long)
final case class StageRec(id: Int, var tasks: Int = 0, var runMs: Double = 0,
    var cpuMs: Double = 0, var gcMs: Double = 0, var shuffleWrite: Double = 0,
    var shuffleRead: Double = 0, var spill: Double = 0, var input: Double = 0,
    var output: Double = 0, var outputRunMs: Double = 0,
    var submitMs: Double = 0, var endMs: Double = 0)
final case class TaskRec(startMs: Double, endMs: Double)
final case class SqlRec(id: Long, startMs: Double, var endMs: Double, desc: String)

/** The benchmark's own engine listeners. Everything is kept in memory and
  * read after the listener bus drains; nothing is written while a run is
  * timed. Attached only in traced runs. */
final class EngineTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val sqls = new java.util.concurrent.ConcurrentHashMap[Long, SqlRec]()
  /** (event time, catalyst analysis + optimization + planning ms) */
  val catalyst = new ConcurrentLinkedQueue[(Double, Double)]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toLongOption)
      .getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
      e.stageIds, prop(e.properties, Trace.SpanProp),
      prop(e.properties, "spark.sql.execution.id")))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id => StageRec(id))
    s.synchronized {
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L).toDouble
      s.endMs = e.stageInfo.completionTime.getOrElse(0L).toDouble
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.add(TaskRec(e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble))
    val m = e.taskMetrics
    val s = stages.computeIfAbsent(e.stageId, id => StageRec(id))
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        val out = m.outputMetrics.bytesWritten
        s.output += out
        if (out > 0) s.outputRunMs += m.executorRunTime
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqls.put(s.executionId,
        SqlRec(s.executionId, s.time.toDouble, s.time.toDouble, s.description))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqls.get(s.executionId)).foreach(_.endMs = s.time.toDouble)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPhases(qe)
  private def recordPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum
    catalyst.add((Clock.ms, ms))
  }
}

object Trace {
  /** Local property carrying the id of the client span a job belongs to. */
  val SpanProp = "graft.perfbench.span"
}

/** Spans of one run; all share `runId`. */
final class Spans(val runId: String) {
  private val next = new AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def newId(): Long = next.getAndIncrement()
  def add(s: Span): Span = synchronized { buf += s; s }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Union length of intervals clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    c.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }
}
