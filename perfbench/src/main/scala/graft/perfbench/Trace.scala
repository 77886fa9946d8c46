package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.perfbench.Stats.Span

/** JVM-wide counters read at span boundaries and at the end of a run. */
object Jvm {
  private val comp = ManagementFactory.getCompilationMXBean
  def jitMs: Long =
    if (comp != null && comp.isCompilationTimeMonitoringSupported)
      comp.getTotalCompilationTime else 0L
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** In-memory spans around the harness's layer calls. All times are
  * epoch nanoseconds (wall clock fixed at construction plus nanoTime), so
  * listener job and stage times (epoch ms) fall on the same axis. While
  * `on` is false, `span` only runs its body. */
final class Tracer(val run: String) {
  private val base = System.currentTimeMillis() * 1000000L
  private val nbase = System.nanoTime()
  def now: Long = base + (System.nanoTime() - nbase)

  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** JIT and GC milliseconds spent inside each span (by span id). */
  val counters = mutable.Map.empty[Int, (Long, Long)]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.headOption.getOrElse(-1)
      val (jit0, gc0) = (Jvm.jitMs, Jvm.gcMs)
      val t0 = now
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, name, t0, now, parent, run)
        counters(id) = (Jvm.jitMs - jit0, Jvm.gcMs - gc0)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** What the listener bus reports: job and stage spans with the stages'
  * aggregated task metrics, per-task run times while `detail` is on, block
  * drops, and the query executions that finished. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  @volatile var detail = false
  val drops = new AtomicLong
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new ConcurrentLinkedQueue[Stage]
  /** (stage id, attempt) -> task run times (ms), recorded while detailed. */
  val taskMs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]
  val executions = new ConcurrentLinkedQueue[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    jobs.add(Job(e.jobId, s, e.time)); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorCpuTime, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (detail && e.taskInfo != null) {
      taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new ConcurrentLinkedQueue[Long]).add(e.taskInfo.duration)
      ()
    }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (!e.blockUpdatedInfo.storageLevel.isValid) { drops.incrementAndGet(); () }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detail) { executions.add(qe); () } // plans are large: keep traced ones only
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[Job] = jobs.asScala.toSeq
  def stageList: Seq[Stage] = stages.asScala.toSeq
}

object Recorder {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Stage(id: Int, attempt: Int, submitMs: Long, endMs: Long,
      tasks: Int, cpuNs: Long, inputRecords: Long, shuffleWriteBytes: Long,
      shuffleWriteRecords: Long, shuffleReadRecords: Long, fetchWaitMs: Long,
      spillBytes: Long, gcMs: Long)
}
