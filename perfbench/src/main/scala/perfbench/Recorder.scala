package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Listener-side counters, registered from outside the engine.
  *
  * Traced, it keeps every job, stage, task and query-planning record; the
  * runner drains the bus after each operation and takes what arrived as
  * that operation's [[Recorder.Batch]]. Untraced, it records nothing. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  /** Set by the runner between passes, after the bus is drained. */
  @volatile var traced = false
  private var jobs = ArrayBuffer.empty[Job]
  private var tasks = ArrayBuffer.empty[Task]
  private var stages = 0
  private var planMs = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (traced && m != null) synchronized {
      val sr = m.shuffleReadMetrics
      tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, sr.fetchWaitTime)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (traced) synchronized { jobs += Job(e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) synchronized { stages += 1 }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (traced) synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Everything recorded since the previous call. Call after draining the
    * listener bus. */
  def take(): Batch = synchronized {
    val b = Batch(jobs.toSeq, tasks.toSeq, stages, planMs)
    jobs = ArrayBuffer.empty; tasks = ArrayBuffer.empty
    stages = 0; planMs = 0L
    b
  }
}

object Recorder {
  final case class Job(submitMs: Long)
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        inBytes: Long, inRows: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, fetchWaitMs: Long)
  final case class Batch(jobs: Seq[Job], tasks: Seq[Task], stages: Int, planMs: Long)

  /** Milliseconds of [from, to] during which no task was running. */
  def idleMs(tasks: Seq[Task], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    tasks.map(t => (math.max(t.launchMs, from), math.min(t.finishMs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, (to - from) - covered)
  }
}
