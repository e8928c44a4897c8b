package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the work Spark does, keyed by wall-clock time so any interval
  * (a unit of work, a traced span) can be charged afterwards. Counters
  * only: it records job and stage boundaries and sums task metrics per
  * stage, and never touches the plans or the data. */
class WorkListener extends SparkListener {
  import WorkListener._

  private val jobs = mutable.ArrayBuffer.empty[Long]          // job start, ms
  private val stages = mutable.Map.empty[(Int, Int), StageRec] // (stage, attempt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val r = stage(i.stageId, i.attemptNumber())
    r.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    r.numTasks = i.numTasks
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = stage(i.stageId, i.attemptNumber())
    r.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
    r.numTasks = i.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stage(e.stageId, e.stageAttemptId)
    r.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec)

  /** The work whose job or stage began in [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Work = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ss = stages.values.filter(s => s.submitMs > 0 && in(s.submitMs)).toSeq
    val busy = Stats.unionLength(ss.map(s =>
      (math.max(s.submitMs, fromMs), math.min(if (s.completeMs > 0) s.completeMs else toMs, toMs))))
    Work(
      wallMs = toMs - fromMs,
      jobs = jobs.count(in),
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      singleTaskStages = ss.count(_.numTasks == 1),
      busyMs = busy,
      runMs = ss.map(_.runMs).sum,
      cpuNs = ss.map(_.cpuNs).sum,
      inputBytes = ss.map(_.inputBytes).sum,
      shuffleReadBytes = ss.map(_.shuffleReadBytes).sum,
      shuffleWriteBytes = ss.map(_.shuffleWriteBytes).sum,
      spillBytes = ss.map(_.spillBytes).sum)
  }
}

object WorkListener {

  final class StageRec {
    var submitMs = 0L
    var completeMs = 0L
    var numTasks = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  /** Work done in one interval. `busyMs` is the time at least one stage
    * was running; for the rest of the wall time the Spark driver worked
    * alone. */
  final case class Work(wallMs: Long, jobs: Long, stages: Long, tasks: Long,
                        singleTaskStages: Long, busyMs: Long, runMs: Long,
                        cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long,
                        shuffleWriteBytes: Long, spillBytes: Long) {
    def driverGapMs: Long = math.max(0L, wallMs - busyMs)
    def cpuS: Double = cpuNs / 1e9
  }
}

/** Sums query planning time (analysis, optimization, physical planning) of
  * every executed query, keyed by when each phase started. */
class PlanListener extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, duration ms)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += (p.startTimeMs -> p.durationMs))
  }

  def planMs(fromMs: Long, toMs: Long): Long = synchronized {
    phases.collect { case (s, d) if s >= fromMs && s <= toMs => d }.sum
  }
}
