package org.apache.spark

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** Listener events with chosen values, for testing listener arithmetic.
  * Task metric setters are package-private, hence this package. */
object SyntheticEvents {

  def stage(id: Int, numTasks: Int, submitMs: Long, completeMs: Long): StageInfo = {
    val s = new StageInfo(id, 0, s"stage $id", numTasks, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)
    s.submissionTime = Some(submitMs)
    s.completionTime = Some(completeMs)
    s
  }

  def taskEnd(stageId: Int, runMs: Long, cpuNs: Long, inputBytes: Long = 0,
              shuffleRead: Long = 0, shuffleWrite: Long = 0,
              spill: Long = 0): SparkListenerTaskEnd = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.inputMetrics.incBytesRead(inputBytes)
    m.shuffleReadMetrics.incRemoteBytesRead(shuffleRead)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    m.incMemoryBytesSpilled(spill)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, null, null, m)
  }

  def jobStart(id: Int, timeMs: Long): SparkListenerJobStart =
    SparkListenerJobStart(id, timeMs, Seq.empty, new java.util.Properties)
}
