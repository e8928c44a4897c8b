package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Work per bench leg, attributed by Spark job group: the jobs each group
  * started and the executor CPU its tasks spent. A job count is exact, so
  * an extra driver round-trip in a leg shows up as a number rather than as
  * wall-clock noise. Only adaptive execution can move it: a stage AQE
  * cancels (say, once a sibling came back empty) counts only if its job
  * was already submitted. */
private[graft] final class LegWork extends SparkListener {
  private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val cpuNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(LegWork.GroupKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach(g => jobs(g) += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    group(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics))
      cpuNs(g) += m.executorCpuTime
  }

  def jobsOf(group: String): Int = synchronized { jobs(group) }
  def cpuSecOf(group: String): Double = synchronized { cpuNs(group) / 1e9 }
}

private[graft] object LegWork {
  /** The local property `SparkContext.setJobGroup` writes (its constant is
    * package-private). */
  val GroupKey = "spark.jobGroup.id"
}
