package org.apache.spark

/** Test access to the SparkContext's checkpoint directory, which the public
  * API can set but never unset: a spec that changes it puts the shared
  * session's previous value back, so later specs cannot write into a
  * directory that has since been deleted, or find one they did not ask for. */
object CheckpointDirs {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
