package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every posted listener event is delivered,
  * so listener counters are complete before they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
