package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously and keeps the wait for
  * delivery package-private; the bench reads its per-leg work counters only
  * after every posted event has reached them. Throws
  * `java.util.concurrent.TimeoutException` when the bus is still behind
  * after `timeoutMs`. */
object ListenerShim {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
