package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` because the listener bus is
  * private[spark]. The traced run drains the bus after each query, so every
  * listener event of that query is counted before the next one starts. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
