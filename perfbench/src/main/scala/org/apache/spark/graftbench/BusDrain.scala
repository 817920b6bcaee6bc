package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * `listenerBus` is `private[spark]`, hence this package. Counters read
  * after the drain see every job, stage and task event of the work that
  * came before it, with no sleep and no race.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
