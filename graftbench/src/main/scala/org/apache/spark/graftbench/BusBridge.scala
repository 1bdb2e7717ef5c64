package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after each op so every job, stage, task, query-execution and
  * streaming-progress event of the op is attributed before the next op
  * starts. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
