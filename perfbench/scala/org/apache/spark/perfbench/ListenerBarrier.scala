package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus barrier: returns once every event posted so far (job,
  * stage, task and streaming-progress events included) has reached every
  * listener. The bus is `private[spark]`, hence this package. */
object ListenerBarrier {
  def await(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
