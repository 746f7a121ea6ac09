package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; span metrics are read only after
  * every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
