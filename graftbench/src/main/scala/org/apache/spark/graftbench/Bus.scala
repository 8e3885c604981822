package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Draining the bus
  * (`waitUntilEmpty` is private[spark]) makes totals read after an
  * action include every event that action posted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
