package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus's drain,
  * so counters read after an action include every event it posted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
