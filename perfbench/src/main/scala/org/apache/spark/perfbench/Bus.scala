package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so counters read after an
  * action include every event the action produced.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
