package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners,
  * so an op's counters are complete before the next op starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
