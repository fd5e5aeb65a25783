package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps the listener bus private to its own packages; the traced
  * run must wait until every event of a pass has been delivered before it
  * reads the listener's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
