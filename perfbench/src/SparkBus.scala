package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: the traced run
  * waits for every queued event to be delivered before it reads its
  * counters, so a report's jobs are never charged to the next one. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
