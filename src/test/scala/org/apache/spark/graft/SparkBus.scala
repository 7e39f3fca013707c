package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: a test that
  * counts listener events waits for every queued event to be delivered
  * before it reads its counters. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
