package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is internal to Spark; the traced run must wait for it
  * to deliver every event before it reads its counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
