package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus: listener callbacks are
  * delivered asynchronously, so a spec that counts events must drain
  * the bus before reading its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
