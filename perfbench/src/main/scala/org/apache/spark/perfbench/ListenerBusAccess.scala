package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run attributes listener events to the operation that
  * caused them by draining the (asynchronous) listener bus at every
  * phase boundary; the bus is `private[spark]`, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
