package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, whose drain is `private[spark]`: a
  * listener's counts are final only once every posted event is delivered. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
