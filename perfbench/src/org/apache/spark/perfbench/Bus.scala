package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is package-private; the benchmark must read its
  * listeners' totals only after every posted event was delivered. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
