package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener has seen every event posted so far.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
