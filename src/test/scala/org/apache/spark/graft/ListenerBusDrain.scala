package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached its listeners,
  * so a check that follows sees what those listeners did (the bus is
  * `private[spark]`, hence this test-only bridge). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
