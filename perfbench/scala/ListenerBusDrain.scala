package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark reads
  * its per-operation job and stage totals only after the bus has caught
  * up. `listenerBus` is private to the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
