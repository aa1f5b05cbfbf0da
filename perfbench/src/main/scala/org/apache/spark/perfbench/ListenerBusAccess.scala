package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The tracer waits for it
  * to drain before it reads its counters, so that no task of a finished span
  * is still queued. `listenerBus` is package-private to Spark, hence this
  * shim in Spark's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
