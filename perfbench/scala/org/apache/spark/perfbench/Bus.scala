package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the traced run drains the
  * bus at every pass boundary so each event is counted in the pass that
  * caused it. `listenerBus` is package-private to Spark, hence the package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
