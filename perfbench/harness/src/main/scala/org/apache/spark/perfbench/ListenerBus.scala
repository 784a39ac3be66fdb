package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; its drain call is
  * package-private to Spark, so this one-method bridge exposes it. The
  * tracer calls it before reading its counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
