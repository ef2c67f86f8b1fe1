package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is Spark-internal; this shim reaches it so the
  * tracer can read task counters at exact span boundaries. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
