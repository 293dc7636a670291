package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the listener bus, whose drain
  * call is not public: the tracer must see every event of a span
  * before it stops listening or reports. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
