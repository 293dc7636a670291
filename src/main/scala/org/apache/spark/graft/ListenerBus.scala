package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the listener bus, whose drain
  * call is not public: a profile must see every event of a run before
  * it reports. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
