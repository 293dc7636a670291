package org.apache.spark.graft

import org.apache.spark.SparkEnv

/** The Tungsten page this JVM's memory manager hands out, whatever set
  * it: lives in Spark's package because the memory manager is not
  * public. */
object TungstenPage {
  def bytes: Long = SparkEnv.get.memoryManager.pageSizeBytes
}
