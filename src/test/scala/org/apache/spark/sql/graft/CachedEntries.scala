package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** How many plans the session's cache manager holds, filled or not.
  * Lives in Spark's SQL package because the count is not public. */
object CachedEntries {
  def count(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
