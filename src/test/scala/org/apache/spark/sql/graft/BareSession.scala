package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** A session on an existing SparkContext with no session extensions:
  * the state of a notebook or shell that attaches to a running context
  * without the engine's builder. Lives in Spark's SQL package because
  * that constructor is not public. */
object BareSession {
  def on(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
