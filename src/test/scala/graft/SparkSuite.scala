package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own GraftSession
  * (getOrCreate reuses one session across the forked test JVM).
  * Parallelism and shuffle partitions are overridable via
  * SPARK_GRAFT_TEST_CPUS / SPARK_GRAFT_TEST_PARTS so the whole suite can
  * be re-run under an adversarial partitioning (odd prime counts) to
  * shake out partitioning-sensitive nondeterminism — every correctness
  * claim here is supposed to be partition-count-invariant. */
trait SparkSuite extends AnyFunSuite {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "4")
  private val parts = sys.env.getOrElse("SPARK_GRAFT_TEST_PARTS", "4")
  lazy val spark: SparkSession =
    GraftSession.builder(s"local[$cpus]", parts.toInt).getOrCreate()

  def initSpark(): SparkSession = { // eager init helper
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
