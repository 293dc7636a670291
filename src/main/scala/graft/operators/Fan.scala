package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Scale-adaptive fan-out: spread a frame over the session's shuffle
  * partitions ahead of CPU-heavy per-row work (chunking, embedding,
  * shingling, tokenizing, pair explosion) — but only when its source
  * scan is narrower than that. The testdata parquet is one row group
  * per table, so its scan is a single task and the repartition is the
  * fan-out that puts every core to work; a corpus with thousands of
  * splits is already wide, and there an unconditional repartition
  * would be a pure full-corpus shuffle (the accidental-exchange class).
  *
  * The probe reads planned partition counts from the physical plan and
  * never runs a job (under AQE, `.rdd` on a frame with exchanges
  * materializes every upstream query stage). */
object Fan {

  /** Repartition `df` to `spark.sql.shuffle.partitions` when the scans
    * feeding it are narrower than that; `df` unchanged otherwise. */
  def apply(df: DataFrame): DataFrame = ifNarrow(df, df)

  /** As [[apply]], gated on `source`'s scans: for a `df` derived from
    * `source` by an aggregate, whose own partitioning cannot be probed
    * without materializing its query stages. */
  def ifNarrow(source: DataFrame, df: DataFrame): DataFrame = {
    val parts = source.sparkSession.sessionState.conf.numShufflePartitions
    if (scanParallelism(source) >= parts) df else df.repartition(parts)
  }

  /** Summed partition counts of the frame's leaves: file and
    * DataSource V2 scans by their planned splits, cached frames by
    * their cached partitions (read from the cached plan while the cache
    * is unloaded: its buffers would run the plan), any other leaf (a
    * local relation, a range) 1. */
  def scanParallelism(df: DataFrame): Int =
    sumParallelism(df.queryExecution.sparkPlan)

  private def sumParallelism(plan: SparkPlan): Int =
    plan.collectLeaves().map(leafParallelism).sum

  private def leafParallelism(leaf: SparkPlan): Int = leaf match {
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case b: BatchScanExec => b.inputRDD.getNumPartitions
    case m: InMemoryTableScanExec =>
      val cache = m.relation.cacheBuilder
      if (cache.isCachedColumnBuffersLoaded)
        cache.cachedColumnBuffers.getNumPartitions
      else outputParallelism(cache.cachedPlan)
    case _ => 1
  }

  private def outputParallelism(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => outputParallelism(a.initialPlan)
    case p => p.outputPartitioning match {
      case UnknownPartitioning(_) => sumParallelism(p)
      case known => known.numPartitions
    }
  }
}
