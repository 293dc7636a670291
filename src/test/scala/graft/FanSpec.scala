package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.operators.Fan

/** The scan-parallelism gate shared by the query fan-outs and the
  * dedup re-spreads: it reads partition counts from the plan, never
  * runs a job, and leaves an input alone when its scans together are
  * already as wide as the session's shuffle partitions — whether a
  * scan is a file scan, a DataSource V2 scan or a cached frame. */
class FanSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def docs(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def parts(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** `body`'s result and the number of jobs started while it ran. */
  private def jobsDuring[T](s: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBus.drain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    try {
      val r = body
      ListenerBus.drain(s.sparkContext)
      (r, jobs.get)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeExec => e }
      .size

  private def loaded(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectLeaves().exists {
      case m: InMemoryTableScanExec =>
        m.relation.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }

  test("an unloaded multi-partition cache is probed from its cached " +
      "plan: no Exchange added, no job run, cache left unloaded") {
    val s = initSpark()
    val spread = docs(s).repartition(parts(s)).persist()
    val grouped = docs(s).groupBy(col("doc_id") % 7).count().persist()
    try {
      for (cached <- Seq(spread, grouped)) {
        val ((width, out), jobs) =
          jobsDuring(s)((Fan.scanParallelism(cached), Fan(cached)))
        assert(jobs === 0)
        assert(width === parts(s))
        assert(out eq cached)
        assert(shuffles(out) === 0)
        assert(!loaded(cached))
      }
    } finally { spread.unpersist(); grouped.unpersist() }
  }

  test("a loaded cache is probed by its buffers' partitions, job-free") {
    val s = initSpark()
    val cached = docs(s).repartition(parts(s) + 1).persist()
    try {
      cached.count()
      assert(loaded(cached))
      val ((width, out), jobs) =
        jobsDuring(s)((Fan.scanParallelism(cached), Fan(cached)))
      assert(jobs === 0)
      assert(width === parts(s) + 1)
      assert(out eq cached)
    } finally cached.unpersist()
  }

  test("a DataSource V2 scan counts its planned splits like the V1 scan") {
    val s = initSpark()
    val out = java.nio.file.Files.createTempDirectory("graft_fan_v2")
      .resolve("docs").toString
    docs(s).repartition(parts(s)).write.parquet(out)
    val v2 = s.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    val df = v2.read.parquet(out)
    assert(df.queryExecution.sparkPlan.collectLeaves()
      .exists(_.isInstanceOf[BatchScanExec]))
    val (width, jobs) = jobsDuring(s)(Fan.scanParallelism(df))
    assert(jobs === 0)
    assert(width === Fan.scanParallelism(s.read.parquet(out)))
    assert(width >= parts(s))
    assert(Fan(df) eq df)
  }

  test("a union is as wide as its scans together: a wide cache next " +
      "to a one-split corpus scan is left alone") {
    val s = initSpark()
    val reps = docs(s).limit(3).repartition(parts(s)).persist()
    try {
      reps.count()
      assert(Fan.scanParallelism(reps) === parts(s))
      val sets = reps.unionByName(docs(s))
      assert(Fan.scanParallelism(sets) === parts(s) + 1)
      assert(Fan(sets) eq sets)
    } finally reps.unpersist()
  }

  test("a one-row-group scan is narrow and is fanned out") {
    val s = initSpark()
    assume(parts(s) > 1, "one shuffle partition: nothing to fan out to")
    val df = docs(s)
    assert(Fan.scanParallelism(df) === 1)
    assert(shuffles(Fan(df)) === 1)
    // the re-spread form gates on the source, not on the derived frame
    val agg = df.groupBy(col("doc_id") % 3).count()
    assert(shuffles(Fan.ifNarrow(df, agg)) === shuffles(agg) + 1)
  }
}
