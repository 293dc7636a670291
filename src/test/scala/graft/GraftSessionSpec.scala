package graft

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** `GraftSession.builder`'s Tungsten page rule: the derivation, the
  * page the suite's session runs with, and what it changes (a small
  * broadcast relation's footprint) and must not change (results of work
  * that spans many pages, or a row larger than one page). */
class GraftSessionSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import GraftSession.{PageTableSize, pageSetting}

  private val MB = 1L << 20
  /** An on-heap page's `long[]` header, left out of the page. */
  private val Header = 16L

  /** The page the suite's session's memory manager hands out. */
  private def sessionPage: Long = {
    initSpark()
    org.apache.spark.graft.TungstenPage.bytes
  }

  /** The page the rule gives this JVM under `local[...]`. */
  private def localPage: Long =
    pageSetting("local[4]", new SparkConf(), Runtime.getRuntime.maxMemory)

  test("page rule: 1 MB under a 3 GB local heap, 8 MB on a 64 GB " +
      "executor, 8192 pages always cover the unified region, and the " +
      "suite's session runs with the derived page") {
    assert(sessionPage === localPage)
    val bare = new SparkConf(false)
    assert(pageSetting("local[4]", bare, 3L << 30) === MB - Header)
    val exec64 = new SparkConf(false).set("spark.executor.memory", "64g")
    // the executor's heap bounds a cluster task, this JVM's a local one
    assert(pageSetting("spark://h:7077", exec64, 3L << 30) === 8 * MB - Header)
    assert(pageSetting("local[4]", exec64, 3L << 30) === MB - Header)
    // Spark reads a unitless spark.executor.memory as MiB
    val unitless = new SparkConf(false).set("spark.executor.memory", "65536")
    assert(pageSetting("spark://h:7077", unitless, 0L) === 8 * MB - Header)
    // off heap: the off-heap size bounds a task, a page has no header
    val offHeap = new SparkConf(false)
      .set("spark.memory.offHeap.enabled", "true")
      .set("spark.memory.offHeap.size", "100g")
    assert(pageSetting("local[4]", offHeap, 3L << 30) === 16 * MB)
    for (heapMb <- Seq(512L, 1024, 3072, 8192, 13000, 14000, 65536, 262144,
        1L << 20, 4L << 20); fraction <- Seq(0.3, 0.6, 0.9);
        unit <- Seq("m", "")) {
      val conf = new SparkConf(false)
        .set("spark.executor.memory", s"$heapMb$unit")
        .set("spark.memory.fraction", fraction.toString)
      val unified = ((heapMb - 300) * MB * fraction).toLong
      val page = pageSetting("yarn", conf, 0L)
      val whole = page + Header
      val at = s"heap $heapMb$unit × $fraction: page $page"
      assert(java.lang.Long.bitCount(whole) === 1, s"$at + header: 2^k")
      assert(whole >= MB && whole <= 64 * MB, s"$at: within [1, 64] MB")
      assert(whole === 64 * MB || page * PageTableSize >= unified,
        s"$at: 8192 pages < $unified")
      assert(whole === MB || (whole / 2 - Header) * PageTableSize < unified,
        s"$at: not the smallest page")
    }
  }

  test("a broadcast hash relation of a 10-row table holds one small page") {
    val s = initSpark()
    import s.implicits._
    val small = (0 until 10).map(i => (s"k$i", i)).toDF("k", "v")
    val big = s.range(100)
      .selectExpr("concat('k', CAST(id % 10 AS STRING)) AS k", "id")
    val joined = big.join(broadcast(small), "k")
    assert(joined.collect().length === 100)
    val exchanges = collect(joined.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b
    }
    assert(exchanges.size === 1)
    // the exchange's "data size" is the relation's estimatedSize; a
    // string key builds an UnsafeHashedRelation (pages of a
    // BytesToBytesMap), whose first page is a whole page
    val size = exchanges.head.metrics("dataSize").value
    assert(size > 0 && size <= localPage + MB,
      s"10-row broadcast relation takes $size bytes")
  }

  /** Runs `action`, returning its result and the largest
    * peakExecutionMemory of any task it ran. */
  private def withPeak[T](action: => T): (T, Long) = {
    val sc = initSpark().sparkContext
    val peaks = mutable.ArrayBuffer.empty[Long]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          peaks.synchronized(peaks += e.taskMetrics.peakExecutionMemory)
    }
    sc.addSparkListener(listener)
    try {
      val out = action
      org.apache.spark.graft.ListenerBus.drain(sc)
      (out, peaks.synchronized(peaks.maxOption.getOrElse(0L)))
    } finally sc.removeSparkListener(listener)
  }

  test("a sort and a hash aggregate spanning many pages in one task " +
      "return unchanged results") {
    val s = initSpark()
    import s.implicits._
    val page = sessionPage
    val n = 200000
    val pad = "x" * 48
    // one input partition: the whole sort runs in one task
    val rows = s.range(0, n, 1, 1)
      .selectExpr("id", s"concat('$pad', CAST(id AS STRING)) AS s")
    val (sorted, sortPeak) = withPeak(
      rows.sortWithinPartitions(desc("s")).select("id").as[Long].collect())
    assert(sortPeak >= 8 * page,
      s"the sort held $sortPeak bytes: fewer than 8 pages of $page")
    assert(sorted.toSeq ===
      (0L until n).sortBy(i => s"$pad$i")(Ordering[String].reverse))

    // 400k rows over 100k keys: the one partial-aggregation task keeps
    // a 100k-entry map (and never skips partial aggregation)
    val keyed = s.range(0, 2 * n, 1, 1)
      .selectExpr(s"concat('$pad', CAST(id DIV 4 AS STRING)) AS k", "id")
    val ((groups, bad, total), aggPeak) = withPeak {
      val agg = keyed.groupBy("k").agg(count(lit(1)).as("c"),
        sum("id").as("t")).persist()
      try (agg.count(),
        agg.where(col("c") =!= 4 ||
          col("t") =!= substring_index(col("k"), pad, -1).cast("long") *
            16 + 6).count(),
        agg.agg(sum("t")).as[Long].head())
      finally agg.unpersist()
    }
    assert(aggPeak >= 8 * page,
      s"the aggregate held $aggPeak bytes: fewer than 8 pages of $page")
    assert(groups === n / 2)
    assert(bad === 0)
    assert(total === (2L * n) * (2L * n - 1) / 2)
  }

  test("a row larger than one page sorts and aggregates unchanged") {
    val s = initSpark()
    import s.implicits._
    val wide = (3 * localPage).toInt
    assert(wide > sessionPage, s"a $wide-byte row fits one page")
    val rows: DataFrame = s.range(0, 1000, 1, 1).selectExpr("id",
      s"CASE WHEN id = 500 THEN repeat('z', $wide) ELSE CAST(id AS STRING) " +
        "END AS s")
    val top = rows.sortWithinPartitions(desc("s"))
      .select(col("id"), length(col("s"))).as[(Long, Int)].head(2)
    assert(top.toSeq === Seq((500L, wide), (999L, 3)))
    val counted = rows.union(rows).groupBy("s").count()
      .select(length(col("s")), col("count")).as[(Int, Long)].collect()
    assert(counted.length === 1000)
    assert(counted.forall(_._2 == 2))
    assert(counted.map(_._1).max === wide)
  }
}
