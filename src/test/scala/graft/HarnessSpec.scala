package graft

import java.util.Properties

import org.apache.spark.graft.SyntheticEvents
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The harness pieces that must not lie: the job profile counts each
  * stage once however often it was attempted, concurrent actions fail
  * their caller on any throwable, an Error included, a query filter
  * selects exactly the names it is given, and the watchdog tells a hang
  * from an error without touching the next rep. */
class HarnessSpec extends SparkSuite {

  private def props(kv: (String, String)*): Properties = {
    val p = new Properties
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  test("profile counts a retried stage's shuffle bytes once, from its " +
      "last attempt, and labels jobs by call site") {
    val p = new JobProfiler
    p.onOtherEvent(SparkListenerSQLExecutionStart(5L, None,
      "count at Dedup.scala:42", "", "", null, 900L))
    p.onJobStart(SparkListenerJobStart(7, 1000L,
      Seq(SyntheticEvents.stage(3, 0, 4, 0L, 0L),
        SyntheticEvents.stage(4, 0, 2, 0L, 0L)),
      props("spark.sql.execution.id" -> "5")))
    // attempt 0 wrote part of its output before failing; attempt 1 redid it
    p.onStageCompleted(SparkListenerStageCompleted(
      SyntheticEvents.stage(3, 0, 4, 60L, 5L)))
    p.onStageCompleted(SparkListenerStageCompleted(
      SyntheticEvents.stage(3, 1, 4, 100L, 10L)))
    p.onStageCompleted(SparkListenerStageCompleted(
      SyntheticEvents.stage(4, 0, 2, 0L, 100L)))
    p.onJobEnd(SparkListenerJobEnd(7, 1500L, JobSucceeded))
    p.onJobStart(SparkListenerJobStart(8, 1700L, Nil,
      props("spark.sql.execution.id" -> "5",
        "spark.job.description" -> "census")))
    p.onJobEnd(SparkListenerJobEnd(8, 1800L, JobSucceeded))
    // job 9 overlaps job 8 (AQE runs independent stages concurrently)
    p.onJobStart(SparkListenerJobStart(9, 1750L,
      Seq(SyntheticEvents.stage(6, 0, 1, 0L, 0L)), props()))
    p.onJobEnd(SparkListenerJobEnd(9, 2000L, JobSucceeded))
    val Seq(j7, j8, j9) = p.jobs
    assert(j7.label === "count at Dedup.scala:42")
    assert((j7.stages, j7.tasks) === ((2, 6)))
    assert(j7.shuffleWrite === 100L)
    assert(j7.shuffleRead === 110L)
    assert(j7.sec === 0.5)
    assert(j8.label === "census")
    assert(math.abs(j8.gapSec - 0.2) < 1e-9)
    assert(j9.label === "stage 6")
    assert(j9.gapSec === 0.0)
    assert(math.abs(j9.busySec - 0.2) < 1e-9)
    assert(math.abs(p.jobs.map(_.busySec).sum - 0.8) < 1e-9)
  }

  test("concurrent driver actions: an Error in one fails the call, " +
      "with every failure kept") {
    var ran = 0
    val ok = () => synchronized { ran += 1 }
    val e = intercept[RuntimeException](SparkEntry.runAll("writes",
      Seq(ok, () => throw new OutOfMemoryError("boom"))))
    assert(e.getCause.isInstanceOf[OutOfMemoryError])
    assert(ran === 1)
    val both = intercept[RuntimeException](SparkEntry.runAll("writes",
      Seq(() => throw new IllegalStateException("a"),
        () => throw new StackOverflowError("b"))))
    assert((both.getCause +: both.getSuppressed.toSeq).map(_.getMessage)
      .toSet === Set("a", "b"))
    SparkEntry.runAll("writes", Seq(ok, ok))
    assert(ran === 3)
  }

  test("query selection takes exact names: a prefix or a misspelt " +
      "name fails") {
    assert(Bench.selected(Some("q12_octet_len")).map(_._1) ===
      Seq("q12_octet_len"))
    assert(Bench.selected(Some("q13_normalize_ws, q12_octet_len"))
      .map(_._1) === Seq("q12_octet_len", "q13_normalize_ws"))
    assert(Bench.selected(None).size === SparkEntry.queries.size)
    for (bad <- Seq("q12", "q12_octet_lne", "q12_octet_len,q1", ","))
      intercept[IllegalArgumentException](Bench.selected(Some(bad)))
  }

  test("plan dumps print each cached plan in full once per query; " +
      "later sections get a one-line reference") {
    val first = """== Physical Plan ==
      |* Project (4)
      |+- InMemoryTableScan (1)
      |      +- InMemoryRelation (2)
      |            +- * Filter (3)
      |               +- Scan parquet (5)
      |
      |
      |(1) InMemoryTableScan
      |Output [1]: [id#1L]
      |
      |(2) InMemoryRelation
      |Arguments: [id#1L], StorageLevel(disk, memory)
      |
      |(3) Filter [codegen id : 1]
      |Condition : (id#1L > 0)
      |
      |(5) Scan parquet
      |Output [1]: [id#1L]
      |
      |(4) Project [codegen id : 2]
      |Output [1]: [id#1L]
      |""".stripMargin
    val later = """== Physical Plan ==
      |* HashAggregate (1)
      |:- InMemoryTableScan (2)
      |:     +- InMemoryRelation (3)
      |:           +- * Filter (4)
      |:              +- Scan parquet (6)
      |+- * Range (5)
      |
      |
      |(1) HashAggregate [codegen id : 1]
      |Keys: []
      |
      |(2) InMemoryTableScan
      |Output [1]: [id#9L]
      |
      |(3) InMemoryRelation
      |Arguments: [id#9L], StorageLevel(disk, memory)
      |
      |(4) Filter [codegen id : 1]
      |Condition : (id#1L > 0)
      |
      |(6) Scan parquet
      |Output [1]: [id#1L]
      |
      |(5) Range
      |Output [1]: [id#2L]
      |""".stripMargin
    val Seq(a, b) = Bench.onceCached(Seq("the returned plan" -> first,
      "Eager execution 1: count" -> later))
    assert(a === first)
    assert(b === """== Physical Plan ==
      |* HashAggregate (1)
      |:- InMemoryTableScan (2)
      |:     +- InMemoryRelation (3)
      |:           +- [cached plan, printed in full in the returned plan]
      |+- * Range (5)
      |
      |
      |(1) HashAggregate [codegen id : 1]
      |Keys: []
      |
      |(2) InMemoryTableScan
      |Output [1]: [id#9L]
      |
      |(3) InMemoryRelation
      |Arguments: [id#9L], StorageLevel(disk, memory)
      |
      |(5) Range
      |Output [1]: [id#2L]
      |""".stripMargin)
    // a different cached plan is printed in full wherever it first shows
    val other = later.replace("(id#1L > 0)", "(id#1L > 5)")
    assert(Bench.onceCached(Seq("the returned plan" -> first,
      "Eager execution 1: count" -> other))(1) === other)
  }

  test("plan dumps renumber run-dependent ids: two runs of one plan " +
      "dump alike, codegen groups stay apart across AQE contexts") {
    // a cached Filter (its own AQE context) under an aggregation: both
    // contexts number their codegen stages from 1
    val run1 = """== Physical Plan ==
      |AdaptiveSparkPlan (10)
      |+- == Final Plan ==
      |   ResultQueryStage (9)
      |   +- CollectMetrics (8)
      |      +- * HashAggregate (7)
      |         +- ShuffleQueryStage (6), Statistics(sizeInBytes=24.0 B)
      |            +- Exchange (5)
      |               +- * HashAggregate (4)
      |                  +- InMemoryTableScan (1)
      |                        +- InMemoryRelation (2)
      |                              +- * Filter (3)
      |
      |
      |(1) InMemoryTableScan
      |Output [1]: [id#41L]
      |
      |(2) InMemoryRelation
      |Arguments: [id#41L], StorageLevel(disk, memory)
      |
      |(3) Filter [codegen id : 1]
      |Input [1]: [id#41L]
      |Condition : UDF(F$$$Lambda$5440/0x00007ff7d14c43c8@5be86750, id#41L)
      |
      |(4) HashAggregate [codegen id : 2]
      |Input [1]: [id#41L]
      |
      |(5) Exchange
      |Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3591]
      |
      |(6) ShuffleQueryStage
      |Output [1]: [count#44L]
      |Arguments: 3
      |
      |(7) HashAggregate [codegen id : 1]
      |Input [1]: [count#44L]
      |
      |(8) CollectMetrics
      |Arguments: 75a993a2-2b81-4d13-b204-879d573802db, [count(1) AS n#45L]
      |
      |(9) ResultQueryStage
      |Output [1]: [n#45L]
      |Arguments: 4
      |""".stripMargin
    val run2 = run1.replace("#4", "#14")
      .replace("5440/0x00007ff7d14c43c8@5be86750",
        "5455/0x00007f14b54c68a8@4bc01cab")
      .replace("plan_id=3591", "plan_id=3624")
      .replace("Arguments: 3", "Arguments: 2")
      .replace("Arguments: 4", "Arguments: 0")
      .replace("75a993a2-2b81-4d13-b204-879d573802db",
        "ca000430-5411-4a07-968b-9feeb8665980")
      .replace("(4) HashAggregate [codegen id : 2]",
        "(4) HashAggregate [codegen id : 1]")
      .replace("(7) HashAggregate [codegen id : 1]",
        "(7) HashAggregate [codegen id : 2]")
    val stable = Bench.stableIds(run1)
    assert(Bench.stableIds(run2) === stable)
    for (line <- Seq("(3) Filter [codegen id : 1]",
        "(4) HashAggregate [codegen id : 2]",
        "(7) HashAggregate [codegen id : 3]",
        "Condition : UDF(F$$$Lambda, id#1L)",
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]",
        "Arguments: uuid-1, [count(1) AS n#3L]"))
      assert(stable.split("\n").contains(line), line)
    assert(stable.contains("(6) ShuffleQueryStage\nOutput [1]: " +
      "[count#2L]\nArguments: 1\n"))
    assert(stable.contains("(9) ResultQueryStage\nOutput [1]: " +
      "[n#3L]\nArguments: 2\n"))
    // a parent and child of one raw id are one fused group
    val fused = Bench.stableIds(run1
      .replace("ShuffleQueryStage (6), Statistics(sizeInBytes=24.0 B)",
        "* HashAggregate (6)")
      .replace("(6) ShuffleQueryStage\nOutput [1]: [count#44L]\n" +
        "Arguments: 3", "(6) HashAggregate [codegen id : 1]"))
    assert(fused.contains("(6) HashAggregate [codegen id : 3]"))
    assert(fused.contains("(7) HashAggregate [codegen id : 3]"))
    // a plan change still shows
    assert(Bench.stableIds(run2.replace("count(1)", "count(2)")) !== stable)
  }

  test("plan dumps renumber JVM-wide counters and call-site lines: two " +
      "builds' dumps differing only in them normalize equal") {
    val build1 = """(1) Scan ExistingRDD
      |Output [2]: [id#4L, rep#5L]
      |Arguments: [id#4L, rep#5L], MapPartitionsRDD[503] at createDataFrame at Dedup.scala:1738, ExistingRDD, UnknownPartitioning(0)
      |
      |(2) Generate
      |Arguments: explode(centroid_probes(embedding#7, Broadcast(361), 3)), [id#4L], false, [centroid_id#8L]
      |
      |(3) Project [codegen id : 1]
      |Output [1]: [transform(toks#9, lambdafunction(lower(lambda x_127#10), lambda x_127#10, false)) AS t#11]
      |
      |(4) Scan ExistingRDD
      |Arguments: [id#12L], MapPartitionsRDD[486] at createDataFrame at Dedup.scala:821, ExistingRDD, UnknownPartitioning(0)
      |
      |(5) Project [codegen id : 2]
      |Output [1]: [filter(toks#9, lambdafunction(isnotnull(lambda x_128#13), lambda x_128#13, false)) AS f#14, MapPartitionsRDD[503]]
      |""".stripMargin
    val build2 = build1
      .replace("MapPartitionsRDD[503]", "MapPartitionsRDD[1278]")
      .replace("MapPartitionsRDD[486]", "MapPartitionsRDD[1260]")
      .replace("Dedup.scala:1738", "Dedup.scala:1741")
      .replace("Dedup.scala:821", "Dedup.scala:811")
      .replace("Broadcast(361)", "Broadcast(406)")
      .replace("x_127", "x_3").replace("x_128", "x_4")
    val stable = Bench.stableIds(build1)
    assert(Bench.stableIds(build2) === stable)
    for (text <- Seq("MapPartitionsRDD[1] at createDataFrame at " +
        "Dedup.scala:N", "MapPartitionsRDD[2] at createDataFrame at " +
        "Dedup.scala:N", "Broadcast(1)", "lambda x_1#6", "lambda x_2#9",
        "AS f#10, MapPartitionsRDD[1]]"))
      assert(stable.contains(text), text)
    // a changed call site, or a second RDD where one was, still shows
    assert(Bench.stableIds(build2.replace("Dedup.scala:811",
      "Mixing.scala:811")) !== stable)
    assert(Bench.stableIds(build2.replace("MapPartitionsRDD[1260]",
      "MapPartitionsRDD[1278]")) !== stable)
  }

  private def sleepyJob(s: SparkSession, ms: Long): Unit = {
    s.sparkContext.parallelize(1 to 2, 2).map { i => Thread.sleep(ms); i }
      .count()
    ()
  }

  test("watchdog: a job past the timeout records \"timeout\"; an " +
      "analysis error records its class at once") {
    val s = initSpark()
    val hung = Bench.timedBody(s, "hung", 1)(sleepyJob(s, 60000L))
    assert(hung.result === Left("timeout"))
    assert(hung.sec < 30.0, "the cancel must interrupt the sleeping tasks")
    val bad = "SELECT no_such_column FROM range(1)"
    val expected = intercept[Exception](s.sql(bad).count())
      .getClass.getSimpleName
    val err = Bench.timedBody(s, "bad", 60)(s.sql(bad).count())
    assert(err.result === Left(expected))
    assert(err.sec < 10.0)
  }

  test("watchdog: the rep right after a timed-out rep completes, a " +
      "stale cancel hitting only its own job group") {
    val s = initSpark()
    var first: String = null
    val hung = Bench.timedBody(s, "same", 1) {
      first = s.sparkContext.getLocalProperty("spark.jobGroup.id")
      sleepyJob(s, 60000L)
    }
    assert(hung.result === Left("timeout"))
    val next = Bench.timedBody(s, "same", 60) {
      // the stale watchdog's cancel, landing while this rep's job runs
      val stale = new Thread(() => {
        Thread.sleep(300L)
        s.sparkContext.cancelJobGroup(first)
      })
      stale.start()
      sleepyJob(s, 1500L)
      stale.join()
    }
    assert(next.result.isRight, next.failure)
  }

  test("operators read no environment variables: a route or a bound is " +
      "chosen by its caller's arguments, never by the shell") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val sources = Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".scala"))
    assert(sources.nonEmpty, s"no operator sources under $dir")
    val read = "sys\\.env|System\\.getenv".r
    val hits = sources.toSeq.sortBy(_.getName).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined =>
          s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
