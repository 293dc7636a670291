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
