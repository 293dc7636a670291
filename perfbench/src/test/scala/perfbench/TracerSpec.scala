package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("covered time is the union of the parts, clipped to the span") {
    val span = Interval(100, 200)
    // overlapping parts count once; parts outside the span do not count
    val parts = Seq(Interval(90, 120), Interval(110, 130), Interval(150, 160),
      Interval(195, 300), Interval(300, 400))
    assert(Spans.coveredMs(span, parts) === 30 + 10 + 5)
    assert(Spans.coveredMs(span, Nil) === 0)
  }

  test("self time is duration minus what the children cover") {
    val root = SpanRec(1, "unit", 0, -1, 0, 100)
    val spans = Seq(root,
      SpanRec(2, "vectorize", 0, 1, 10, 40),
      SpanRec(3, "ledger_append", 0, 1, 30, 50),
      SpanRec(4, "sync", 0, 1, 80, 90),
      SpanRec(5, "other_unit", 1, -1, 0, 100))
    assert(Spans.selfMs(root, spans) === 100 - 40 - 10)
    assert(Spans.selfMs(spans(1), spans) === 30)
  }

  test("driver gap is span time no job covers") {
    val s = SpanRec(1, "classify", 0, -1, 0, 50)
    val w = SpanWork(2, 2, 4, 0, 0, 0, 0,
      Seq(Interval(5, 15), Interval(10, 20), Interval(40, 45)))
    assert(Spans.driverGapMs(s, w) === 50 - 15 - 5)
  }

  test("each stage attempt counts once; tasks count from their own ends") {
    val t = new Tracer
    val span = t.span("curate", 0) { id => id }
    val g = Tracer.groupOf(span)
    t.onJobStart(1, g, 0)
    // attempt 0 of stage 7, reported twice, then a retry as attempt 1
    t.onStageSubmitted(7, 0, g)
    t.onStageSubmitted(7, 0, g)
    (1 to 4).foreach(_ => t.onTaskEnd(7, 0, 10, 100, 0))
    t.onStageSubmitted(7, 1, g)
    t.onTaskEnd(7, 1, 5, 50, 7)
    // a stage and a job of another group (or of none) do not count
    t.onJobStart(2, "someone-else", 0)
    t.onStageSubmitted(8, 0, null)
    t.onTaskEnd(8, 0, 99, 99, 99)
    t.onJobEnd(1, 10)
    val w = t.work(t.recorded.head)
    assert(w.jobs === 1)
    assert(w.stageAttempts === 2)
    assert(w.tasks === 5)
    assert(w.taskBusyMs === 45)
    assert(w.shuffleBytes === 450)
    assert(w.spillBytes === 7)
    assert(w.jobIntervals === Seq(Interval(0, 10)))
  }

  test("planning is attributed to the span it started in") {
    val t = new Tracer
    t.span("a", 0)(_ => Thread.sleep(5))
    val a = t.recorded.head
    t.onQueryPlanned(a.start + 1, 3)
    t.onQueryPlanned(a.end + 1000, 50)
    assert(t.work(a).planningMs === 3)
  }

  test("a real job's stages, tasks and planning land in its span") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val t = new Tracer
    t.attach(spark)
    t.span("count", 0, spark = Some(spark)) { _ =>
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().collect()
    }
    spark.range(10).count() // outside any span
    t.detach(spark)
    val w = t.work(t.recorded.head)
    assert(w.jobs >= 1)
    assert(w.stageAttempts >= 1)
    assert(w.tasks >= 4)
    assert(w.shuffleBytes > 0)
    assert(w.planningMs > 0)
    assert(Spans.driverGapMs(t.recorded.head, w) >= 0)
  }

  test("median of an even and an odd number of samples") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
  }
}
