package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall-clock time, in epoch milliseconds. */
final case class Interval(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
}

/** One recorded span: a call into the library made by the benchmark.
  * `unit` is the unit of work (cycle, tick, pass) the span belongs to;
  * `parent` is the enclosing span's id, or -1 for a unit's root span. */
final case class SpanRec(id: Int, name: String, unit: Int, parent: Int,
    start: Double, end: Double) {
  def interval: Interval = Interval(start, end)
  def wallMs: Double = end - start
}

/** What the engine did inside one span, gathered from listener events. */
final case class SpanWork(jobs: Int, stageAttempts: Int, tasks: Int,
    taskBusyMs: Double, shuffleBytes: Long, spillBytes: Long,
    planningMs: Double, jobIntervals: Seq[Interval])

/** Span arithmetic. Pure, so it is tested without Spark. */
object Spans {

  /** Length of `span` covered by the union of `parts` (clipped to it). */
  def coveredMs(span: Interval, parts: Seq[Interval]): Double = {
    val clipped = parts
      .map(p => Interval(math.max(p.start, span.start),
        math.min(p.end, span.end)))
      .filter(_.length > 0)
      .sortBy(_.start)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { p =>
      if (curEnd.isNaN || p.start > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = p.start
        curEnd = p.end
      } else curEnd = math.max(curEnd, p.end)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus what its children cover. */
  def selfMs(span: SpanRec, all: Seq[SpanRec]): Double =
    span.wallMs - coveredMs(span.interval,
      all.filter(_.parent == span.id).map(_.interval))

  /** Wall time inside the span during which no job was running. */
  def driverGapMs(span: SpanRec, work: SpanWork): Double =
    span.wallMs - coveredMs(span.interval, work.jobIntervals)
}

/** Outside-in tracer. It keeps spans and engine events in memory and
  * ties them together by job group (jobs, stages, tasks) or by time
  * (query planning, which the listener reports without a job group).
  *
  * The `on*` methods are the whole event model; [[listener]] and
  * [[queryListener]] only translate Spark's events into them. Every
  * stage attempt is counted once, however many completion events it
  * produces, and tasks are counted from their own end events, so a
  * retried stage adds only the tasks that really ran again. */
final class Tracer {
  import Tracer._

  private val spans = mutable.ArrayBuffer[SpanRec]()
  private var nextId = 0
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, Double]()
  private val jobIntervals = mutable.HashMap[Int, mutable.ArrayBuffer[Interval]]()
  private val attemptSpan = mutable.HashMap[(Int, Int), Int]()
  private val tally = mutable.HashMap[Int, Tally]()
  private val planning = mutable.ArrayBuffer[(Double, Double)]()

  // wall clock in epoch ms with nanoTime resolution
  private val offsetNs = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + offsetNs) / 1e6

  private def t(span: Int): Tally = tally.getOrElseUpdate(span, new Tally)

  /** Record a span around `body`. With a SparkSession, the span's jobs
    * run under their own job group so engine events map back to it. */
  def span[A](name: String, unit: Int, parent: Int = -1,
      spark: Option[SparkSession] = None)(body: Int => A): A = {
    val id = synchronized { nextId += 1; nextId }
    spark.foreach(_.sparkContext.setJobGroup(groupOf(id), name,
      interruptOnCancel = false))
    val start = nowMs()
    try body(id)
    finally {
      val end = nowMs()
      spark.foreach(_.sparkContext.clearJobGroup())
      synchronized { spans += SpanRec(id, name, unit, parent, start, end) }
    }
  }

  def onJobStart(jobId: Int, group: String, timeMs: Double): Unit =
    synchronized {
      spanOf(group).foreach { s =>
        jobSpan(jobId) = s
        jobStart(jobId) = timeMs
        t(s).jobs += 1
      }
    }

  def onJobEnd(jobId: Int, timeMs: Double): Unit = synchronized {
    for (s <- jobSpan.get(jobId); st <- jobStart.get(jobId))
      jobIntervals.getOrElseUpdate(s, mutable.ArrayBuffer()) +=
        Interval(st, timeMs)
  }

  def onStageSubmitted(stageId: Int, attempt: Int, group: String): Unit =
    synchronized {
      spanOf(group).foreach { s =>
        if (!attemptSpan.contains((stageId, attempt))) {
          attemptSpan((stageId, attempt)) = s
          t(s).stageAttempts += 1
        }
      }
    }

  def onTaskEnd(stageId: Int, attempt: Int, runMs: Double,
      shuffleWriteBytes: Long, spillBytes: Long): Unit = synchronized {
    attemptSpan.get((stageId, attempt)).foreach { s =>
      val x = t(s)
      x.tasks += 1
      x.busyMs += runMs
      x.shuffleBytes += shuffleWriteBytes
      x.spillBytes += spillBytes
    }
  }

  /** A finished query's planning phases (analysis, optimization,
    * physical planning), attributed to the span they started in. */
  def onQueryPlanned(phaseStartMs: Double, phaseMs: Double): Unit =
    synchronized { planning += ((phaseStartMs, phaseMs)) }

  def recorded: Seq[SpanRec] = synchronized(spans.toList)

  def work(span: SpanRec): SpanWork = synchronized {
    val x = tally.getOrElse(span.id, new Tally)
    val plan = planning.collect {
      case (st, ms) if st >= span.start && st < span.end => ms
    }.sum
    SpanWork(x.jobs, x.stageAttempts, x.tasks, x.busyMs, x.shuffleBytes,
      x.spillBytes, plan, jobIntervals.get(span.id).map(_.toList)
        .getOrElse(Nil))
  }

  val listener: SparkListener = new SparkListener {
    private def group(p: java.util.Properties): String =
      Option(p).map(_.getProperty(JobGroupKey)).orNull

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.onJobStart(e.jobId, group(e.properties), e.time.toDouble)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.onJobEnd(e.jobId, e.time.toDouble)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.onStageSubmitted(e.stageInfo.stageId,
        e.stageInfo.attemptNumber(), group(e.properties))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        Tracer.this.onTaskEnd(e.stageId, e.stageAttemptId,
          m.executorRunTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      else Tracer.this.onTaskEnd(e.stageId, e.stageAttemptId, 0.0, 0L, 0L)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach { p =>
        onQueryPlanned(p.startTimeMs.toDouble, p.durationMs.toDouble)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = planned(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Deliver every pending event, then stop listening. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "perfbench-span-"

  def groupOf(spanId: Int): String = GroupPrefix + spanId

  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt)

  private final class Tally {
    var jobs = 0
    var stageAttempts = 0
    var tasks = 0
    var busyMs = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
}
