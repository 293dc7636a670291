package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload for one seed and prints the result as the last
  * line of standard output:
  *
  *   {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
  *
  * With tracing off the metrics are the end-to-end ones; with tracing
  * on they are the per-layer ones. A detailed report (per-unit times,
  * failure reasons, spans with self time, the host record) goes to
  * `--report`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --input DIR --work DIR --report FILE
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: String, work: String, report: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--input"), need("--work"),
      need("--report"))
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** CPU time of this process, all threads (GC and JIT included). */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val enteredMs = System.currentTimeMillis()
    val o = parse(args)
    val heap = new HeapWatch
    val params = json.readTree(
      new java.io.File(s"${o.input}/params.json"))
    val w = Workload(o.workload, params, o.input, o.work)
    val prepared = System.nanoTime()
    w.prepare()
    val cores = Runtime.getRuntime.availableProcessors

    val outcomes = mutable.ArrayBuffer[UnitOutcome]()
    val reasons = mutable.LinkedHashMap[Int, Seq[String]]()
    var nextIdx = 0
    val cpuSeconds = mutable.HashMap[Int, Double]()
    /** Runs one unit and its immediate checks; returns the unit's wall
      * time, its index, and the time its checks took. */
    def runUnit(spark: SparkSession,
        tr: Option[Tracer]): (Double, Int, Long) = {
      val idx = nextIdx
      nextIdx += 1
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val res = Try(tr match {
        case Some(t) => t.span("unit", idx) { root =>
          w.unit(spark, new Trace(tr, spark, idx, root), idx)
        }
        case None => w.unit(spark, new Trace(None, spark, idx, -1), idx)
      })
      val t1 = System.nanoTime()
      cpuSeconds(idx) = secs(processCpuNs() - cpu0)
      res match {
        case Success(out) =>
          outcomes += out
          reasons(idx) = Try(w.checkNow(spark, out)).fold(
            e => Seq(s"check failed: $e"), identity)
        case Failure(e) =>
          reasons(idx) = Seq(s"unit failed: $e")
          System.err.println(s"perfbench: unit $idx failed")
          e.printStackTrace()
      }
      (secs(t1 - t0), idx, System.nanoTime() - t1)
    }

    // set-up, from process start to the first timed unit: session
    // start and model load (input generation happens before the process
    // starts)
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    w.load(spark)
    val t2 = System.nanoTime()
    val setupParts = Map(
      "jvm_s" -> (enteredMs - jvmStartMs) / 1e3,
      "prepare_s" -> secs(t0 - prepared),
      "session_s" -> secs(t1 - t0), "load_s" -> secs(t2 - t1))
    val setupS = setupParts.removed("prepare_s").values.sum

    // the measured window starts with the process's first unit, cold,
    // as a tick launched in a fresh process meets it; more units follow
    // until `seconds` have passed. A traced run traces every unit.
    val tracer = if (o.trace) Some(new Tracer) else None
    tracer.foreach(_.attach(spark))
    val measured = mutable.ArrayBuffer[(Int, Double)]()
    var checksNs = 0L
    val cpuAtStart = HostCpu.counters()
    val start = System.nanoTime()
    val deadline = start + (o.seconds * 1e9).toLong
    while (measured.isEmpty || System.nanoTime() < deadline) {
      val (wall, idx, checkNs) = runUnit(spark, tracer)
      checksNs += checkNs
      measured += ((idx, wall))
    }
    val windowS = secs(System.nanoTime() - start - checksNs)
    tracer.foreach(_.detach(spark))
    val stolen = HostCpu.stolenShareSince(cpuAtStart)

    val kept = outcomes.toSeq
    Try(w.checkAtEnd(spark, kept)).fold(
      e => kept.foreach(u => reasons(u.idx) =
        reasons.getOrElse(u.idx, Nil) :+ s"final check failed: $e"),
      _.foreach { case (i, rs) =>
        reasons(i) = reasons.getOrElse(i, Nil) ++ rs })
    val failedIdx = reasons.collect { case (i, rs) if rs.nonEmpty => i }.toSet
    val failed = failedIdx.size
    val good = kept.filterNot(u => failedIdx(u.idx))
    val unitCounts = w.unitCounts(spark, kept)

    val walls = measured.map(_._2).toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val spansOut = mutable.ArrayBuffer[Map[String, Any]]()
    if (!o.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("unit_p50_s") = (Stats.median(walls), "s")
      metrics("unit_cpu_s") = (Stats.median(
        measured.map(m => cpuSeconds(m._1)).toSeq), "s")
      metrics("docs_per_s") = (good.map(_.docs).sum / windowS, "1/s")
      metrics("peak_heap_mb") = (heap.retainedMb(), "MB")
    } else {
      val t = tracer.get
      val spans = t.recorded
      val perUnit = measured.map(_._1).toSeq.map { u =>
        val mine = spans.filter(_.unit == u)
        Layers.spanNames.flatMap { name =>
          val ofName = mine.filter(_.name == name)
          val ws = ofName.map(t.work)
          val wallS = ofName.map(_.wallMs).sum / 1e3
          val busyS = ws.map(_.taskBusyMs).sum / 1e3
          Seq(
            s"$name.wall_s" -> wallS,
            s"$name.jobs" -> ws.map(_.jobs).sum.toDouble,
            s"$name.tasks" -> ws.map(_.tasks).sum.toDouble,
            s"$name.task_busy_s" -> busyS,
            s"$name.core_busy_share" ->
              (if (wallS > 0) busyS / (wallS * cores) else 0.0),
            s"$name.shuffle_mb" -> ws.map(_.shuffleBytes).sum / 1048576.0,
            s"$name.spill_mb" -> ws.map(_.spillBytes).sum / 1048576.0,
            s"$name.driver_gap_s" -> ofName.zip(ws).map { case (s, x) =>
              Spans.driverGapMs(s, x) }.sum / 1e3,
            s"$name.planning_s" -> ws.map(_.planningMs).sum / 1e3)
        }.toMap
      }
      Layers.perSpanMetrics.foreach { case (name, unit) =>
        metrics(name) = (Stats.medianOr0(perUnit.map(_(name))), unit)
      }
      val counts = w.finalCounts(spark)
      def perUnitMedian(key: String): Double = Stats.medianOr0(good.map(u =>
        u.counts.getOrElse(key, unitCounts.getOrElse(u.idx,
          Map.empty[String, Double]).getOrElse(key, 0.0))))
      metrics("admit.docs") = (perUnitMedian("admitted"), "count")
      metrics("vectorize.slices") = (perUnitMedian("slices"), "count")
      metrics("ledger.rows") = (counts.getOrElse("ledger.rows", 0.0), "count")
      metrics("ledger.files") = (counts.getOrElse("ledger.files", 0.0),
        "count")
      metrics("curate.survivors") = (perUnitMedian("survivors"), "count")
      // the traced unit_p50_s: less the untraced run's, the tracing
      // overhead
      metrics("unit.wall_s") = (Stats.median(walls), "s")
      spans.foreach { s =>
        val x = t.work(s)
        spansOut += Map("id" -> s.id, "name" -> s.name, "unit" -> s.unit,
          "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_s" -> Spans.selfMs(s, spans) / 1e3, "jobs" -> x.jobs,
          "stage_attempts" -> x.stageAttempts, "tasks" -> x.tasks,
          "task_busy_s" -> x.taskBusyMs / 1e3,
          "driver_gap_s" -> Spans.driverGapMs(s, x) / 1e3,
          "planning_s" -> x.planningMs / 1e3,
          "job_s" -> x.jobIntervals.map(j => (j.end - j.start) / 1e3))
      }
    }

    val correct = failed == 0 && measured.nonEmpty
    val report = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "host" -> Map("nproc" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "session_conf" -> spark.conf.getAll),
      "setup_s" -> setupS, "setup_parts" -> setupParts, "window_s" -> windowS,
      // share of the host's CPU time taken by other guests while
      // measuring (Linux steal time); wall times move with it
      "window_cpu_stolen_share" -> stolen,
      "unit_s" -> measured.map(m => Map("idx" -> m._1, "wall_s" -> m._2)),
      // workflow_batch only; not an end-to-end metric because every
      // workload must report every one of those
      "slices_per_s" -> good.map(u => unitCounts.getOrElse(u.idx,
        Map.empty[String, Double]).getOrElse("routed_slices", 0.0)).sum /
        windowS,
      "failures" -> reasons.filter(_._2.nonEmpty).map { case (i, rs) =>
        i.toString -> rs },
      "metrics" -> metrics.map { case (k, (v, _)) => k -> v },
      "spans" -> spansOut)
    val file = new java.io.File(o.report)
    file.getParentFile.mkdirs()
    json.writeValue(file, report)
    spark.stop()
    System.err.println(s"perfbench: ${measured.size} units, failures: " +
      reasons.filter(_._2.nonEmpty).take(3).mkString("; "))
    println(json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> measured.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })))
  }
}

/** The per-layer metric names, shared by every workload: a span a
  * workload does not run reports zero. */
object Layers {
  val spanNames: Seq[String] = Seq("vectorize", "select_batch", "classify",
    "keywords", "sync", "ledger_append", "curate", "lm")
  val spanMetrics: Seq[(String, String)] = Seq("wall_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "task_busy_s" -> "s",
    "core_busy_share" -> "ratio", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "driver_gap_s" -> "s", "planning_s" -> "s")
  val perSpanMetrics: Seq[(String, String)] = for {
    s <- spanNames
    (m, u) <- spanMetrics
  } yield s"$s.$m" -> u
}

/** Old-generation heap left right after a full collection at the end
  * of the run: the live data the run retains (caches, persisted frames,
  * models), free of the garbage young collections leave in the old
  * generation. Forcing collections between units would perturb the
  * units that follow, so there is one, after the last. */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  def retainedMb(): Double = {
    // the second collection frees what the first one handed to Spark's
    // context cleaner (broadcast and shuffle state of dead frames)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      1048576.0
  }
}

/** Steal time from `/proc/stat`: CPU time the hypervisor gave to other
  * guests. None where the file does not exist. */
object HostCpu {
  def counters(): Option[Array[Long]] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }.toOption

  /** Stolen share of all CPU time since the counters `from`. */
  def stolenShareSince(from: Option[Array[Long]]): Option[Double] = for {
    a <- from
    b <- counters()
    d = b.zip(a).map { case (x, y) => x - y }
    if d.length > 7 && d.sum > 0
  } yield d(7).toDouble / d.sum
}
