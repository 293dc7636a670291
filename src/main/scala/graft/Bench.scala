package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** The query harness, on the engine's GraftSession (local[SPARK_GRAFT_CPUS],
  * default 32):
  *
  *   Bench                                      timed suite, JSON lines
  *   Bench plan <sfDir> <outDir> <suffix> [only] formatted plans
  *   Bench profile <query> [sfDir] [warmReps]   per-job breakdown
  *
  * `only` is a comma-separated list of name prefixes, and
  * SPARK_GRAFT_BENCH_ONLY the same filter for the suite; `query` is one
  * exact query name.
  */
object Bench {
  private type Query = (SparkSession, String) => DataFrame
  private val defaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case Nil => suite
      case "plan" :: sfDir :: outDir :: suffix :: only =>
        plan(_, sfDir, outDir, suffix, only.headOption)
      case "profile" :: query :: rest =>
        val fn = SparkEntry.queries.getOrElse(query,
          throw new IllegalArgumentException(s"unknown query: $query"))
        profile(_, query, fn, rest.headOption.getOrElse(defaultSf),
          rest.lift(1).fold(2)(_.toInt))
      case _ => throw new IllegalArgumentException(
        "usage: Bench | Bench plan <sfDir> <outDir> <suffix> [only] | " +
          "Bench profile <query> [sfDir] [warmReps]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  /** Declared queries in name order (a deterministic execution sequence
    * run-to-run), restricted to the comma-separated name prefixes in
    * `only` when given; a filter that selects nothing is an error. */
  private def selected(only: Option[String]): Seq[(String, Query)] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.forall(_.exists(n.startsWith)) }
    require(picked.nonEmpty, s"no query matches ${only.getOrElse("")}")
    picked
  }

  // Watchdog-guarded rep — the SHARED ScaleProof.timedBody behind
  // every rep of every mode (round-18 review, twice over: a hung query
  // used to block an unguarded count() forever and lose the WHOLE
  // artifact, and the first fix re-implemented the watchdog instead of
  // sharing it). The job group is cancelled after
  // SPARK_GRAFT_BENCH_TIMEOUT seconds (default 120, an order of
  // magnitude above any sf0.1 query) and the rep records as failed (-1
  // sentinel downstream) WITH its reason ("timeout" vs the exception
  // class) — a 120 s hang and an instant analysis error are different
  // regressions.
  private lazy val timeoutSec = sys.env.get("SPARK_GRAFT_BENCH_TIMEOUT")
    .flatMap(_.trim.toIntOption).getOrElse(120).max(1)

  private def timedRep(spark: SparkSession, label: String)(body: => Unit)
      : (Double, Boolean, String) = {
    val t0 = System.nanoTime()
    graft.jobs.ScaleProof.timedBody(spark, label, timeoutSec) {
      body; 0L
    } match {
      case Right((_, sec)) => (sec, true, null)
      case Left(reason) =>
        ((System.nanoTime() - t0) / 1e9, false, reason)
    }
  }

  /** `.explain("formatted")` of every selected query into
    * `<outDir>/<query><suffix>.txt` — the plan evidence committed under
    * plans/. Plans are captured WITHOUT executing the query (initial AQE
    * plan); queries that execute eagerly inside their body (q76/q81
    * plan-asserts) still run, as declared. */
  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, only: Option[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    selected(only).foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"$name$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plan] $name ok")
      } catch { case e: Exception =>
        System.err.println(s"[plan] $name FAILED: $e")
      }
    }
  }

  /** Per-job breakdown of one warm rep of a query: at sf0.1 the heavy
    * queries are many-job pipelines (census actions, persist
    * materializations, AQE stages), and the bench number is the sum of
    * those jobs plus the driver gaps between them. */
  private def profile(spark: SparkSession, name: String, fn: Query,
      sfDir: String, warmReps: Int): Unit = {
    (1 to warmReps).foreach { i =>
      val (sec, ok, reason) =
        timedRep(spark, s"$name-warm$i") { fn(spark, sfDir).count(); () }
      println(f"[profile] $name warm rep$i: $sec%.3f s" +
        (if (ok) "" else s" FAILED:$reason"))
    }
    val profiler = new JobProfiler
    spark.sparkContext.addSparkListener(profiler)
    var rows = -1L
    val (wall, ok, reason) = timedRep(spark, name) {
      // the jobs keep the watchdog's group but not its description,
      // so each is labelled by the call that launched it
      spark.sparkContext.setJobDescription(null)
      rows = fn(spark, sfDir).count()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(profiler)
    println(f"[profile] $name measured: $rows rows, $wall%.3f s, " +
      s"${profiler.jobs.size} jobs" + (if (ok) "" else s" FAILED:$reason"))
    profiler.jobs.foreach { j =>
      println(f"[profile] job ${j.id}%3d ${j.sec}%7.3f s " +
        f"gap=${j.gapSec}%6.3f s stages=${j.stages}%2d " +
        f"tasks=${j.tasks}%4d shufW=${j.shuffleWrite / 1048576.0}%8.2fMB " +
        f"shufR=${j.shuffleRead / 1048576.0}%8.2fMB ${j.label.take(90)}")
    }
    val jobSum = profiler.jobs.map(_.sec).sum
    val busy = profiler.jobs.map(_.busySec).sum
    println(f"[profile] job-sum=$jobSum%.3f s  jobs-running=$busy%.3f s  " +
      f"driver-only=${wall - busy}%.3f s")
  }

  /** The timed suite: the driver contract (stdout JSON lines plus
    * SPARK_GRAFT_BENCH_OUT, default bench_summary.json). */
  private def suite(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    // Warm-up pass at the smallest scale factor: identical plans compile
    // identical generated code, so Janino's cache + the JIT are hot when
    // the measured run starts. Measures engine throughput, not compiler
    // cold-start (plan-compile cost is amortized over a real deployment's
    // job lifetime).
    // SPARK_GRAFT_BENCH_ONLY=q83,q86 runs just the named prefixes —
    // iteration aid; the driver never sets it, so round artifacts
    // always cover the full suite
    val ordered = selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    def timedReps(name: String, fn: Query, n: Int)
        : Seq[(Double, Boolean, String)] =
      (0 until n).map(_ =>
        timedRep(spark, name) { fn(spark, sfDir).count(); () })
    def repsStr(timed: Seq[(Double, Boolean, String)]): String =
      timed.map { case (t, ok, reason) =>
        f"$t%.3f" + (if (ok) "" else s"(FAILED:$reason)") }
        .mkString(",")
    val warmDir = "/root/testdata/sf0.001"
    ordered.foreach { case (name, fn) =>
      timedRep(spark, s"$name-warmup") { fn(spark, warmDir).count(); () }
    }
    // Repeated-min measurement: each query runs `reps` times back-to-back
    // and reports the minimum. A single-shot pass conflates engine
    // throughput with whatever fixed per-query overhead happens to land
    // on that one execution (GC pause, JIT deopt/recompile, codegen
    // cache miss, page-cache cold read) — round 3 saw a uniform
    // +0.4-0.7s drift on twelve trivial scans from exactly that. The min
    // over reps is the standard noise-floor estimator (what the engine
    // can do when the environment cooperates); per-rep times go to
    // stderr for drift diagnosis.
    // toIntOption: a malformed env value must not kill the run after
    // the warm-up pass already burned its time
    val reps = sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(_.trim.toIntOption).getOrElse(3).max(1)
    val detailed = ordered.map { case (name, fn) =>
      // One untimed rep at the MEASURED scale before the timed loop: the
      // sf0.001 warm-up above compiles the codegen classes, but AQE
      // re-plans at sf0.1 (different stage stats => different shuffle
      // coalescing / join strategies), so rep1 at sfDir still paid
      // first-execution JIT for the replanned stages — round 9 saw
      // spreads of 2.3-2.8 on q108/q84 from exactly that. Warming at
      // sfDir makes every timed rep a steady-state measurement.
      timedRep(spark, s"$name-rewarm") { fn(spark, sfDir).count(); () }
      // GC fence: garbage from the previous query's executions (and
      // the warm rep above) otherwise lands as a collection pause
      // inside a RANDOM later query's timed rep — q123 measured spread
      // 2.8 in a full-suite run vs 1.1 in isolation from exactly that.
      // One explicit collection here pins the cost to the untimed gap.
      System.gc()
      // min over SUCCESSFUL reps only: a rep that throws returns almost
      // instantly, and letting its near-zero elapsed time into the min
      // would report a transiently failing query as fast. All-failed =>
      // sentinel -1 (visible in the artifact, never mistaken for speed).
      val timed = timedReps(name, fn, reps)
      System.err.println(s"bench $name reps=[" + repsStr(timed) + "]")
      (name, timed)
    }
    val results = detailed.map { case (name, timed) =>
      val good = timed.collect { case (t, true, _) => t }
      name -> (if (good.nonEmpty) good.min else -1.0)
    }.toMap
    // 3-decimal values: the driver captures this line from a bounded
    // stdout tail, and full-precision doubles pushed the line past the
    // tail window in round 6 (artifact arrived truncated → unparseable).
    // Millisecond precision is below the run-to-run noise floor anyway.
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // failed queries (sentinel -1) must not deflate the headline sum
    val total = results.values.filter(_ >= 0).sum
    // Window calibration (round-16 bench protocol): the median min-time
    // of five constant-cost scan queries whose plans never change
    // round-to-round — their median moves ONLY with the machine window
    // (CPU contention, page cache, thermal state), so two runs compare
    // as ratio-to-calibration instead of raw seconds. Round 15's 74.9 s
    // driver window vs the builder's 56.8 s needed manual per-query
    // forensics to attribute; this field makes the window factor a
    // first-class artifact value (calibration_now / calibration_then).
    val calibQueries = Seq("q12_octet_len", "q13_normalize_ws",
      "q14_word_count", "q16_reading_duration", "q19_fingerprint")
    val calibration = {
      val xs = calibQueries.flatMap(results.get).filter(_ >= 0).sorted
      if (xs.isEmpty) -1.0 else xs(xs.size / 2)
    }
    // Fenced warm pass over the heaviest queries (round 18 — the
    // ScaleProof warm discipline folded into the bench): the sweep's
    // min-of-reps still rides whatever JVM/page-cache state the
    // preceding 125 queries left behind, which is exactly why the
    // same binary read 53.3/62.8/72.6 s across three round-17
    // windows — a ±30% band that hides real ~10% regressions. The
    // heavy queries dominate that band (top 10 ≈ half the total), so
    // each gets a cache-clear + GC fence and three MORE reps after
    // the full sweep, when the JVM is as warm as it will ever be;
    // the min over those is the window-robust per-query number.
    // `robust_total_sec` (sweep mins with the top-N replaced by their
    // fenced warm mins) is the headline to compare across rounds; the
    // fenced calibration row scales out whatever window residue
    // remains. SPARK_GRAFT_BENCH_WARM sets N (default 10; 0
    // disables).
    val warmN = sys.env.get("SPARK_GRAFT_BENCH_WARM")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    val fnByName = ordered.toMap
    def fencedMinOf3(name: String)
        : (Seq[(Double, Boolean, String)], Double) = {
      spark.catalog.clearCache()
      System.gc()
      val timed = timedReps(s"$name-warm", fnByName(name), 3)
      val good = timed.collect { case (t, true, _) => t }
      (timed, if (good.nonEmpty) good.min else -1.0)
    }
    val warmNames = results.toSeq.filter(_._2 >= 0)
      .sortBy(-_._2).take(warmN).map(_._1)
    val warmDetailed = warmNames.map { name =>
      val (timed, best) = fencedMinOf3(name)
      System.err.println(s"bench warm $name reps=[" + repsStr(timed) +
        s"] min=${fmt(best)}")
      (name, timed, best)
    }
    val warmMins = warmDetailed.map { case (n, _, b) => n -> b }.toMap
    // the fenced calibration reps are first-class rows too (round-18
    // review: they used to vanish into the median, leaving no per-rep
    // data to separate a contaminated rep from a real window shift)
    val calibDetailed = if (warmN <= 0) Nil
      else calibQueries.filter(fnByName.contains).map { name =>
        val (timed, best) = fencedMinOf3(name)
        System.err.println(s"bench warm-calib $name reps=[" +
          repsStr(timed) + s"] min=${fmt(best)}")
        (name, timed, best)
      }
    val warmCalibration = {
      val xs = calibDetailed.map(_._3).filter(_ >= 0).sorted
      if (xs.isEmpty) -1.0 else xs(xs.size / 2)
    }
    // sweep mins with the warm set's fenced mins substituted (a warm
    // pass that FAILED all reps keeps the sweep number — a transient
    // must not deflate the robust headline)
    val robustTotal = results.toSeq.filter(_._2 >= 0).map {
      case (n, sweepMin) =>
        warmMins.get(n).filter(_ >= 0).getOrElse(sweepMin)
    }.sum
    val warmTopTotal = warmDetailed.map(_._3).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"calibration_sec":${fmt(calibration)},"warm_top_n":${warmDetailed.length},"warm_total_top_sec":${fmt(warmTopTotal)},"robust_total_sec":${fmt(robustTotal)},"warm_calibration_sec":${fmt(warmCalibration)}}"""
    println(line)
    // COMPACT summary as the LAST stdout line (round-18 verdict item 1):
    // the full line above carries the 126-entry per-query map (~3.5 KB),
    // but the driver captures only a bounded stdout tail, so in every
    // round so far the tail began MID-LINE and the artifact recorded
    // parsed:null — no per-query PERF table was ever computed from it.
    // This line stays under ~300 chars (headline fields only, no
    // per-query map) so the tail always holds one complete parseable
    // JSON object; the full map remains on the line above and in the
    // summary artifact file. Same measurement, same fields — a second
    // print of already-computed values, not a methodology change.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","reps":$reps,"calibration_sec":${fmt(calibration)},"warm_top_n":${warmDetailed.length},"warm_total_top_sec":${fmt(warmTopTotal)},"robust_total_sec":${fmt(robustTotal)},"warm_calibration_sec":${fmt(warmCalibration)}}""")
    // also persist the summary: the driver's stdout tail-capture
    // truncated 13 of 75 per-query times in round 4 — the artifact
    // should never depend on tail length. The FILE form additionally
    // carries per-rep times and the max/min spread per query: round 8's
    // bench box was contended and min-of-3 silently absorbed 4-9× rep
    // swings, making the artifact useless for regression detection. With
    // the spread in the artifact, contamination is visible without
    // stderr: spread >~2 on a trivial query = noisy box, not a plan
    // regression.
    val repsJson = detailed.map { case (name, timed) =>
      "\"" + name + "\":[" + timed.map { case (t, ok, _) =>
        if (ok) fmt(t) else fmt(-t) // negative = failed rep, magnitude kept
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // failure REASONS, only for queries that had any (usually empty):
    // a -1 sentinel alone cannot distinguish a 120 s hang from an
    // instant analysis error (round-18 review)
    val repErrsJson = detailed
      .filter { case (_, timed) => timed.exists(!_._2) }
      .map { case (name, timed) =>
        "\"" + name + "\":[" + timed.map { case (_, ok, reason) =>
          if (ok) "null" else "\"" + reason + "\""
        }.mkString(",") + "]"
      }.mkString("{", ",", "}")
    val spreadJson = detailed.map { case (name, timed) =>
      val good = timed.collect { case (t, true, _) => t }
      val sp = if (good.size >= 2 && good.min > 0) good.max / good.min else -1.0
      "\"" + name + "\":" + fmt(sp)
    }.mkString("{", ",", "}")
    val maxSpread = detailed.flatMap { case (_, timed) =>
      val good = timed.collect { case (t, true, _) => t }
      if (good.size >= 2 && good.min > 0) Some(good.max / good.min) else None
    }.foldLeft(0.0)(_ max _)
    val warmJson = (warmDetailed ++ calibDetailed)
      .map { case (name, timed, best) =>
        "\"" + name + "\":{\"reps_sec\":[" + timed.map { case (t, ok, _) =>
          if (ok) fmt(t) else fmt(-t)
        }.mkString(",") + s"],\"min_sec\":${fmt(best)}}"
      }.mkString("{", ",", "}")
    val fileLine = line.dropRight(1) +
      s""","calibration_queries":${calibQueries.map("\"" + _ + "\"")
        .mkString("[", ",", "]")}""" +
      s""","max_spread":${fmt(maxSpread)},"spread":$spreadJson,"warm":$warmJson,"rep_errs":$repErrsJson,"reps_sec":$repsJson}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_summary.json")
    try Files.write(Paths.get(out), (fileLine + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"bench summary write failed: $e") }
  }
}

/** Per-job breakdown from listener events: wall time, the gap since
  * the last earlier job ended, stages, tasks and shuffle bytes. A
  * job is labelled by its `spark.job.description`, else by the call
  * site of the action behind it: its SQL execution's description
  * (Spark names an execution after the action's call site, and AQE
  * stage jobs, launched from other threads, share it), else its
  * result stage's name. That names the operator line each job serves.
  * A retried stage completes once per attempt; its figures come from
  * its last completed attempt only. */
private[graft] class JobProfiler extends SparkListener {
  import JobProfiler._
  private val started = mutable.LinkedHashMap[Int, (String, Long)]()
  private val ended = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val lastAttempt = mutable.HashMap[Int, Attempt]()
  private val executions = mutable.HashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val label = prop("spark.job.description")
      .orElse(prop("spark.sql.execution.id")
        .flatMap(id => executions.get(id.toLong)))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("")
    started(e.jobId) = (label, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended(e.jobId) = e.time
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = x.description
    }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      if (lastAttempt.get(s.stageId).forall(_.attempt <= s.attemptNumber())) {
        val m = Option(s.taskMetrics)
        lastAttempt(s.stageId) = Attempt(stageJob.getOrElse(s.stageId, -1),
          s.attemptNumber(), s.numTasks,
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead))
      }
    }

  /** Jobs in start order, each with its completed stages. AQE runs
    * independent stages as concurrent jobs, so a job's gap counts from
    * the latest end of any earlier job, and its busy time is the part of
    * its run no earlier job covers: the busy times sum to the time some
    * job was running. */
  def jobs: Seq[Job] = synchronized {
    val byJob = lastAttempt.values.groupBy(_.job)
    var lastEnd = -1L
    started.toSeq.map { case (id, (label, t0)) =>
      val t1 = ended.getOrElse(id, t0)
      val gap = if (lastEnd > 0) (t0 - lastEnd).max(0L) / 1e3 else 0.0
      val busy = (t1 - t0.max(lastEnd)).max(0L) / 1e3
      lastEnd = lastEnd.max(t1)
      val st = byJob.getOrElse(id, Nil)
      Job(id, label, (t1 - t0) / 1e3, gap, busy, st.size,
        st.map(_.tasks).sum, st.map(_.shuffleWrite).sum,
        st.map(_.shuffleRead).sum)
    }
  }
}

private[graft] object JobProfiler {
  private case class Attempt(job: Int, attempt: Int, tasks: Int,
    shuffleWrite: Long, shuffleRead: Long)
  case class Job(id: Int, label: String, sec: Double, gapSec: Double,
    busySec: Double, stages: Int, tasks: Int, shuffleWrite: Long,
    shuffleRead: Long)
}
