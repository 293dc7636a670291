package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.util.matching.Regex

import graft.jobs.{ScaleProof, StreamProof}

/** The one harness main, on the engine's GraftSession
  * (local[SPARK_GRAFT_CPUS], default 32):
  *
  *   Bench                                        timed suite, JSON lines
  *   Bench plan <sfDir> <outDir> <suffix> [names] formatted plans
  *   Bench profile <query> [sfDir] [warmReps]     per-job breakdown
  *   Bench scale sweep <baseDir> <scaledDir> <factor> [--only names]
  *   Bench scale mutated|docs <baseDir> <scaledDir> <factor>
  *   Bench scale ivf <baseDir> <workRoot>
  *   Bench scale diag
  *   Bench scale probe <scaledDir> <names|auto>
  *   Bench stream <baseDir> <workDir> <batches> [hdfs|rocksdb]
  *
  * The scale and stream modes write a JSON-array artifact, `--out
  * <file>` (default per mode); the timed scale modes take `--timeout
  * <sec>` (default 180) for the watchdog. `names`, and
  * SPARK_GRAFT_BENCH_ONLY for the suite, is a comma-separated list of
  * exact query names; an unknown name fails before the session starts.
  */
object Bench {
  private type Query = (SparkSession, String) => DataFrame
  private val defaultSf = "/root/testdata/sf0.1"
  private val usage = "usage: Bench | Bench plan <sfDir> <outDir> " +
    "<suffix> [names] | Bench profile <query> [sfDir] [warmReps] | " +
    "Bench scale sweep|mutated|docs <baseDir> <scaledDir> <factor> | " +
    "Bench scale ivf <baseDir> <workRoot> | Bench scale diag | " +
    "Bench scale probe <scaledDir> <names|auto> | Bench stream " +
    "<baseDir> <workDir> <batches> [hdfs|rocksdb]; scale and stream " +
    "modes take [--out file], timed scale modes [--timeout sec], " +
    "sweep [--only names]"

  def main(args: Array[String]): Unit = {
    val mode = parse(args.toList)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  /** The mode the arguments name, with every argument checked (query
    * names included) before any session exists. */
  private def parse(args: List[String]): SparkSession => Unit = {
    val (pos, opt) = options(args)
    require(opt.keySet.subsetOf(Set("out", "timeout", "only")), usage)
    def out(default: String) = opt.getOrElse("out", default)
    val timeoutSec = opt.get("timeout").fold(180)(_.toInt)
    pos match {
      case Nil =>
        val queries = selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
        suite(_, queries)
      case "plan" :: sfDir :: outDir :: suffix :: names =>
        val queries = selected(names.headOption)
        plan(_, queries, sfDir, outDir, suffix)
      case "profile" :: query :: rest =>
        val picked = selected(Some(query))
        require(picked.size == 1, s"profile takes one query name: $query")
        val (name, fn) = picked.head
        profile(_, name, fn, rest.headOption.getOrElse(defaultSf),
          rest.lift(1).fold(2)(_.toInt))
      case "scale" :: "sweep" :: baseDir :: scaledDir :: factor :: Nil =>
        val queries = selected(opt.get("only"))
        spark => write(out("scale_proof.json"), ScaleProof.sweep(spark,
          queries, baseDir, scaledDir, factor.toInt, timeoutSec))
      case "scale" :: "mutated" :: baseDir :: scaledDir :: factor :: Nil =>
        spark => write(out("scale_proof_neardup.json"), ScaleProof
          .mutated(spark, baseDir, scaledDir, factor.toInt, timeoutSec))
      case "scale" :: "docs" :: baseDir :: scaledDir :: factor :: Nil =>
        ScaleProof.docsOnly(_, baseDir, scaledDir, factor.toInt)
      case "scale" :: "ivf" :: baseDir :: workRoot :: Nil =>
        spark => write(out("scale_proof_ivf.json"),
          ScaleProof.ivfCurve(spark, baseDir, workRoot))
      case "scale" :: "diag" :: Nil =>
        spark => write(out("scale_proof_diag.json"),
          Seq(ScaleProof.annRecallClustered(spark)))
      case "scale" :: "probe" :: scaledDir :: names :: Nil =>
        val (probed, source) = ScaleProof.probeSet(names)
        val queries = selected(Some(probed))
        spark => write(out("scale_proof_probe.json"), ScaleProof.probe(
          spark, queries, scaledDir, timeoutSec, source))
      case "stream" :: baseDir :: workDir :: batches :: store
          if store.forall(Set("hdfs", "rocksdb")) && store.size <= 1 =>
        val n = batches.toInt
        val rocksdb = store == List("rocksdb")
        spark => {
          // a runtime SQL conf, read when each stateful query starts
          if (rocksdb) spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider")
          val (rows, contracts) = StreamProof.run(spark, baseDir, workDir,
            n, if (rocksdb) "rocksdb" else "hdfs")
          write(out("stream_proof.json"), rows)
          StreamProof.enforce(contracts)
        }
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  /** Positional arguments apart from `--key value` options. */
  private def options(args: List[String])
      : (List[String], Map[String, String]) = args match {
    case k :: v :: rest if k.startsWith("--") =>
      val (pos, opt) = options(rest)
      (pos, opt + (k.drop(2) -> v))
    case a :: rest =>
      val (pos, opt) = options(rest)
      (a :: pos, opt)
    case Nil => (Nil, Map.empty)
  }

  /** Declared queries in name order (a deterministic execution sequence
    * run-to-run): all of them, or only the comma-separated exact names
    * in `names`. An unknown name is an error, as is a list that names
    * nothing. */
  private[graft] def selected(names: Option[String]): Seq[(String, Query)] = {
    val wanted = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    wanted.foreach { w =>
      require(w.nonEmpty, s"no query named in '${names.get}'")
      val unknown = w.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"unknown query: ${unknown.toSeq.sorted.mkString(",")}")
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.forall(_.contains(n)) }
  }

  /** One watchdog-guarded rep: its wall seconds, and why it failed if
    * it did ("timeout", else the exception class). */
  private[graft] final case class Rep(sec: Double, failure: Option[String]) {
    def result: Either[String, Double] = failure.toLeft(sec)
  }

  /** Unique per rep: a stale watchdog (its rep ended right at the
    * deadline) then cancels only its own group, never the next rep's
    * jobs. */
  private val groupSeq = new AtomicLong(0L)

  /** Runs `body` under a fresh cancellable job group that a watchdog
    * cancels after `timeoutSec`: a hung query records as a failed rep
    * instead of blocking the run and losing its artifact. A 120 s hang
    * and an instant analysis error are different regressions, so the
    * failure keeps its reason. */
  private[graft] def timedBody(spark: SparkSession, name: String,
      timeoutSec: Int)(body: => Unit): Rep = {
    val group = s"bench-$name-${groupSeq.incrementAndGet()}"
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
    @volatile var done = false
    val watchdog = new Thread(() => {
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(200)
      if (!done) spark.sparkContext.cancelJobGroup(group)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val t0 = System.nanoTime()
    def sec = (System.nanoTime() - t0) / 1e9
    try { body; Rep(sec, None) }
    catch { case e: Throwable =>
      val s = sec
      Rep(s, Some(if (s >= timeoutSec) "timeout" else e.getClass.getSimpleName))
    } finally {
      done = true
      spark.sparkContext.clearJobGroup()
    }
  }

  /** One rep of a query over `dir`: its row count, watchdog-guarded. */
  private[graft] def timed(spark: SparkSession, name: String, fn: Query,
      dir: String, timeoutSec: Int): Rep =
    timedBody(spark, name, timeoutSec) { fn(spark, dir).count(); () }

  /** Min over successful reps only: a rep that throws returns almost
    * instantly, and its near-zero time would report a failing query as
    * fast. All failed => -1, never mistaken for speed. */
  private[graft] def minOk(reps: Seq[Rep]): Double = {
    val good = reps.collect { case Rep(s, None) => s }
    if (good.isEmpty) -1.0 else good.min
  }

  private[graft] final case class MinOf(name: String, reps: Seq[Rep],
      min: Double)

  /** Window calibration: five constant-cost scans whose plans never
    * change, so the median of their min times moves only with the
    * machine window (CPU contention, page cache, thermal state), and two
    * runs compare as ratio to it instead of in raw seconds. */
  private[graft] val calibQueries = Seq("q12_octet_len", "q13_normalize_ws",
    "q14_word_count", "q16_reading_duration", "q19_fingerprint")

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.filter(_ >= 0).sorted
    if (s.isEmpty) -1.0 else s(s.size / 2)
  }

  /** Fenced min-of-`n` over each of `names` on `dir`, then the fenced
    * min-of-3 of the `calib` queries there and their median. Before
    * each query's reps, cached data is dropped and one GC runs: in a JVM
    * that ran a whole sweep, lingering persists and garbage otherwise
    * land inside the reps (q119 read 25.8 s unfenced vs 18.0 s fenced
    * on one dir and binary). Reps after the first re-read whatever the
    * query itself caches; that re-warming is the warm band measured. */
  private[graft] def fencedMins(spark: SparkSession, names: Seq[String],
      dir: String, n: Int, timeoutSec: Int,
      calib: Seq[String] = calibQueries): (Seq[MinOf], Seq[MinOf], Double) = {
    def minOf(name: String, reps: Int): MinOf = {
      spark.catalog.clearCache()
      System.gc()
      val rs = (1 to reps).map(_ =>
        timed(spark, s"$name-warm", SparkEntry.queries(name), dir, timeoutSec))
      System.err.println(s"[bench] fenced $name reps=${repsJson(rs)}")
      MinOf(name, rs, minOk(rs))
    }
    val mins = names.map(minOf(_, n))
    val cal = calib.map(minOf(_, 3))
    (mins, cal, median(cal.map(_.min)))
  }

  /** 3-decimal seconds: millisecond precision is below the run-to-run
    * noise floor, and full-precision doubles made the suite's headline
    * overflow a bounded stdout tail. */
  private[graft] def fmt(v: Double): String = f"$v%.3f"

  /** Per-rep seconds, a failed rep negative with its magnitude kept. */
  private[graft] def repsJson(reps: Seq[Rep]): String =
    reps.map(r => fmt(if (r.failure.isEmpty) r.sec else -r.sec))
      .mkString("[", ",", "]")

  /** The reasons parallel to [[repsJson]]: null per successful rep. */
  private[graft] def errsJson(reps: Seq[Rep]): String =
    reps.map(_.failure.fold("null")("\"" + _ + "\"")).mkString("[", ",", "]")

  /** The one artifact writer: `body` to the file `out`. A failed write
    * is reported, not fatal: the rows are on stdout too. */
  private[graft] def writeArtifact(out: String, body: String): Unit =
    try Files.write(Paths.get(out), (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] write to $out failed: $e") }

  /** A scale or stream mode's rows, as a JSON array on stdout and in
    * `out`. */
  private def write(out: String, rows: Seq[String]): Unit = {
    val body = rows.mkString("[", ",\n", "]")
    println(body)
    writeArtifact(out, body)
  }

  /** `.explain("formatted")` of every selected query into
    * `<outDir>/<query><suffix>.txt` — the plan evidence committed under
    * plans/. The returned frame's plan is captured WITHOUT executing it
    * (initial AQE plan). Work the query body runs eagerly before it
    * returns — census aggregations, persisted or checkpointed edge
    * frames, counts, collects, the q76/q81 plan asserts — follows it,
    * one executed (final AQE) plan per SQL action, in run order, as a
    * QueryExecutionListener registered for the call saw them. */
  private def plan(spark: SparkSession, queries: Seq[(String, Query)],
      sfDir: String, outDir: String, suffix: String): Unit = {
    import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      val eager = mutable.ArrayBuffer.empty[(String, QueryExecution)]
      def ran(action: String, qe: QueryExecution): Unit =
        eager.synchronized { eager += action -> qe; () }
      val listener = new QueryExecutionListener {
        def onSuccess(action: String, qe: QueryExecution,
            durationNs: Long): Unit = ran(action, qe)
        def onFailure(action: String, qe: QueryExecution,
            exception: Exception): Unit = ran(action, qe)
      }
      spark.listenerManager.register(listener)
      try {
        val returned = fn(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        val executed = eager.synchronized(eager.toList).zipWithIndex.map {
          case ((action, qe), i) =>
            s"Eager execution ${i + 1}: $action" ->
              qe.explainString(FormattedMode)
        }
        val sections = onceCached(("the returned plan" -> returned) +:
          executed).map(stableIds)
        val text = sections.head + executed.zip(sections.tail)
          .map { case ((label, _), body) => s"\n== $label ==\n$body" }
          .mkString
        Files.write(Paths.get(outDir, s"$name$suffix.txt"),
          text.getBytes("UTF-8"))
        println(s"[plan] $name ok (${executed.size} eager executions)")
      } catch { case e: Exception =>
        System.err.println(s"[plan] $name FAILED: $e")
      } finally spark.listenerManager.unregister(listener)
    }
  }

  /** Run-dependent numbers in a formatted plan: (pattern whose second
    * group is the number, what the renumbered value is prefixed with). */
  private val runDependent = Seq(
    """(#)(\d+)""".r -> "", // expression ids
    """(plan_id=)(\d+)""".r -> "", // exchange ids
    // query stage ids, the Arguments line of a stage's node details
    """(?m)(^\(\d+\) \w+QueryStage\n(?:[^\n]+\n)*?Arguments: )(\d+)$"""
      .r -> "",
    // observation names (a random UUID unless the caller named it)
    """()([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})"""
      .r -> "uuid-",
    """(RDD\[)(\d+)""".r -> "", // RDD ids
    """(Broadcast\()(\d+)""".r -> "", // broadcast ids
    """(lambda x_)(\d+)""".r -> "") // lambda variable names

  /** One formatted plan section with the numbers that differ between
    * two runs of one build renumbered in order of first appearance
    * (JVM-wide counters: expression, exchange, query stage, RDD and
    * broadcast ids, lambda variable names, codegen ids by
    * [[codegenGroups]]; random observation UUIDs), JVM lambda classes
    * printed without their address and source line numbers in RDD call
    * sites printed as `.scala:N`, so dumps of two builds, or of some
    * queries against all of them, diff to their plan differences. Two
    * runs of one build still differ where AQE picks the other join build
    * side and where concurrent eager actions finish in the other order. */
  private[graft] def stableIds(section: String): String =
    codegenGroups(runDependent.foldLeft(section
        .replaceAll("""\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+""", "\\$Lambda")
        .replaceAll("""\.scala:\d+""", ".scala:N")) {
      case (text, (id, prefix)) =>
        val seen = mutable.HashMap.empty[String, Int]
        id.replaceAllIn(text, m => Regex.quoteReplacement(m.group(1) +
          prefix + seen.getOrElseUpdate(m.group(2), seen.size + 1)))
    })

  private val nodeHeader = """^\((\d+)\) .*""".r
  private val nodeId = """\((\d+)\)""".r

  /** Where a plan-tree line's node name starts. */
  private def treeCol(line: String): Int = {
    val m = math.max(line.lastIndexOf("+- "), line.lastIndexOf(":- "))
    if (m >= 0) m + 3 else line.indexWhere(_ != ' ')
  }

  /** The node id of a plan-tree line. */
  private def treeId(line: String): Option[String] =
    nodeId.findFirstMatchIn(line.drop(treeCol(line))).map(_.group(1))

  /** Node details: each "(n) Name" line through the blank line after
    * it, by node id. */
  private def detailBlocks(lines: Array[String]): Map[String, Range] = {
    val block = mutable.HashMap.empty[String, Range]
    var i = 0
    while (i < lines.length) lines(i) match {
      case nodeHeader(id) =>
        val end = lines.indexWhere(_.trim.isEmpty, i) match {
          case -1 => lines.length
          case e => e + 1
        }
        block(id) = i until end
        i = end
      case _ => i += 1
    }
    block.toMap
  }

  /** Whole-stage codegen ids renumbered by fused group, in the order the
    * groups' node details first appear. Every AQE context numbers its
    * own stages from 1, in the order they compile, so one raw id can
    * name groups of different contexts; a group is a parent-child chain
    * of plan-tree nodes with one raw id. */
  private def codegenGroups(section: String): String = {
    val lines = section.split("\n", -1)
    val codegen = """^\((\d+)\) .* \[codegen id : (\d+)\]$""".r
    val raw = lines.collect { case codegen(node, id) => node -> id }.toMap
    val up = mutable.HashMap.empty[String, String]
    def root(n: String): String = up.get(n).fold(n)(root)
    val inBlock = detailBlocks(lines).values.flatten.toSet
    val path = mutable.ArrayBuffer.empty[(Int, String)] // (column, node)
    lines.indices.filterNot(inBlock).map(lines(_)).foreach { line =>
      treeId(line).foreach { node =>
        val c = treeCol(line)
        while (path.nonEmpty && path.last._1 >= c) path.dropRightInPlace(1)
        path.lastOption.foreach { case (_, parent) =>
          val (a, b) = (root(node), root(parent))
          if (a != b && raw.contains(node) && raw.get(node) == raw.get(parent))
            up(a) = b
        }
        path += c -> node
      }
    }
    val number = mutable.HashMap.empty[String, Int]
    lines.map {
      case line @ codegen(node, _) =>
        val n = number.getOrElseUpdate(root(node), number.size + 1)
        line.replaceFirst("""\[codegen id : \d+\]$""", s"[codegen id : $n]")
      case line => line
    }.mkString("\n")
  }

  /** Formatted explain sections (label, text) of one query with each
    * cached plan printed in full once: every later occurrence of an
    * `InMemoryRelation` subtree (same operators, ids aside) becomes one
    * line naming the section that printed it, and the node details that
    * only that subtree used are dropped. */
  private[graft] def onceCached(sections: Seq[(String, String)])
      : Seq[String] = {
    val printed = mutable.HashMap.empty[String, String]
    sections.map { case (label, text) =>
      val lines = text.split("\n", -1)
      val block = detailBlocks(lines)
      val inBlock = block.values.flatten.toSet
      def isTree(j: Int) = !inBlock(j) && lines(j).trim.nonEmpty
      val norm = (l: String) => nodeId.replaceAllIn(l, "(#)")
      val drop = mutable.HashSet.empty[Int]
      val keptIds = mutable.HashSet.empty[String]
      val droppedIds = mutable.HashSet.empty[String]
      var i = 0
      while (i < lines.length) {
        val line = lines(i)
        if (isTree(i)) treeId(line).foreach(keptIds += _)
        val cached =
          isTree(i) && line.drop(treeCol(line)).startsWith("InMemoryRelation (")
        if (cached) {
          val end = (i + 1 until lines.length)
            .find(j => !isTree(j) || treeCol(lines(j)) <= treeCol(line))
            .getOrElse(lines.length)
          val sub = (i + 1 until end).map(lines(_))
          val ids = sub.flatMap(treeId)
          val key = (sub.map(l => norm(l.drop(treeCol(l)))) ++ ids.flatMap(id =>
            block.get(id).toSeq.flatMap(_.drop(1).map(lines(_))).map(norm)))
            .mkString("\n")
          printed.get(key) match {
            case Some(where) if sub.nonEmpty =>
              lines(i + 1) = sub.head.take(treeCol(sub.head)) +
                s"[cached plan, printed in full in $where]"
              drop ++= i + 2 until end
              droppedIds ++= ids
              i = end
            case _ =>
              printed.getOrElseUpdate(key, label)
              i += 1
          }
        } else i += 1
      }
      (droppedIds -- keptIds).foreach(id => block.get(id).foreach(drop ++= _))
      lines.indices.filterNot(drop).map(lines(_)).mkString("\n")
    }
  }

  /** The suite's watchdog: an order of magnitude above any sf0.1 query. */
  private lazy val suiteTimeoutSec = sys.env.get("SPARK_GRAFT_BENCH_TIMEOUT")
    .flatMap(_.trim.toIntOption).getOrElse(120).max(1)

  /** Per-job breakdown of one warm rep of a query: at sf0.1 the heavy
    * queries are many-job pipelines (census actions, persist
    * materializations, AQE stages), and the bench number is the sum of
    * those jobs plus the driver gaps between them. */
  private def profile(spark: SparkSession, name: String, fn: Query,
      sfDir: String, warmReps: Int): Unit = {
    def failed(r: Rep) = r.failure.fold("")(" FAILED:" + _)
    (1 to warmReps).foreach { i =>
      val r = timed(spark, s"$name-warm$i", fn, sfDir, suiteTimeoutSec)
      println(f"[profile] $name warm rep$i: ${r.sec}%.3f s" + failed(r))
    }
    val profiler = new JobProfiler
    spark.sparkContext.addSparkListener(profiler)
    var rows = -1L
    val r = timedBody(spark, name, suiteTimeoutSec) {
      // the jobs keep the watchdog's group but not its description,
      // so each is labelled by the call that launched it
      spark.sparkContext.setJobDescription(null)
      rows = fn(spark, sfDir).count()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(profiler)
    val wall = r.sec
    println(f"[profile] $name measured: $rows rows, $wall%.3f s, " +
      s"${profiler.jobs.size} jobs" + failed(r))
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
  private def suite(spark: SparkSession, ordered: Seq[(String, Query)])
      : Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    // Warm-up pass at the smallest scale factor: identical plans compile
    // identical generated code, so Janino's cache + the JIT are hot when
    // the measured run starts. Measures engine throughput, not compiler
    // cold-start (plan-compile cost is amortized over a real deployment's
    // job lifetime).
    val warmDir = "/root/testdata/sf0.001"
    ordered.foreach { case (name, fn) =>
      timed(spark, s"$name-warmup", fn, warmDir, suiteTimeoutSec)
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
    def repsStr(timed: Seq[Rep]): String =
      timed.map(r => fmt(r.sec) + r.failure.fold("")(e => s"(FAILED:$e)"))
        .mkString(",")
    val detailed = ordered.map { case (name, fn) =>
      // One untimed rep at the MEASURED scale before the timed loop: the
      // sf0.001 warm-up above compiles the codegen classes, but AQE
      // re-plans at sf0.1 (different stage stats => different shuffle
      // coalescing / join strategies), so rep1 at sfDir still paid
      // first-execution JIT for the replanned stages — round 9 saw
      // spreads of 2.3-2.8 on q108/q84 from exactly that. Warming at
      // sfDir makes every timed rep a steady-state measurement.
      timed(spark, s"$name-rewarm", fn, sfDir, suiteTimeoutSec)
      // GC fence: garbage from the previous query's executions (and
      // the warm rep above) otherwise lands as a collection pause
      // inside a RANDOM later query's timed rep — q123 measured spread
      // 2.8 in a full-suite run vs 1.1 in isolation from exactly that.
      // One explicit collection here pins the cost to the untimed gap.
      System.gc()
      val timedReps = (0 until reps).map(_ =>
        timed(spark, name, fn, sfDir, suiteTimeoutSec))
      System.err.println(s"bench $name reps=[" + repsStr(timedReps) + "]")
      (name, timedReps)
    }
    val results = detailed.map { case (name, rs) => name -> minOk(rs) }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // failed queries (sentinel -1) must not deflate the headline sum
    val total = results.values.filter(_ >= 0).sum
    val calibration = median(calibQueries.flatMap(results.get))
    // Fenced warm pass over the heaviest queries: the sweep's
    // min-of-reps still rides whatever JVM/page-cache state the
    // preceding 125 queries left behind, which is exactly why the
    // same binary read 53.3/62.8/72.6 s across three round-17
    // windows — a ±30% band that hides real ~10% regressions. The
    // heavy queries dominate that band (top 10 ≈ half the total), so
    // each gets three MORE fenced reps after the full sweep, when the
    // JVM is as warm as it will ever be; the min over those is the
    // window-robust per-query number. `robust_total_sec` (sweep mins
    // with the top-N replaced by their fenced warm mins) is the
    // headline to compare across runs; the fenced calibration row
    // scales out whatever window residue remains. The calibration reps
    // are rows of their own, so a contaminated rep can be told from a
    // real window shift. SPARK_GRAFT_BENCH_WARM sets N (default 10; 0
    // disables).
    val warmN = sys.env.get("SPARK_GRAFT_BENCH_WARM")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    val warmNames = results.toSeq.filter(_._2 >= 0)
      .sortBy(-_._2).take(warmN).map(_._1)
    val (warmDetailed, calibDetailed, warmCalibration) = fencedMins(spark,
      warmNames, sfDir, 3, suiteTimeoutSec,
      if (warmN <= 0) Nil else calibQueries.filter(results.contains))
    val warmMins = warmDetailed.map(m => m.name -> m.min).toMap
    // sweep mins with the warm set's fenced mins substituted (a warm
    // pass that FAILED all reps keeps the sweep number — a transient
    // must not deflate the robust headline)
    val robustTotal = results.toSeq.filter(_._2 >= 0).map {
      case (n, sweepMin) =>
        warmMins.get(n).filter(_ >= 0).getOrElse(sweepMin)
    }.sum
    val warmTopTotal = warmDetailed.map(_.min).filter(_ >= 0).sum
    val headline = s""""sf":"$sfDir","reps":$reps,"calibration_sec":${fmt(calibration)},"warm_top_n":${warmDetailed.length},"warm_total_top_sec":${fmt(warmTopTotal)},"robust_total_sec":${fmt(robustTotal)},"warm_calibration_sec":${fmt(warmCalibration)}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$headline}"""
    println(line)
    // COMPACT summary as the LAST stdout line: the line above carries
    // the 126-entry per-query map (~3.5 KB), and a reader that keeps
    // only a bounded stdout tail began MID-LINE on it. This one stays
    // under ~300 chars, so such a tail always holds one complete
    // parseable JSON object.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$headline}""")
    // The summary FILE never depends on tail length, and additionally
    // carries per-rep times, failure reasons (a -1 sentinel alone
    // cannot tell a hang from an analysis error) and the max/min spread
    // per query: spread >~2 on a trivial query = noisy box, not a plan
    // regression.
    val repErrsJson = detailed.filter(_._2.exists(_.failure.nonEmpty))
      .map { case (name, rs) => "\"" + name + "\":" + errsJson(rs) }
      .mkString("{", ",", "}")
    val spreads = detailed.map { case (name, rs) =>
      val good = rs.collect { case Rep(t, None) => t }
      name -> (if (good.size >= 2 && good.min > 0) good.max / good.min
        else -1.0)
    }
    val spreadJson = spreads.map { case (n, sp) => "\"" + n + "\":" + fmt(sp) }
      .mkString("{", ",", "}")
    val maxSpread = spreads.map(_._2).foldLeft(0.0)(_ max _)
    val warmJson = (warmDetailed ++ calibDetailed).map { m =>
      "\"" + m.name + "\":{\"reps_sec\":" + repsJson(m.reps) +
        s""","min_sec":${fmt(m.min)}}"""
    }.mkString("{", ",", "}")
    val repsSecJson = detailed
      .map { case (name, rs) => "\"" + name + "\":" + repsJson(rs) }
      .mkString("{", ",", "}")
    val fileLine = line.dropRight(1) +
      s""","calibration_queries":${calibQueries.map("\"" + _ + "\"")
        .mkString("[", ",", "]")}""" +
      s""","max_spread":${fmt(maxSpread)},"spread":$spreadJson,"warm":$warmJson,"rep_errs":$repErrsJson,"reps_sec":$repsSecJson}"""
    writeArtifact(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_summary.json"), fileLine)
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
