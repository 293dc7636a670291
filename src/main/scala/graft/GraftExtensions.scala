package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.Platform

import graft.expr.{BytesToFloatVector, CosineSimF32, DotF32,
  EliminateVectorCodecRoundTrip, FloatVectorToBytes, SortedLongIntersect,
  TopKStructs}

/** SparkSessionExtensions registration for the engine's custom Catalyst
  * expressions, making them first-class SQL functions:
  *
  * {{{
  * val spark = GraftSession.builder("local[*]").getOrCreate() // installs them
  * spark.sql("SELECT cosine_f32(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * This is the (c)-tier integration path from the build guidelines —
  * expressions participate in SQL text, the function registry, and
  * whole-stage codegen exactly like built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: codec round-trip elimination (see CodecRules)
    ext.injectOptimizerRule(_ => EliminateVectorCodecRoundTrip)
    ext.injectFunction((FunctionIdentifier("cosine_f32"),
      info("cosine_f32",
        "cosine_f32(a, b) - cosine similarity of two float vectors"),
      (args: Seq[Expression]) => CosineSimF32(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("dot_f32"),
      info("dot_f32", "dot_f32(a, b) - dot product of two float vectors"),
      (args: Seq[Expression]) => DotF32(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("vec_to_bytes"),
      info("vec_to_bytes",
        "vec_to_bytes(v) - float vector to float32-LE bytes"),
      (args: Seq[Expression]) => FloatVectorToBytes(args.head)))
    ext.injectFunction((FunctionIdentifier("bytes_to_vec"),
      info("bytes_to_vec",
        "bytes_to_vec(b) - float32-LE bytes to float vector"),
      (args: Seq[Expression]) => BytesToFloatVector(args.head)))
    ext.injectFunction((FunctionIdentifier("sorted_intersect"),
      info("sorted_intersect",
        "sorted_intersect(a, b) - intersection size of two ascending " +
          "bigint arrays (merge scan)"),
      (args: Seq[Expression]) => SortedLongIntersect(args(0), args(1))))
    ext.injectFunction((FunctionIdentifier("top_k_by"),
      info("top_k_by",
        "top_k_by(struct, k[, 'desc,asc,...']) - bounded top-k rows per " +
          "group, per-field directions (default all desc)"),
      GraftExtensions.buildTopK))
  }
}

object GraftExtensions {
  /** SQL builder: k must be an int literal; optional third arg is a
    * comma-separated direction literal ('desc'/'asc' per struct field). */
  private[graft] val buildTopK: Seq[Expression] => Expression = { args =>
    val k = args(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"top_k_by: k must be an integer literal, got $other")
    }
    val dirs = args.lift(2) match {
      case Some(Literal(s, StringType)) =>
        s.toString.split(",").map(_.trim.equalsIgnoreCase("desc")).toSeq
      case Some(other) => throw new IllegalArgumentException(
        s"top_k_by: directions must be a string literal, got $other")
      case None => Seq.fill(64)(true) // default: all fields descending
    }
    TopKStructs(args.head, k, dirs)
  }
}

/** Same function set for an ALREADY-RUNNING session (extensions only
  * apply at builder time; getOrCreate on an existing session ignores
  * them — this path covers notebooks/shells attaching late). Also
  * installs the codec round-trip optimizer rule via the live-session
  * `experimental.extraOptimizations` hook (idempotent). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    // idempotent across BOTH registration paths: a session built with
    // GraftExtensions already carries the rule in the operator-
    // optimization batch (extendedOperatorOptimizationRules) — adding
    // it to extraOptimizations too would run a redundant fixed-point
    // batch on every plan
    val alreadyInjected = spark.sessionState.optimizer
      .extendedOperatorOptimizationRules
      .contains(EliminateVectorCodecRoundTrip)
    // the contains-check + append below is check-then-act on shared
    // session state — two threads registering concurrently could each
    // pass the check and append the rule twice (a redundant fixed-point
    // batch per plan), so the pair is serialized per-session
    if (!alreadyInjected) spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations
          .contains(EliminateVectorCodecRoundTrip))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            EliminateVectorCodecRoundTrip
    }
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_f32",
      (args: Seq[Expression]) => CosineSimF32(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_f32",
      (args: Seq[Expression]) => DotF32(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_to_bytes",
      (args: Seq[Expression]) => FloatVectorToBytes(args.head), "built-in")
    reg.createOrReplaceTempFunction("bytes_to_vec",
      (args: Seq[Expression]) => BytesToFloatVector(args.head), "built-in")
    reg.createOrReplaceTempFunction("sorted_intersect",
      (args: Seq[Expression]) => SortedLongIntersect(args(0), args(1)),
      "built-in")
    reg.createOrReplaceTempFunction("top_k_by",
      GraftExtensions.buildTopK, "built-in")
  }
}

/** The engine's one session factory (local + cluster), used by every
  * main, the test suites and the benchmark: AQE with skew handling,
  * right-sized shuffle parallelism, partition-size caps that keep 100-TB
  * scans within executor memory, Tungsten pages sized to the memory a
  * task can hold ([[pageSetting]]), and the graft SQL functions and
  * optimizer rule installed. Callers add only what is theirs (a state
  * store provider) on the returned builder.
  *
  * The page is derived here, from the launch conf (what spark-submit or
  * `-D` passed) and this JVM's heap, not from settings added to the
  * returned builder: a caller that changes `spark.executor.memory`,
  * `spark.memory.fraction` or `spark.memory.offHeap.*` on it must also
  * set `spark.buffer.pageSize` there. */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder = {
    val conf = new SparkConf() // what spark-submit passed, if anything
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, so it must be set here: a long-lived session
      // compiles more codegen classes than Spark's default 100-entry
      // cache holds (a workflow cycle ~171, the query suite far more),
      // and evicted classes are recompiled on their next use
      .config("spark.sql.codegen.cache.maxEntries", 5000)
    if (conf.contains(PageSizeKey)) b
    else b.config(PageSizeKey,
      pageSetting(master, conf, Runtime.getRuntime.maxMemory))
  }

  private val PageSizeKey = "spark.buffer.pageSize"

  /** Entries in a task's page table (`TaskMemoryManager.PAGE_TABLE_SIZE`):
    * a task holding more pages than this fails ("maximum of 8192
    * pages"), so pages × 8192 must cover all the memory one task can be
    * granted. */
  private[graft] val PageTableSize = 8192L

  /** The Tungsten page: a power of two from 1 MB up to Spark's 64 MB cap,
    * less `header`, the smallest whose 8192-entry page table covers
    * `tungsten` bytes, the memory one task can be granted. Every
    * broadcast hash relation, sort buffer and aggregation map holds at
    * least one page while it lives, on the driver and on every executor
    * that deserializes it; Spark's default (execution pool / cores / 16,
    * rounded up) gives a 10-row broadcast table a 16 MB page under a
    * 3 GB heap on 4 cores and 64 MB on a typical executor. */
  private def pageSizeBytes(tungsten: Long, header: Long): Long = {
    var page = 1L << 20
    while (page < (64L << 20) && (page - header) * PageTableSize < tungsten)
      page <<= 1
    page - header
  }

  /** The page the builder sets. A task can be granted the unified
    * region, (heap − 300 MB) × `spark.memory.fraction`, which execution
    * may take whole; the heap is `jvmHeap` (this JVM's) under
    * `local[...]`, where driver and executor are one process, else
    * `spark.executor.memory`. An on-heap page is a `long[]`, so the page
    * leaves out the array's header, as Spark's own default does under
    * G1: the array is then exactly 2^k bytes and packs evenly into G1's
    * power-of-two heap regions, where 2^k bytes plus a header would pass
    * the half-region mark and take whole regions of its own (a 1 MB
    * page under a 3 GB heap: one 2 MB region each). Off heap, the
    * off-heap size bounds a task and a page needs no header. At the
    * default fraction that is a 1 MB page up to a ~13.9 GB heap and
    * 8 MB on a 64 GB executor. */
  private[graft] def pageSetting(master: String, conf: SparkConf,
      jvmHeap: Long): Long =
    if (conf.getBoolean("spark.memory.offHeap.enabled", false))
      pageSizeBytes(conf.getSizeAsBytes("spark.memory.offHeap.size", "0"), 0L)
    else {
      val heap =
        if (master == "local" || master.startsWith("local[")) jvmHeap
        // a unitless spark.executor.memory is MiB, as Spark reads it
        else conf.getSizeAsMb("spark.executor.memory", "1g") << 20
      pageSizeBytes(((heap - (300L << 20)) *
        conf.getDouble("spark.memory.fraction", 0.6)).toLong,
        Platform.LONG_ARRAY_OFFSET)
    }
}
