package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact global per-key ranking WITHOUT per-key window partitions —
  * the scale primitive behind CCNet-style percentile bucketing
  * (Wenzek et al. 2020 split Common Crawl into head/middle/tail by
  * per-language perplexity terciles; reference analogue: the corpus-
  * wide orderings in `welearn_datastack` ledger queries, SURVEY §2
  * W1-W4/O1).
  *
  * Why not `ntile(k) OVER (PARTITION BY key ORDER BY ...)`: a window
  * partition is ONE task. With ~30 languages over a 100 TB corpus the
  * largest key holds several TB — a single sort task is not slow, it
  * is impossible. The classic two-phase ranking (the TeraSort offset
  * trick) computes the SAME total order from a range-partitioned
  * sort:
  *
  *   1. range-partition + sort on (key, score, id) — Spark's own
  *      `repartitionByRange`, so every partition holds a contiguous
  *      slice of the total order and scales by adding partitions;
  *   2. one pass counts rows per (partition, key). Because slices
  *      are contiguous, a key appears in at most a run of adjacent
  *      partitions: the collected summary has at most
  *      partitions + distinct-keys - 1 entries — bounded driver
  *      state, independent of row count;
  *   3. broadcast the per-(partition, key) prefix offsets and
  *      per-key totals; a second map-side pass assigns
  *      rank = offset + position-in-partition and folds the rank
  *      into the ANSI ntile bucket formula.
  *
  * The result is bit-identical to the window form (asserted by a
  * randomized equivalence spec) because rank depends only on the
  * total order, never on partition boundaries. Determinism: the sort
  * key ends with a unique id column, so the total order — and hence
  * every rank — is unique regardless of score ties.
  */
object ScalableRank {

  /** ANSI ntile: with n rows and k tiles, the first n mod k tiles get
    * ceil(n/k) rows, the rest floor(n/k); `rank` is 1-based. */
  private[graft] def ansiNtile(rank: Long, n: Long, k: Int): Int = {
    val q = n / k
    val rem = n % k
    if (rank <= (q + 1) * rem) ((rank - 1) / (q + 1) + 1).toInt
    // unreachable when q == 0: then rem == n and every rank is
    // covered by the first branch, so the division below is safe
    else (rem + (rank - 1 - (q + 1) * rem) / q + 1).toInt
  }

  /** `ntile(k) OVER (PARTITION BY keyCol ORDER BY scoreCol, idCol)`,
    * computed scalably. Output: the three input columns plus
    * `ntileCol` (int). `idCol` must be unique per key (it is the
    * deterministic tie-break). Null keys/scores sort first, matching
    * the window form's NULLS FIRST default. */
  def ntileByKey(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, k: Int, ntileCol: String = "ntile",
      partitions: Int = 0): DataFrame = {
    require(k >= 1, s"ntile needs k >= 1, got $k")
    rankCore(df, keyCol, scoreCol, idCol, ntileCol, partitions, Some(k))
  }

  /** `row_number() OVER (PARTITION BY keyCol ORDER BY scoreCol, idCol)`
    * through the same two-phase range-partitioned machinery — the
    * scale-safe form of a global (or per-key) dense ordering. A
    * CONSTANT `keyCol` gives the global total order: range
    * partitioning splits on (key, score, id), so a single key still
    * spreads across every partition by score, where the window form
    * would funnel the whole input through one task. Descending
    * orders: prefer [[globalRank]]/[[globalNtile]]'s `desc` flag
    * (engine DESC order, correct over the full value domain); a
    * caller-side score negation is only order-reversing for finite,
    * non-MinValue numerics (fine for the non-negative counts zipfFit
    * feeds it, wrong for NaN or Long.MinValue).
    * Output rank is LONG (global ranks overflow int at ~2.1B rows). */
  def rankByKey(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, rankCol: String = "rank",
      partitions: Int = 0): DataFrame =
    rankCore(df, keyCol, scoreCol, idCol, rankCol, partitions, None)

  /** Global (un-keyed) total-order rank: `row_number() OVER (ORDER BY
    * scoreCol [DESC], idCol)` without the single window task. Encodes
    * the constant-key recipe once — a synthetic `lit(0)` key (range
    * boundaries split on the score, so the one "group" still spreads
    * over every partition). `desc = true` sorts with the engine's own
    * DESC order (desc_nulls_last — the window form's DESC default),
    * never by negating the score: negation flips NaN to itself (NaN
    * would sort to the wrong end) and wraps MinValue integers, so it
    * is not order-reversing over the full value domain. Output:
    * (idCol, scoreCol, rankCol) — the synthetic columns never
    * escape. */
  def globalRank(df: DataFrame, scoreCol: String, idCol: String,
      rankCol: String = "rank", desc: Boolean = false,
      partitions: Int = 0): DataFrame =
    globalCore(df, scoreCol, idCol, rankCol, desc, partitions, None)

  /** Global (un-keyed) ANSI `ntile(k) OVER (ORDER BY scoreCol [DESC],
    * idCol)` through the same constant-key two-phase machinery; same
    * null contract as [[globalRank]]. */
  def globalNtile(df: DataFrame, scoreCol: String, idCol: String,
      k: Int, ntileCol: String = "ntile", desc: Boolean = false,
      partitions: Int = 0): DataFrame = {
    require(k >= 1, s"ntile needs k >= 1, got $k")
    globalCore(df, scoreCol, idCol, ntileCol, desc, partitions, Some(k))
  }

  private def globalCore(df: DataFrame, scoreCol: String, idCol: String,
      outCol: String, desc: Boolean, partitions: Int,
      kOpt: Option[Int]): DataFrame = {
    // the synthetic key/score names are internal but the prepped
    // select and the output re-select both resolve by NAME: an idCol
    // named like a synthetic (duplicate column in prepped) or equal to
    // scoreCol (duplicate column in the output) would yield ambiguous
    // resolution, not a wrong-but-silent rank — reject up front
    require(idCol != scoreCol,
      s"globalRank/globalNtile need distinct id and score columns; " +
        s"both were '$idCol'")
    require(idCol != "__g" && idCol != "__score",
      s"idCol '$idCol' collides with an internal synthetic column")
    require(outCol != idCol && outCol != scoreCol &&
      outCol != "__g" && outCol != "__score",
      s"output column '$outCol' collides with the id/score/internal " +
        s"columns")
    val prepped = df.select(lit(0).as("__g"),
      col(scoreCol).as("__score"), col(idCol))
    rankCore(prepped, "__g", "__score", idCol, outCol, partitions, kOpt,
        scoreDesc = desc)
      .select(col(idCol), col("__score").as(scoreCol), col(outCol))
  }

  /** Shared two-phase core: `kOpt = Some(k)` folds the rank into the
    * ANSI ntile bucket (int column); `None` emits the rank itself
    * (long column). */
  private def rankCore(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, outCol: String, partitions: Int,
      kOpt: Option[Int], scoreDesc: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val scoreOrder =
      if (scoreDesc) col(scoreCol).desc else col(scoreCol).asc
    val proj = df.select(col(keyCol), col(scoreCol), col(idCol))
    // The input pipeline (often an expensive scoring query) is read
    // THREE times: range-boundary sampling, shuffle write, and — only
    // if a later stage retries — recompute. Pinned until the next
    // invocation.
    lastRelease.pins(proj.sparkSession).pin(proj)
    val sorted = proj
      .repartitionByRange(p, col(keyCol).asc, scoreOrder,
        col(idCol).asc)
      .sortWithinPartitions(col(keyCol).asc, scoreOrder,
        col(idCol).asc)
    // ONE RDD object for both passes: the second job's stages up to
    // the range exchange are skipped (shuffle files are reused), so
    // the counting pass is the only extra full read.
    val rdd = sorted.rdd
    // pass 1: run-length key counts per partition (keys are contiguous
    // within a sorted partition, so this is a single streaming scan)
    val segs: Array[(Int, Any, Long)] = rdd
      .mapPartitionsWithIndex { case (pid, it) =>
        val out = ArrayBuffer.empty[(Int, Any, Long)]
        var cur: Any = null
        var started = false
        var cnt = 0L
        it.foreach { r =>
          val kv = r.get(0)
          if (!started || kv != cur) {
            if (started) out += ((pid, cur, cnt))
            cur = kv; cnt = 1L; started = true
          } else cnt += 1
        }
        if (started) out += ((pid, cur, cnt))
        out.iterator
      }.collect()
    // bounded driver state: <= partitions + distinct keys - 1 entries
    val totals: Map[Any, Long] =
      segs.groupBy(_._2).map { case (kv, xs) => kv -> xs.map(_._3).sum }
    val offsets: Map[(Int, Any), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
      segs.groupBy(_._2).foreach { case (kv, xs) =>
        var acc = 0L
        xs.sortBy(_._1).foreach { case (pid, _, cnt) =>
          m((pid, kv)) = acc
          acc += cnt
        }
      }
      m.toMap
    }
    val bTotals = spark.sparkContext.broadcast(totals)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val kk = kOpt
    // pass 2: assign rank = prefix offset + position; fold into the
    // ntile bucket when k is given, emit the raw rank otherwise
    val outRdd = rdd.mapPartitionsWithIndex { case (pid, it) =>
      val tot = bTotals.value
      val off = bOffsets.value
      var cur: Any = null
      var started = false
      var local = 0L
      it.map { r =>
        val kv = r.get(0)
        if (!started || kv != cur) { cur = kv; started = true; local = 0L }
        local += 1
        val rank = off((pid, kv)) + local
        val v: Any = kk match {
          case Some(k) => ansiNtile(rank, tot(kv), k)
          case None => rank
        }
        Row.fromSeq(r.toSeq :+ v)
      }
    }
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol,
        if (kOpt.isDefined) IntegerType else LongType,
        nullable = false))
    spark.createDataFrame(outRdd, schema)
  }

  private val lastRelease = ReleaseSlot()
}
