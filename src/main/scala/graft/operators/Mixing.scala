package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.TopK

/** Dataset-mixing operators for training-corpus assembly: deterministic
  * CONTENT-HASH sampling and split assignment. `rand()`-based sampling
  * is seed- and partitioning-dependent and unreproducible across
  * engines; hashing the ID into a bucket makes the decision a pure
  * function of the row — the same document lands in the same
  * sample/split on every engine, every rerun, every cluster size, and
  * survives incremental reprocessing (a re-crawled doc keeps its split,
  * so train/test contamination cannot creep in across pipeline runs).
  * md5 is used (not xxhash64/murmur) because every engine agrees on it
  * byte-for-byte — the oracle checks these queries hash-exactly.
  */
object Mixing {

  /** Stable bucket in [0, buckets): first 8 hex chars of md5(id ++
    * salt) as an integer, mod buckets. Engine-portable (md5 + hex
    * parse + mod). `salt` makes INDEPENDENT decisions from the same
    * id: two unsalted hashes of one id are the SAME value, so e.g.
    * sampling and split assignment would correlate perfectly (a 0.5
    * sampling rate would leave zero val/test rows — every surviving
    * bucket is below the train threshold too). The empty default keeps
    * existing decisions byte-stable. */
  def hashBucket(id: Column, buckets: Int = 10000,
      salt: String = ""): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8),
      16, 10).cast("long") % buckets

  /** Per-stratum deterministic sampling: keep a row iff its hash
    * bucket falls under its stratum's rate. Rates ride as a broadcast
    * dimension (stratum, rate-per-mille); strata absent from `rates`
    * are DROPPED (explicit mixing weights, like a data-mixture config).
    * One broadcast join + a row-local predicate — no shuffle of the
    * corpus, no rand(). */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      rates: Map[String, Double], idCol: String, buckets: Int = 1000,
      keepBucketCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.toDF(stratumCol, "__rate")
    // bucket computed ONCE as a column (Catalyst does not CSE an
    // expression repeated across Filter and Project, and callers often
    // want the bucket in the output — md5 per row is not free)
    val bucketed = df.join(broadcast(rateDf), stratumCol)
      .withColumn("__bucket", hashBucket(col(idCol), buckets))
      .where(col("__bucket") < (col("__rate") * buckets).cast("long"))
      .drop("__rate")
    keepBucketCol match {
      case Some(name) => bucketed.withColumnRenamed("__bucket", name)
      case None => bucketed.drop("__bucket")
    }
  }

  /** The md5-prefix RANK value behind quota sampling: first 8 hex
    * chars of md5(id) as a number in [0, 2^32). Ordering by the md5
    * hex STRING equals ordering by this number (fixed-length lowercase
    * hex), which is what makes the prefiltered variant exact. */
  private[operators] def hashRankValue(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Per-stratum QUOTA sampling (balanced mixtures: "exactly N docs of
    * each source", the fixed-size complement of [[stratifiedSample]]'s
    * rates): keep each stratum's first `quota` rows in deterministic
    * md5 order — a pure function of ids, reproducible cross-engine,
    * stable under reprocessing. Strata absent from `quotas` are
    * DROPPED (explicit mixture config, as with rates).
    *
    * Plan: one broadcast join + one window. The window partitions by
    * STRATUM — one reducer per stratum, fine up to tens of millions of
    * rows per stratum; a 100-TB corpus with billions of rows per
    * stratum uses [[quotaSamplePrefiltered]], which bounds each
    * window partition at ~slack×quota rows. */
  def quotaSample(df: DataFrame, stratumCol: String,
      quotas: Map[String, Int], idCol: String,
      rankCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qDf = quotas.toSeq.toDF(stratumCol, "__quota")
    quotaTake(df.join(broadcast(qDf), stratumCol), stratumCol, idCol,
      rankCol, "__quota")
  }

  /** The take every quota sampler ends with: keep each stratum's first
    * `quotaCol` rows of `joined` (the rows with their stratum's quota
    * joined on) in the deterministic md5 order, ties by id, through
    * [[TopK.perKey]]; the quota and `helperCols` go, the rank
    * stays as `rankCol` or goes. */
  private def quotaTake(joined: DataFrame, stratumCol: String,
      idCol: String, rankCol: Option[String], quotaCol: String,
      helperCols: String*): DataFrame =
    TopK.perKey(joined, Seq(col(stratumCol)),
        Seq(md5(col(idCol).cast("string")), col(idCol)), col(quotaCol),
        rankCol)
      .drop(quotaCol +: helperCols: _*)

  /** [[quotaSample]] for strata too large to sort in one window
    * partition — SAME rows out, 100-TB plan: the md5 rank prefix is
    * uniform on [0, 2^32), so the stratum's true top-`quota` rows
    * almost surely sit below the value threshold
    * T = slack × quota/count × 2^32; rows are prefiltered ROW-LOCALLY
    * on that broadcast threshold and only ~slack×quota survivors per
    * stratum reach the window. Exactness is VERIFIED, not hoped:
    * #(survivors) >= min(quota, count) per stratum implies the true
    * top-`quota` all survived (they are exactly the smallest rank
    * values); any stratum failing the check (probability exp(-Θ(slack·
    * quota)) by Chernoff) is re-run through the unfiltered window and
    * unioned back — correct even then, just slower. Two bounded driver
    * actions (per-stratum counts, per-stratum survivor counts: rows =
    * #strata) buy a corpus-scan-sized reduction of the window input. */
  def quotaSamplePrefiltered(df: DataFrame, stratumCol: String,
      quotas: Map[String, Int], idCol: String,
      rankCol: Option[String] = None,
      slack: Double = 4.0): DataFrame = {
    require(slack >= 1.0, s"slack must be >= 1, got $slack")
    val spark = df.sparkSession
    import spark.implicits._
    val full = 1L << 32
    val counts = df.groupBy(stratumCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val thresholds = quotas.flatMap { case (stratum, quota) =>
      counts.get(stratum).map { cnt =>
        val t =
          if (cnt <= quota.toLong * math.max(slack, 2.0)) full
          else math.min(full.toDouble,
            math.ceil(slack * quota.toDouble / cnt.toDouble * full))
            .toLong
        (stratum, quota, t)
      }
    }.toSeq
    if (thresholds.isEmpty)
      return quotaSample(df, stratumCol, quotas, idCol, rankCol)
    val tDf = broadcast(thresholds.toDF(stratumCol, "__quota", "__t"))
    val joined = df.join(tDf, stratumCol)
    // pinned across its two reads (verification count + the window)
    // until the next invocation — an early unpersist would only force
    // a recompute, but the survivor set is ~slack×quota rows per
    // stratum, well worth keeping warm for the caller's action
    val survivors = joined
      .where(hashRankValue(col(idCol)) < col("__t"))
    lastQuotaRelease.pins(survivors.sparkSession).pin(survivors)
    val got = survivors.groupBy(stratumCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val failed = thresholds.collect {
      case (stratum, quota, t) if t < full &&
        got.getOrElse(stratum, 0L) <
          math.min(quota.toLong, counts(stratum)) => stratum
    }
    val windowInput =
      if (failed.isEmpty) survivors
      else survivors.where(!col(stratumCol).isin(failed: _*))
        .unionByName(joined.where(col(stratumCol).isin(failed: _*))
          .withColumn("__t", lit(full)))
    quotaTake(windowInput, stratumCol, idCol, rankCol, "__quota", "__t")
  }

  private val lastQuotaRelease = ReleaseSlot()

  /** Temperature-scaled mixture sampling (the mT5 / Pile recipe):
    * stratum s gets quota_s = floor(target * w_s / sum(w)) where
    * w_s = count_s^alpha — alpha < 1 flattens the source distribution
    * (upweights rare strata), alpha = 1 is proportional, alpha = 0
    * uniform. Rows are taken per stratum by the same deterministic
    * md5-rank order as [[quotaSample]]; a quota larger than the
    * stratum (alpha flattening a skewed mix) caps at the stratum size
    * — sampling WITHOUT replacement, the upsampling decision belongs
    * to the epoch scheduler, not the corpus builder.
    *
    * Fixed alpha = 0.5 (sqrt): IEEE sqrt is exactly rounded, so the
    * weight is bit-identical in any engine; a generic pow(c, alpha)
    * carries last-ulp divergence. Weights then quantize to integer
    * micro-units BEFORE summing — sum(w) is a long sum (associative,
    * cross-engine exact) and each quota is one integer floor-divide:
    * the whole quota vector is deterministic to the bit.
    *
    * Plan: one stratum-count aggregate (strata-sized), driver-free —
    * counts, weights, total, and quotas stay in a broadcast frame —
    * then the per-stratum rank window. Strata counts are tiny by
    * definition (one row per source), so the only corpus-sized work
    * is the window, same shape as [[quotaSample]]. */
  def temperatureMixtureSqrt(df: DataFrame, stratumCol: String,
      idCol: String, target: Long,
      rankCol: Option[String] = None): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__cnt"))
    val weighted = counts.withColumn("__wq",
      floor(sqrt(col("__cnt")) * 1e6 + 0.5).cast("long"))
    val total = weighted.agg(sum(col("__wq")).as("__wtot"))
    val quotas = weighted.crossJoin(broadcast(total))
      .withColumn("__quota",
        expr(s"($target * __wq) DIV __wtot"))
      .select(col(stratumCol), col("__quota"))
    quotaTake(df.join(broadcast(quotas), stratumCol), stratumCol, idCol,
      rankCol, "__quota")
  }

  /** Water-filling quota vector: the LARGEST uniform cap `c` such
    * that sum over strata of min(count_s, c) fits `target`, with the
    * integer remainder spread one row each over the first capped
    * strata in (count, stratum) order. The balanced-mixture
    * complement of [[temperatureMixtureSqrt]]: instead of scaling
    * quotas BY size, it levels them — small sources keep everything,
    * large sources are clipped to the common water line (the
    * "uniform cap" rebalancing used when one crawl source would
    * otherwise drown the mixture).
    *
    * Closed form, no iteration: sort strata ascending by count; a
    * stratum is capped iff taking its full count for it AND every
    * later (larger) stratum would overflow the target —
    * prefix + slots × count > target. Capped strata form a suffix of
    * the sort order, so the first capped row pins the water line:
    * cap = (target - prefix_before_it) DIV remaining-slots, remainder
    * spread 1-each from it onward. Everything is integer arithmetic
    * over the STRATA COUNT table (one row per source — the windows
    * below are single-partition but strata-sized, never corpus-
    * sized), so the vector is bit-deterministic cross-engine.
    *
    * Output: (stratumCol, quota) with sum(quota) = min(target,
    * total rows) and quota <= count per stratum. */
  def waterFillQuotas(df: DataFrame, stratumCol: String,
      target: Long): DataFrame = {
    require(target >= 0, s"target must be >= 0, got $target")
    import org.apache.spark.sql.expressions.Window
    val ordered = Window.orderBy(col("__cnt"), col(stratumCol))
    val whole = Window.partitionBy()
    df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__cnt"))
      .withColumn("__i", row_number().over(ordered).cast("long"))
      .withColumn("__pb", coalesce(sum(col("__cnt")).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__m", count(lit(1)).over(whole))
      .withColumn("__capped",
        col("__pb") + (col("__m") - col("__i") + 1) * col("__cnt") >
          lit(target))
      // prefix sums are increasing in __i, so min over the capped
      // rows picks the FIRST capped row's index and prefix together
      .withColumn("__ji",
        min(when(col("__capped"), col("__i"))).over(whole))
      .withColumn("__jpb",
        min(when(col("__capped"), col("__pb"))).over(whole))
      .withColumn("quota",
        when(col("__ji").isNull || col("__i") < col("__ji"),
          col("__cnt"))
          .otherwise(
            expr(s"($target - __jpb) DIV (__m - __ji + 1)") +
              when(col("__i") - col("__ji") <
                expr(s"($target - __jpb) % (__m - __ji + 1)"), 1L)
                .otherwise(0L)))
      .select(col(stratumCol), col("quota"))
  }

  /** [[waterFillQuotas]] applied: keep each stratum's first `quota`
    * rows in the deterministic md5 order (the [[quotaSample]] take).
    * One strata-sized aggregate + broadcast join + the per-stratum
    * rank window — the corpus shuffles once. */
  def waterFillMix(df: DataFrame, stratumCol: String, idCol: String,
      target: Long, rankCol: Option[String] = None): DataFrame = {
    val quotas = waterFillQuotas(df, stratumCol, target)
    quotaTake(df.join(broadcast(quotas), stratumCol), stratumCol, idCol,
      rankCol, "quota")
  }

  /** Deterministic train/val/test assignment by hash bucket:
    * [0, train) -> "train", [train, train+val) -> "val", rest "test".
    * Percentages in [0,1]; content-stable across reruns. The bucket is
    * SALTED (":split") so the decision is independent of every other
    * hash decision on the same id — unsalted, stratifiedSample at rate
    * r < trainPct would keep ONLY train rows (identical bucket values
    * on both sides of the composition, the mixAndSplit chain). */
  def assignSplit(id: Column, trainPct: Double, valPct: Double,
      buckets: Int = 1000): Column = {
    val b = hashBucket(id, buckets, salt = ":split")
    val trainHi = math.round(trainPct * buckets)
    val valHi = math.round((trainPct + valPct) * buckets)
    when(b < trainHi, "train")
      .when(b < valHi, "val")
      .otherwise("test")
  }
}
