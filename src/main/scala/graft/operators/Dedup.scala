package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.TopK
import graft.functions.TextMetrics

/** Deduplication operators for corpus-scale training-data pipelines
  * (BASELINE.json north star; the reference itself only dedups by unique
  * URL — S16, nodes_helpers/collect.py:11-34 — these generalize that to
  * content-level exact and near-dup).
  *
  * Scale design: every variant is a hash-partitioned shuffle on a derived
  * key (fingerprint / band bucket), never an O(N^2) cross join. Pair
  * generation happens only WITHIN buckets, and bucket skew is bounded by
  * the band hashing. All hashes are Spark built-ins (xxhash64/md5) —
  * codegen'd, no UDFs.
  */
object Dedup {

  /** Exact dedup via content fingerprint: one row per distinct normalized
    * text, keeping the smallest id as representative. Single shuffle. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextMetrics.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("representative_id"),
        count(lit(1)).as("dup_count"))

  /** The consuming form of exact dedup: the corpus with one surviving
    * row per distinct normalized text (smallest id wins — same
    * representative rule as `exact`). What a training-data pipeline
    * actually materializes after q20's group census. */
  def dedupKeepFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    TopK.perKey(df.withColumn("__fp", TextMetrics.fingerprint(col(textCol))),
      Seq(col("__fp")), Seq(col(idCol).asc), lit(1))
      .drop("__fp")

  /** INCREMENTAL exact dedup — the production shape at 100 TB: a new
    * batch dedups against an already-indexed snapshot WITHOUT touching
    * the snapshot's rows (re-running keep-first over snapshot ∪ batch
    * would reshuffle the whole historical corpus every ingest).
    * Survivors = batch rows that are (a) first within the batch for
    * their fingerprint (min id — the dedupKeepFirst rule) and (b)
    * absent from the snapshot's fingerprint set.
    *
    * Plan: fingerprints are row-local (codegen'd md5); the snapshot
    * side reduces to DISTINCT fingerprints before the anti join (the
    * join ships one hash per distinct historical text, not the
    * corpus); the batch side pays one keep-first shuffle on its OWN
    * size. In a real deployment the distinct-fingerprint table is the
    * persisted index this reads (IvfIndex-style artifact); the
    * semantics here are what that index must answer. */
  def dedupIncremental(batch: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val seen = snapshot
      .select(TextMetrics.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    TopK.perKey(
        batch.withColumn("__fp", TextMetrics.fingerprint(col(textCol))),
        Seq(col("__fp")), Seq(col(idCol).asc), lit(1))
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Distinct word n-gram shingles per document, exploded:
    * (id, shingle). Row-local single-pass UDF: the declarative
    * `transform(sequence(...), i => slice(split(text), ...))`
    * formulation re-evaluates the split-expression tree PER ARRAY
    * ELEMENT (higher-order lambdas get no codegen and no CSE), turning
    * an O(words) pass into O(words^2) regex work — 13x slower at
    * sf0.1. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(shingleStringsUdf(n)(col(textCol))).as("shingle"))

  private[operators] def shingleWords(text: String, n: Int): Array[String] =
    if (text == null) Array.empty
    else {
      val w = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
      if (w.length < n) Array.empty
      else Array.tabulate(w.length - n + 1)(i =>
        w.slice(i, i + n).mkString(" "))
    }

  private def shingleStringsUdf(n: Int) =
    org.apache.spark.sql.functions.udf { (text: String) =>
      shingleWords(text, n).distinct
    }

  /** Distinct 64-bit shingle hashes, ASCENDING sorted: hash every
    * shingle into a primitive long array, sort, dedup in place — no
    * boxing, no tree/hash-set garbage (the TreeSet/LinkedHashSet forms
    * allocated a node per shingle on the hottest dedup path; this is
    * pure primitive work). Shared by the exact, capped, and prefix
    * jaccard variants (prefix REQUIRES the ascending order; the others
    * are order-insensitive). */
  private def sortedDistinctHashes(text: String, n: Int): Array[Long] = {
    val grams = shingleWords(text, n)
    if (grams.isEmpty) return Array.emptyLongArray
    val hs = new Array[Long](grams.length)
    var i = 0
    while (i < grams.length) {
      val sh = grams(i)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x51ab5)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x7e11a)
      hs(i) = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
  }

  /** Distinct 64-bit shingle hashes per doc (order-insensitive set).
    * Hash identity is engine-internal: set sizes and intersections —
    * the quantities Jaccard needs — are preserved up to 2^-64-odds
    * collisions. */
  private def shingleHashesUdf(n: Int) =
    org.apache.spark.sql.functions.udf { (text: String) =>
      sortedDistinctHashes(text, n)
    }

  /** The final jaccard filter keeps pairs whose 4-dp ROUNDED score
    * clears the threshold — a true J as low as threshold - 5e-5 - 1e-9
    * still rounds up to it. Every PRE-filter (the size-compatibility
    * prune, the prefix length) must therefore be conservative against
    * this bound, not the raw threshold: pruning with the raw value
    * discards borderline pairs the oracle keeps (|A|=9999 ⊆ |B|=19999
    * at t=0.5: max J = 0.499975 < 0.5 fails the raw prune but rounds
    * to 0.5000 and passes the final filter). */
  private def roundSlackThreshold(threshold: Double): Double =
    threshold - 5.0001e-5

  /** One-pass pair emitter over a per-shingle member list, with the
    * size-compatibility prune (J <= min(sz)/max(sz)) applied inline.
    * The declarative nested-transform/slice formulation was interpreted
    * per element (HOF lambdas get no codegen) and copied an array slice
    * per outer element — O(d^2) boxed copies per shingle group. Java-UDF
    * form keeps the member id type generic (works for long or string
    * ids). Members arrive sorted (sort_array upstream), so emitted pairs
    * keep id_a < id_b. */
  private def pairEmitUdf(idType: org.apache.spark.sql.types.DataType,
      threshold: Double) = {
    import org.apache.spark.sql.types._
    val out = ArrayType(StructType(Seq(
      StructField("id_a", idType), StructField("sz_a", IntegerType),
      StructField("id_b", idType), StructField("sz_b", IntegerType))))
    val tEff = roundSlackThreshold(threshold)
    org.apache.spark.sql.functions.udf(
      new org.apache.spark.sql.api.java.UDF1[scala.collection.Seq[
        org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]] {
        override def call(ms: scala.collection.Seq[
            org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
          val m = ms.length
          val buf = new scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.Row]()
          var i = 0
          while (i < m) {
            val a = ms(i); val szA = a.getInt(1)
            var j = i + 1
            while (j < m) {
              val b = ms(j); val szB = b.getInt(1)
              val lo = math.min(szA, szB); val hi = math.max(szA, szB)
              if (lo >= hi * tEff)
                buf += org.apache.spark.sql.Row(
                  a.get(0), szA, b.get(0), szB)
              j += 1
            }
            i += 1
          }
          buf.toArray
        }
      }, out)
  }

  /** n-gram Jaccard near-dup pairs above `threshold`. Exact (no hashing
    * approximation): per-shingle doc-id lists → pair explosion →
    * per-pair intersection count → Jaccard from set sizes. Only docs
    * sharing >=1 shingle ever pair up, so work is bounded by shingle
    * co-occurrence, not N^2. Skew note: a shingle shared by d documents
    * contributes d^2/2 pairs in ANY exact formulation — at corpus scale,
    * cap df (drop stop-shingles, documented semantics change) or use
    * minhashLshPairs, which is the designed 100-TB path.
    *
    * Duplication-adaptive through [[adaptiveSelfPairs]]: under mass
    * duplication every shingle's df multiplies by the clique size and
    * the per-shingle d^2/2 emission goes quadratic PER CLIQUE, so docs
    * with byte-identical shingle sets contract to one representative
    * before co-occurrence pair generation. The contracted output
    * re-expands from class membership, bit-identical to the all-pairs
    * result (intra-class pairs are J = round(1 + 1e-9, 4) = 1.0 by
    * construction; cross-class scores equal the rep pair's because
    * members share their rep's exact shingle set). Same input contract
    * as [[EditDistanceJoin.selfJoin]]: `df` must be deterministic under
    * re-execution, and repeated ids keep the uncontracted plan. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    requireJaccardThreshold(threshold)
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    // Row-local shingle set (distinct 64-bit hashes — smaller shuffle
    // payload than strings, collision odds ~1e-8 at corpus scale),
    // sorted ascending so identical sets are identical ARRAYS — the
    // canonical grouping key the contraction needs.
    val slim = df.select(col(idCol).as("id"),
        shingleHashesUdf(n)(col(textCol)).as("shs"))
      .where(size(col("shs")) > 0)
      .withColumn("sz", size(col("shs")))
    adaptiveSelfPairs(
      df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("dg")),
      slim, "id", Seq("shs"),
      sets => jaccardPairsOverSets(df, sets, idType, threshold),
      lit(1.0), "jaccard", pairsSlot.pins(df.sparkSession))
  }

  /** Jaccard's codomain is (0, 1]: outside it the score filter is
    * vacuous or empty, and the contraction's unconditional intra-class
    * J = 1.0 emission would disagree with an uncontracted threshold > 1
    * filter. Reject, don't guess. */
  private def requireJaccardThreshold(threshold: Double): Unit =
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1]; got $threshold")

  /** The exact co-occurrence pipeline over a prepared (id, shs, sz)
    * sets frame. `source` is the operator's uncached input, the frame
    * the re-spread gate probes. */
  private def jaccardPairsOverSets(source: DataFrame, sets: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double): DataFrame = {
    // carrying sz through the pipeline eliminates the separate per-doc
    // size aggregation and the two size joins of the naive formulation
    // (6 exchanges -> 2)
    val byShingle = memberLists(
      sets.select(col("id"), col("sz"), explode(col("shs")).as("h")))
    // re-spread before the pair explosion: AQE coalesces the (small)
    // per-shingle aggregate into few partitions, which would serialize
    // the (large) exploded pair stream through one task. Scale-gated:
    // on a multi-split corpus the groupBy's own shuffle already
    // spreads. Gated on the uncached input: `sets` is a cache of it (or
    // of its class representatives), already spread, which says
    // nothing of how AQE coalesces the aggregate.
    cooccurrencePairs(Fan.ifNarrow(source, byShingle), idType, threshold)
  }

  /** Per-shingle member lists over (id, sz, h) rows: one
    * sort_array(collect_list(struct(id, sz))) per shingle shared by at
    * least two docs. Pair generation via member lists + map-side
    * explode is one shuffle on the shingle hash; an equivalent
    * self-join doubles the shuffle and was 3-5x slower cold at sf0.1. */
  private def memberLists(rows: DataFrame): DataFrame =
    rows.groupBy("h")
      .agg(sort_array(collect_list(struct(col("id"), col("sz"))))
        .as("ms"))
      .where(size(col("ms")) > 1)

  /** The co-occurrence tail shared by every exact Jaccard emitter:
    * member lists (already spread by the caller) → size-pruned pair
    * emission → intersection count per pair → thresholded score. */
  private def cooccurrencePairs(byShingle: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double): DataFrame =
    jaccardAbove(byShingle
      .select(explode(pairEmitUdf(idType, threshold)(col("ms"))).as("p"))
      .select(col("p.*"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter")), threshold)

  /** (id_a, id_b, jaccard) of the pairs whose rounded Jaccard clears
    * `threshold`, scored from (inter, sz_a, sz_b). The 4-dp rounding
    * with the 1e-9 nudge is the one the oracle SQL replays. */
  private def jaccardAbove(pairs: DataFrame, threshold: Double)
      : DataFrame =
    pairs
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double") + 1e-9, 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Exact jaccard pairs via PREFIX FILTERING (SSJoin/PPJoin): under a
    * common global order of shingles, any pair with J >= t shares an
    * element within each side's first `sz - ceil(t*sz) + 1` shingles
    * (if the smallest common element e sat beyond A's prefix, every
    * prefix element of A would be absent from B, so the intersection
    * could not reach t*|A|). Only prefixes are exploded and bucket-
    * joined — at t=0.8 that is ~20% of the shingle rows and a far
    * smaller candidate set than full co-occurrence — then candidates
    * verify with ONE row-local merge-scan of the two sorted hash
    * arrays instead of a count shuffle over every shared shingle.
    * Same output as jaccardPairs (pinned by spec); the economical
    * formulation for high thresholds. At low thresholds the prefix is
    * nearly the whole set — use jaccardPairs there.
    *
    * Duplication-adaptive through [[adaptiveSelfPairs]]: mass
    * duplication turns every prefix shingle into a stop-shingle
    * (df = clique size x classes) and candidate emission goes
    * quadratic per shingle, so docs with identical shingle sets
    * contract to one representative before prefix generation and the
    * output re-expands from class membership — bit-identical to the
    * all-pairs result. The census digests xxhash64 over the persisted
    * SHINGLE-SET arrays, not the text: the operator persists its sets
    * anyway, so the census rides that cache (no second text scan), and
    * it contracts strictly more (byte-different docs with identical
    * shingle sets share a digest class too). */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    requireJaccardThreshold(threshold)
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    val sets = df.select(col(idCol).as("id"),
        shingleHashesUdf(n)(col(textCol)).as("shs"))
      .where(size(col("shs")) > 0)
      .withColumn("sz", size(col("shs")))
    // pinned: three plan branches read it (prefix explode + both
    // verify-join sides) — without the persist the shingling UDF runs
    // over the full corpus three times
    val pins = prefixSlot.pins(df.sparkSession)
    pins.pin(sets)
    adaptiveSelfPairs(
      sets.select(col("id"), xxhash64(col("shs")).as("dg")),
      sets, "id", Seq("shs"),
      s => prefixPairsOverSets(df, s, idType, threshold),
      lit(1.0), "jaccard", pins)
  }

  /** The PPJoin prefix -> candidate -> verify pipeline over a prepared
    * (id, shs, sz) sets frame (persisted by the caller — three plan
    * branches read it). `source` is the operator's uncached input, the
    * frame the re-spread gate probes. */
  private def prefixPairsOverSets(source: DataFrame, sets: DataFrame,
      idType: org.apache.spark.sql.types.DataType,
      threshold: Double): DataFrame = {
    // prefix computed against the round-slack threshold (see
    // roundSlackThreshold): a marginally longer prefix, never a
    // dropped borderline pair
    val prefixLen =
      (col("sz") - ceil(col("sz") * roundSlackThreshold(threshold)) + 1)
        .cast("int")
    val byShingle = memberLists(sets.select(col("id"), col("sz"),
      explode(slice(col("shs"), lit(1), greatest(prefixLen, lit(1))))
        .as("h")))
    // scale-gated re-spread — same rationale as jaccardPairsOverSets
    val cand = Fan.ifNarrow(source, byShingle)
      .select(explode(pairEmitUdf(idType, threshold)(col("ms"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    // merge-join hints: the persisted sets frame carries multi-KB
    // shingle arrays per row, and the static planner's optimistic
    // cached-relation stats can pick a BROADCAST build for it — a
    // driver collect of the whole corpus's arrays (1.8 GB at the 30x
    // tier, killed by maxResultSize; AQE cannot demote a cached-side
    // broadcast because there is no shuffle stage to re-plan). Sort-
    // merge keeps both sides spillable at any corpus size.
    jaccardAbove(cand
      .join(sets.select(col("id").as("id_a"), col("shs").as("shs_a"),
        col("sz").as("sz_a")).hint("merge"), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shs").as("shs_b"),
        col("sz").as("sz_b")).hint("merge"), "id_b")
      .withColumn("inter", graft.expr.VectorOps.intersectSortedLongs(
        col("shs_a"), col("shs_b"))), threshold)
  }

  /** All i<j member pairs of one contracted class. Members arrive
    * sorted by sort_array (Catalyst ordering — the same order
    * pairEmitUdf's upstream sort_array uses), so emitted pairs keep
    * id_a < id_b under the engine's own type ordering. */
  private[operators] def classPairUdf(idType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    val out = ArrayType(StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType))))
    org.apache.spark.sql.functions.udf(
      new org.apache.spark.sql.api.java.UDF1[scala.collection.Seq[Any],
          Array[org.apache.spark.sql.Row]] {
        override def call(ms: scala.collection.Seq[Any])
            : Array[org.apache.spark.sql.Row] = {
          val m = ms.length
          val buf = new scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.Row]((m * (m - 1)) / 2)
          var i = 0
          while (i < m) {
            var j = i + 1
            while (j < m) {
              buf += org.apache.spark.sql.Row(ms(i), ms(j)); j += 1
            }
            i += 1
          }
          buf.toArray
        }
      }, out)
  }

  private val prefixSlot = ReleaseSlot()

  /** How [[censusRoute]] routes a corpus. */
  private[graft] sealed trait Route
  /** No digest class holds two rows: contraction cannot change
    * anything, so the caller keeps its original plan. */
  private[graft] case object DupFree extends Route
  /** An id repeats (gated callers only): the membership lift's
    * bit-identity proof needs ids that identify rows — a repeated id
    * lifts per OCCURRENCE and can forge (x, x) self-pairs — so the
    * caller keeps its original plan. */
  private[graft] case object RepeatedIds extends Route
  /** The split frame's suspects (`hot`) and the rest (`cold`). */
  private[graft] final case class Contract(hot: DataFrame,
      cold: DataFrame, tier: Tier) extends Route

  /** Which suspect routing [[censusRoute]] picked. */
  private[graft] sealed trait Tier
  /** Suspect ids ride a literal IN filter, collected to the driver. */
  private[graft] case object InSet extends Tier
  /** Suspect ids pin and feed broadcast semi/anti joins. */
  private[graft] case object BroadcastIds extends Tier
  /** Every row is hot: all rows a suspect, or too many to broadcast. */
  private[graft] case object GroupAll extends Tier

  /** The one duplication census and router of the adaptive operators
    * ([[adaptiveSelfPairs]] and [[jaccardSpanningEdges]]).
    *
    * `census` is an (`idCol`, dg) frame whose `dg` fingerprints each
    * row. It is pinned, so the fingerprint scan runs once however many
    * census passes read it, and released once the route is known. ONE
    * aggregation job answers both census totals and, when `gated`, the
    * ids-unique gate (a crossJoin of the two single-row aggregates over
    * the pinned census). The gate must stay GLOBAL (count_distinct over
    * ALL ids): with only per-class uniqueness, an id repeated across
    * two census classes — same id, different bytes — lets a lifted rep
    * pair expand into a (x, x) self-pair the uncontracted plan never
    * emits. Uniqueness over the raw rows implies uniqueness over any
    * filtered frame derived from them.
    *
    * The census is ROUTING ONLY in both directions: a digest collision
    * routes extra rows to the caller's exact grouping, and a class the
    * census misses stays uncontracted (quadratic for that class only).
    *
    * Suspects are the members of digest classes with more than one
    * row. The tiers, cheapest that fits the suspect count:
    *  - every row a suspect, or more than [[SpanningMaxLocalSuspects]]:
    *    group all rows (grouping is exact; routing only decides WHO);
    *  - at most [[SpanningInSetSuspects]]: a literal IN filter, kept
    *    well below the literal count where plan analysis and task
    *    serialization dominate (multi-MiB task binaries at 100k);
    *  - otherwise: the suspect ids pin and feed broadcast semi/anti
    *    joins, materialized first — the two concurrent broadcast builds
    *    would otherwise race past the lazy cache and each recompute the
    *    census join.
    * `split(tier)` builds the frame the route splits into hot and cold;
    * it runs only when the route contracts. */
  private[graft] def censusRoute(census: DataFrame, idCol: String,
      gated: Boolean, pins: ReleaseSlot.Pins)(
      split: Tier => DataFrame): Route = {
    val cen = pins.pin(census)
    val stats = cen.groupBy("dg").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("c") > lit(1L), col("c"))).as("sus"))
    val tot = (if (!gated) stats else stats.crossJoin(cen.agg(
      count(lit(1)).as("nb"), count_distinct(col(idCol)).as("nids"))))
      .head()
    val n = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    val nSuspects = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    val dupIds = cen
      .join(cen.groupBy("dg").agg(count(lit(1)).as("c"))
        .where(col("c") > lit(1L)).select("dg"), "dg")
      .select(col(idCol))
    val route =
      if (nSuspects == 0L) DupFree
      else if (gated && tot.getLong(3) != tot.getLong(2)) RepeatedIds
      else if (nSuspects == n || nSuspects > SpanningMaxLocalSuspects) {
        val base = split(GroupAll)
        Contract(base, base.where(lit(false)), GroupAll)
      } else if (nSuspects <= SpanningInSetSuspects) {
        val ids = dupIds.collect().map(_.get(0)).filter(_ != null).toSeq
        // null-safety: coalesce the IN to false so the cold side (!in)
        // never drops rows — null ids match nothing and stay cold, as
        // under the broadcast tier's left_anti
        val in =
          if (ids.isEmpty) lit(false)
          else coalesce(col(idCol).isInCollection(ids), lit(false))
        val base = split(InSet)
        Contract(base.where(in), base.where(!in), InSet)
      } else {
        val suspects = pins.pin(dupIds)
        suspects.count()
        val base = split(BroadcastIds)
        Contract(base.join(broadcast(suspects), Seq(idCol), "left_semi"),
          base.join(broadcast(suspects), Seq(idCol), "left_anti"),
          BroadcastIds)
      }
    pins.unpin(cen)
    route
  }

  /** Duplication-adaptive self-pair harness: census → contract →
    * verify among representatives → re-expand, for every exact pair
    * emitter whose score is INVARIANT under byte-identical contraction
    * (J of identical shingle sets, hamming of identical signatures,
    * cosine of identical vectors, edit distance 0 of identical strings).
    *
    * `slim` is the operator's prepared per-doc frame: an `idCol`
    * column plus the exact contraction key columns (`keyCols`) plus
    * any derived payload columns (functions of the key — carried via
    * first() through the class agg). `census` is a SEPARATE cheap
    * (`idCol`, dg) frame, routed by [[censusRoute]] with the ids gate.
    * In practice dg is xxhash64 of the raw text, a native codegen'd
    * scan that runs BEFORE the operator's (expensive) signing UDF: a
    * derived-key census re-ran the signing UDF just to answer "any
    * dups?", doubling every dup-free corpus's dominant cost. What the
    * census MUST catch for the scale protection to engage is
    * byte-identical replication — mass duplication, the regime that
    * kills the quadratic emitters — and any row-level fingerprint does.
    *
    * `core` runs the operator's original pipeline over a slim-shaped
    * frame and must return (id_a, id_b, `scoreName`) with id_a < id_b
    * canonical order. `intraScore` is the constant the uncontracted
    * plan provably computes for two rows with identical keys.
    *
    * A dup-free or repeated-id corpus pays ONE census aggregation and
    * keeps the original plan with nothing pinned. The heavy slim frame
    * is persisted only on the tiers that re-read it wholesale
    * (broadcast, group-all), and only when the caller has not already;
    * on the IN-set tier the id predicate pushes below the signing UDF
    * and the plan keeps the original cost shape.
    *
    * Input contract (same as selfJoin): the input's lineage must be
    * deterministic under re-execution — the census and the dup-free
    * plan each re-read it. Nondeterministic or expensive inputs
    * should be persisted by the caller. */
  private[operators] def adaptiveSelfPairs(census: DataFrame,
      slim: DataFrame, idCol: String,
      keyCols: Seq[String],
      core: DataFrame => DataFrame, intraScore: Column,
      scoreName: String, pins: ReleaseSlot.Pins): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val idType = slim.schema(slim.schema.fieldIndex(idCol)).dataType
    val route = censusRoute(census, idCol, gated = true, pins) { tier =>
      if (tier == InSet || slim.storageLevel != StorageLevel.NONE) slim
      else pins.pin(slim)
    }
    val (hot, cold, tier) = route match {
      case Contract(h, c, t) => (h, c, t)
      case _ => return core(slim)
    }
    val payload = slim.columns
      .filterNot(c0 => c0 == idCol || keyCols.contains(c0))
    val aggs =
      Seq(min(col(idCol)).as("rep"),
        sort_array(collect_list(col(idCol))).as("members")) ++
        payload.map(p => first(col(p)).as(p))
    // exact classes: the FULL key, never the digest; rep = min member
    // under Catalyst's own type ordering (matches sort_array, least/
    // greatest, and classPairUdf's i<j emission)
    val classes = pins.pin(hot.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*))
    // materialized before the main query: the two broadcast lift
    // builds and the intra branches all read `classes` concurrently,
    // and a lazy persist loses that race — each build would recompute
    // the hot scan + signing + groupBy lineage instead of reading it
    classes.count()
    val reps = classes.select(slim.columns.toIndexedSeq.map {
      case c0 if c0 == idCol => col("rep").as(idCol)
      case other             => col(other)
    }: _*).union(cold)
    val repPairs = core(reps)
    // cast the intra constant to the score's EXACT type so the union
    // never widens the operator's declared schema
    val scoreType = repPairs.schema(
      repPairs.schema.fieldIndex(scoreName)).dataType
    val intraLit = intraScore.cast(scoreType).as(scoreName)
    val members = classes.select(col("rep"),
      explode(col("members")).as("m"))
    // lifts are LEFT joins with identity coalesce: a cold endpoint is
    // its own lift (it was never grouped). On the suspect tiers the
    // members frame is bounded by the suspect count (two scalar
    // columns — megabytes at the 1M cap), so an EXPLICIT broadcast
    // keeps the pair stream un-sorted and un-shuffled (a merge hint
    // here forced two full sorts of the operator's entire output); on
    // the group-all tier members spans the corpus, so sort-merge keeps
    // both sides spillable (and the hint matters: a static broadcast
    // pick off optimistic cached stats cannot be demoted by AQE).
    def liftSide(as: String, out: String) = {
      val m = members.select(col("rep").as(as), col("m").as(out))
      if (tier != GroupAll) broadcast(m) else m.hint("merge")
    }
    val cross = repPairs
      .join(liftSide("id_a", "xa"), Seq("id_a"), "left")
      .join(liftSide("id_b", "xb"), Seq("id_b"), "left")
      .withColumn("a2", coalesce(col("xa"), col("id_a")))
      .withColumn("b2", coalesce(col("xb"), col("id_b")))
      .select(least(col("a2"), col("b2")).as("id_a"),
        greatest(col("a2"), col("b2")).as("id_b"), col(scoreName))
    // intra-class pairs at the invariant constant, size-gated: the
    // shuffle-free explode builds one m(m-1)/2-element array PER ROW —
    // the fast path for ordinary cliques, an allocation cliff for
    // mega-classes (m=1e5 would build 5e9 Rows in one task) — so
    // classes past the cap stream their pairs through a rep-keyed
    // self-join instead (same set: members are distinct and `<` is the
    // Catalyst ordering sort_array used), spillable at any class size
    val smallIntra = classes.where(size(col("members")) > 1 &&
        size(col("members")) <= IntraExplodeCap)
      .select(explode(classPairUdf(idType)(col("members"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), intraLit)
    val bigMembers = classes.where(size(col("members")) > IntraExplodeCap)
      .select(col("rep"), explode(col("members")).as("m"))
    val bigIntra = bigMembers.select(col("rep"), col("m").as("id_a"))
      .join(bigMembers.select(col("rep"), col("m").as("id_b"))
        .hint("merge"), Seq("rep"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), intraLit)
    cross.unionByName(smallIntra).unionByName(bigIntra)
  }

  /** Release slots of the adaptive pair emitters (one in-flight
    * invocation per operator per session — the ReleaseSlot session
    * contract). */
  private val pairsSlot = ReleaseSlot()
  private val simhashPairsSlot = ReleaseSlot()
  private val portableEmbSlot = ReleaseSlot()
  private val lshPairsSlot = ReleaseSlot()
  private val portableLshPairsSlot = ReleaseSlot()

  /** jaccardPairs with a document-frequency cap on shingles: shingles
    * shared by more than `maxDocFreq` documents are EXCLUDED from both
    * pair generation and the per-doc set sizes (consistent semantics —
    * the score is exact Jaccard over the capped shingle space).
    *
    * Why: in any exact formulation a shingle shared by d docs emits
    * ~d^2/2 pairs; corpus-scale stop-shingles ("of the and") make that
    * quadratic blowup unbounded. Capping df bounds per-shingle work at
    * maxDocFreq^2/2 while near-dup recall is barely touched (a shingle
    * in thousands of docs carries no duplicate signal). This is the
    * 100-TB form of the exact path; minhashLshPairs remains the
    * approximate one. */
  def jaccardPairsCapped(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int): DataFrame = {
    val kept = cappedPostings(df, idCol, textCol, n, maxDocFreq)
    // df cap and per-doc sizes from AGGREGATIONS, not windows: a
    // window formulation (count OVER partitionBy(h), then count OVER
    // partitionBy(id)) pays two full exchange+sort passes over every
    // (doc, shingle) row before the pairing groupBy (+35% wall on
    // q83/q86/q119). The groupBy(h) in cappedPostings applies the cap
    // (sizes computed AFTER it so the Jaccard denominator matches the
    // capped universe), a groupBy(id) over the survivors counts sizes,
    // and the id-keyed equi-join ships only (id, sz).
    val sized = kept.groupBy("id")
      .agg(count(lit(1)).cast("int").as("sz"))
    val byShingle = memberLists(kept.join(sized, "id"))
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    cooccurrencePairs(byShingle.repartition(parts), idType, threshold)
  }

  /** (h, id) postings of every shingle held by at most `maxDocFreq`
    * documents. cappedCollect, NOT collect_list + size filter:
    * collect_list materializes the FULL posting list of every shingle
    * before the filter — a corpus-wide hot shingle would build a
    * multi-million-id array in one aggregation buffer (2 GB row limit /
    * OOM), exactly the skew the cap neutralizes. cappedCollect trips at
    * maxDocFreq+1, empties the buffer, and evaluates to NULL, so
    * per-shingle buffer memory is O(maxDocFreq) regardless of df. */
  private def cappedPostings(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Int): DataFrame =
    df.select(col(idCol).as("id"),
        shingleHashesUdf(n)(col(textCol)).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("id"), explode(col("shs")).as("h"))
      .groupBy("h")
      .agg(graft.expr.CappedCollect.cappedCollect(col("id"), maxDocFreq)
        .as("ids"))
      .where(col("ids").isNotNull)
      .select(col("h"), explode(col("ids")).as("id"))

  private val spanningSlot = ReleaseSlot()

  /** Bound on the suspect-id set the census router BROADCASTS for its
    * semi/anti routing joins (1M ids ≈ 8-40 MB); beyond it every row is
    * grouped instead — a corpus that duplication-heavy genuinely needs
    * it. */
  val SpanningMaxLocalSuspects: Int = 1000000

  /** Suspect sets at or under this size route via a literal IN-set
    * filter instead of broadcast joins — two fewer exchanges, and far
    * below the literal count where Catalyst plan analysis and task
    * serialization start to dominate. */
  val SpanningInSetSuspects: Int = 1000

  /** Largest exact-duplicate class whose intra-class J=1 pairs are
    * emitted via the single-row explode UDF (≤ ~524k structs per
    * row); larger classes stream their pairs through a rep-keyed
    * self-join so one mega-clique cannot OOM a task. */
  val IntraExplodeCap: Int = 1024

  /** Connectivity-sufficient edge set of the capped-Jaccard pair graph
    * (same universe/threshold semantics as [[jaccardPairsCapped]]),
    * with pair count LINEAR — not quadratic — per exact-duplicate
    * clique. This is the scale form the clustering composites
    * (connected components, leakage split) consume: they only need the
    * COMPONENTS of the pair graph, and a clique of c byte-identical
    * docs needs c-1 spanning edges, not c(c-1)/2.
    *
    * Construction (components provably identical to the full graph's):
    *  1. Contract exact classes: docs whose CAPPED shingle sets are
    *     identical are Jaccard-1 interchangeable — J(A,X) = J(B,X) for
    *     every X — so each class collapses to its min-id representative
    *     and contributes star edges rep→member (each a genuine J=1 ≥ t
    *     edge of the original graph).
    *  2. Emit thresholded pairs among REPRESENTATIVES only, over the
    *     per-shingle df cap computed on the FULL corpus (re-counting df
    *     on reps would shift the capped universe and change the graph).
    *
    * Every emitted edge is an edge of the original thresholded graph;
    * every original edge (X,Y) is covered by the path
    * X—rep(X)—rep(Y)—Y since J(rep(X),rep(Y)) = J(X,Y). Hence the
    * transitive closures — and any component labelling derived from
    * them — are identical, and the composites stay bit-identical to
    * their recursive-CTE oracles while the worst-case duplication
    * proof drops from quadratic to linear pair emission.
    *
    * Routing: [[censusRoute]] over an (id, xxhash64(text)) census,
    * without the ids gate (the per-doc frame is keyed by id, so a
    * repeated id cannot lift into a self-pair). A corpus with no
    * byte-identical docs cannot lose an edge to contraction, so it
    * emits the full capped pair graph through [[jaccardPairsCapped]]'s
    * plan — no per-doc cache, no array-key shuffles. Otherwise the
    * per-doc capped shingle set (`key`, the exact class key — array
    * equality, never a digest, which could merge distinct classes)
    * persists and the suspects contract. A doc the census misses stays
    * its own representative, and any >= t edge it has is emitted
    * directly by the pair stage, so mis-routing costs pair volume,
    * never edges. */
  def jaccardSpanningEdges(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Int): DataFrame = {
    val sess = df.sparkSession
    val pins = spanningSlot.pins(sess)
    val route = censusRoute(df.select(col(idCol).as("id"),
        xxhash64(col(textCol)).as("dg")), "id", gated = false, pins) { _ =>
      // per-doc capped shingle set (input hashes are sorted-distinct per
      // doc, so sort_array reconstructs canonical set identity) + size;
      // persisted because three branches read it (class grouping, the
      // rep frame, the rep-array explode for member lists)
      pins.pin(cappedPostings(df, idCol, textCol, n, maxDocFreq)
        .groupBy("id")
        .agg(sort_array(collect_list(col("h"))).as("key"),
          count(lit(1)).cast("int").as("sz")))
    }
    val edges = route match {
      case Contract(hot, cold, _) =>
        val (star, reps) = classStarReps(hot)
        // thresholded pairs among representatives, full-corpus capped
        // universe; member lists come from EXPLODING the reps' own
        // class-key arrays (key IS the rep's capped shingle set) — one
        // fewer shuffle join than re-joining the capped postings
        val byShingle = memberLists(reps
          .union(cold.select(col("id"), col("key"), col("sz")))
          .select(col("id"), col("sz"), explode(col("key")).as("h")))
        val parts = sess.sessionState.conf.numShufflePartitions
        val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
        star.union(cooccurrencePairs(byShingle.repartition(parts), idType,
          threshold).select("id_a", "id_b"))
      case _ =>
        jaccardPairsCapped(df, idCol, textCol, n, threshold, maxDocFreq)
          .select("id_a", "id_b")
    }
    // Planned outside its consumer's cache: every consumer persists
    // the edges, and a cached plan's final shuffle read is never
    // coalesced (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    // is off), so the class-window stage and each cache scan after it
    // ran spark.sql.shuffle.partitions tasks. Over `.rdd` the edges'
    // own adaptive plan coalesces; the Row round trip is output-scale.
    sess.createDataFrame(edges.rdd, edges.schema)
  }

  /** Exact-class star edges + representative frame over a prepared
    * (id, key, sz) frame: rep = min id per full-array key (window min
    * over the key partition); star edges rep→member for every non-rep
    * member; reps keep (id, key, sz).
    *
    * ONE exchange of the array key, not a groupBy(key){min} + equi-join
    * back: at the 100× mass-dup tier the window form reads q83
    * 13.2→8.1 s, q86 9.5→7.6, q119 10.9→8.1, q125 13.4→10.5 warm, and at
    * sf0.1 it is a wash. The collect_list single-exchange alternative
    * timed the same but buffers O(clique) ids in one aggregation row
    * (the 2 GB-row boundary the engine avoids elsewhere); WindowExec's
    * per-group buffer spills (ExternalAppendOnlyUnsafeRowBuffer), so
    * a mega-clique degrades to disk instead of dying. */
  private def classStarReps(hot: DataFrame): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
    val withRep = hot.withColumn("rep", min(col("id")).over(w))
    (withRep.where(col("id") =!= col("rep"))
       .select(col("rep").as("id_a"), col("id").as("id_b")),
     withRep.where(col("id") === col("rep"))
       .select(col("id"), col("key"), col("sz")))
  }

  /** Precomputed MinHash permutation state, hoisted OUT of the per-row
    * closure: the coefficient arrays are built once on the driver,
    * serialized into the task closure, and shared by every row a task
    * signs — the previous formulation re-ran the two
    * `Array.tabulate(numHashes)` allocations per DOCUMENT (2x128 longs of
    * garbage per row on the hot path; same hoisting pattern as
    * Similarity's CentroidScorer / HyperplaneSigner). Deterministic
    * (fixed seeds). */
  private final class MinhashSigner(shingleN: Int, numHashes: Int)
      extends Serializable {
    private val p = 2147483647L // 2^31 - 1
    private val as =
      Array.tabulate(numHashes)(i => (1103515245L + 12345L * i) % p)
    private val bs =
      Array.tabulate(numHashes)(i => (2654435761L + 40503L * i) % p)

    def sign(text: String): Seq[Long] = {
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var any = false
      if (text != null) {
        val words = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
        if (words.length >= shingleN) {
          val seen = new java.util.HashSet[String]()
          var i = 0
          while (i <= words.length - shingleN) {
            val sh = words.slice(i, i + shingleN).mkString(" ")
            if (seen.add(sh)) {
              any = true
              val h1 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x12345678)
              val h2 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x9abcdef0)
              val base = math.floorMod((h1.toLong << 32) |
                (h2.toLong & 0xffffffffL), p)
              var k = 0
              while (k < numHashes) {
                val hv = (as(k) * base + bs(k)) % p
                if (hv < mins(k)) mins(k) = hv
                k += 1
              }
            }
            i += 1
          }
        }
      }
      if (any) mins.toSeq else Seq.empty[Long]
    }
  }

  /** Row-local MinHash signature: one JVM pass per document (tokenize ->
    * shingle -> numHashes seeded permutations h_i(x) = (a_i*h(x)+b_i)
    * mod p, min over shingles). No token-level explode/shuffle — the
    * original groupBy formulation shuffled every (doc, shingle) row and
    * dominated the sf0.1 bench.
    *
    * Docs with NO shingles (null/empty text, fewer than shingleN words)
    * return an EMPTY signature, not a sentinel-filled one — a shared
    * sentinel would make every short doc pair with every other short doc
    * at est_jaccard=1.0. Callers filter empty signatures out, mirroring
    * jaccardPairs' `size(words) >= n` guard. */
  private def minhashUdf(shingleN: Int, numHashes: Int) = {
    val signer = new MinhashSigner(shingleN, numHashes)
    org.apache.spark.sql.functions.udf { (text: String) =>
      signer.sign(text)
    }
  }

  /** Per-document MinHash signatures: (id, sig: array<long>). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      minhashUdf(shingleN, numHashes)(col(textCol)).as("sig"))

  /** MinHash + LSH near-dup candidate pairs: band the signature
    * (`bands` x `rowsPerBand` = numHashes), bucket-join on (band,
    * band-hash), emit candidate pairs with their estimated Jaccard
    * (fraction of matching minhashes). Classic Broder/LSH construction —
    * at 100 TB this is THE scalable near-dup path: signatures are
    * map-side, the only shuffles are the band bucket-join and pair
    * distinct.
    *
    * DUPLICATION-ADAPTIVE since round 14 (the q68/q115 census pattern,
    * closing the last quadratic-per-clique plan shape the round-13
    * verdict flagged): a clique of d byte-identical docs shares one
    * signature, lands whole in EVERY band bucket, and the bucket
    * self-join emits d²/2 candidates per band before the verify — the
    * same curve that made the exact emitters watchdog-kills one
    * duplication decade earlier. Docs with identical SIGNATURES
    * (strictly more than byte-identical docs) contract to one rep
    * before banding; bit-identity is immediate because the operator's
    * entire output is a function of the signature: for any third doc X
    * the band buckets of two identical-signature docs are equal (same
    * slice, same hash seed), so A–X is a candidate iff B–X is, with
    * the same matching-fraction estimate, and an intra-class pair is a
    * candidate in every band scoring round(k/k + 1e-9, 4) = 1.0 — the
    * lit the re-expansion emits. The linear signing pass stays; only
    * the candidate half contracts. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // drop shingle-less docs (empty signature) — see minhashUdf scaladoc
    val sig = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
      .where(size(col("sig")) === numHashes)
    // ONE raw-text scan (round-15 A/B, verdict item 6): the signature
    // frame persists BEFORE routing and the census rides it as
    // xxhash64(sig) instead of a second xxhash64(text) pass over raw
    // bytes. Routing is at least as sharp — the contraction key IS the
    // signature, so sig-equal classes are exactly what contraction can
    // lift, and bit-identity holds for the strictly larger class set
    // (equal signatures => equal band buckets and a k/k = 1.0
    // estimate, the scaladoc's function-of-the-signature argument).
    // The ids gate now checks uniqueness over exactly the slim rows
    // the re-expansion lifts (ids dropped with empty signatures never
    // band, so they cannot forge a self-pair).
    val pins = lshPairsSlot.pins(sig.sparkSession)
    pins.pin(sig)
    adaptiveSelfPairs(
      sig.select(col("id"), xxhash64(col("sig")).as("dg")),
      sig, "id", Seq("sig"),
      s => minhashLshPairsOverSigs(s, numHashes, bands),
      lit(1.0), "est_jaccard", pins)
  }

  /** The band bucket-join + matching-fraction verify over a prepared
    * (id, sig) frame — minhashLshPairs' core, factored for the
    * duplication-adaptive wrapper. Since round 18 the verify is INLINE
    * (signatures ride the band rows into the bucket join), so the
    * frame is read exactly once and the round-14 internal persist —
    * which existed because the old shape read it four times (self-join
    * sides + two post-distinct verify joins) — is gone with the joins
    * it served. */
  private def minhashLshPairsOverSigs(sigIn: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val sig = sigIn
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))
          .as("bucket"))
    }
    // INLINE verify (round 18, guide §2.3/§2.4): the signatures ride
    // the band rows into the bucket self-join, so the matching-minhash
    // fraction is computed IN the join stage — the two post-distinct
    // verify joins (and the internal persist of the signature frame
    // they re-read, plus their sorts of the candidate stream at scale)
    // are gone; the signature frame is now read exactly once. The
    // match count is a codegen'd positional-equality scan (the
    // zip_with/filter HOF evaluated interpreted per element).
    // est_jaccard is a function of the pair (one signature per id —
    // the adaptive wrapper's ids gate), so distinct over
    // (id_a, id_b, est_jaccard) equals the old distinct over the pair,
    // and a pair found in several bands still collapses to one row.
    val banded = sig.select(col("id"), col("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.expr.VectorOps
          .countEqualLongs(col("a.sig"), col("b.sig"))
          .cast("double") / numHashes + 1e-9, 4).as("est_jaccard"))
      .distinct()
  }

  /** CROSS-ENGINE-portable MinHash signatures — the oracle-able signer.
    * The fast signer above hashes shingles with engine-local functions
    * (xxhash/murmur), which is why q22 has sat in the rows-only tier
    * since round 2: no other engine can recompute its signatures. This
    * variant pins every primitive to a portable definition so an
    * independent SQL engine derives BIT-IDENTICAL signatures:
    *
    *   base hash  x(s) = first 15 hex chars of md5(shingle) as a 60-bit
    *              integer (md5 is the engine-portable hash of the
    *              mixing/fingerprint stack; 15 chars = no sign issues)
    *   h_j(x)     = (a_j * x + b_j) mod p,  p = 2^61 - 1 (Mersenne)
    *   sig[j]     = min over the doc's DISTINCT shingles of h_j(x)
    *
    * a_j/b_j are fixed literals (seeded once, baked below AND in the
    * oracle SQL). The 128-bit product a_j*x is reduced without
    * BigInteger: 2^64 ≡ 8 (mod 2^61-1), so a*x = hi·2^64 + lo ≡
    * 8·hi + (lo & p) + (lo >>> 61); a,x < 2^61 keeps hi < 2^58 and
    * every fold below 2^63 — branch-free primitive long arithmetic in
    * the row-local signer (one pass per doc, no shuffle). The oracle
    * replays the same affine map with HUGEINT arithmetic.
    *
    * Output: (id, j, minhash) — k rows per doc with >= 1 shingle. */
  def minhashSignaturesPortable(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(portableMinhashUdf(n)(col(textCol)))
          .as(Seq("j", "minhash")))

  /** (j, a_j, b_j) for the portable signer — mirrored LITERALLY in the
    * q92 oracle SQL; regenerating with a different seed breaks parity
    * by design (the values are part of the operator's contract). */
  private val PortableMinhashCoeffs: Array[(Long, Long)] = Array(
    (428211228669798842L, 1231823886139169972L),
    (1588437261043606333L, 125037580946878544L),
    (462760306997154682L, 1510692560004590165L),
    (1361166987500386952L, 1259175741772747241L),
    (432330772143187373L, 1457787354239467078L),
    (2269042632621585813L, 271289342846959209L),
    (459595690967326520L, 247923395667062642L),
    (1888506785316944072L, 921785063688832414L),
    (114442114781097478L, 94453198003562826L),
    (2118706432147538908L, 1528312526410001492L),
    (356350401917632119L, 2240309207271314907L),
    (713603041279483440L, 823569528660996607L),
    (870846301637373144L, 318948861742844466L),
    (2093656847386277970L, 1111508132540270293L),
    (1925818535337679864L, 1637057865177633928L),
    (112307922632766665L, 1739027035153223858L))

  private val MersenneP = (1L << 61) - 1

  /** The contract-pinned 60-bit base hash both portable signers (and
    * their oracle SQL, `('0x' || substr(md5(s),1,15))::BIGINT`) share:
    * top 60 bits of the MD5 digest = first 15 hex chars. ONE definition
    * so q92/q93 and q94 can never drift apart. */
  private[graft] def md5Top60(md: java.security.MessageDigest,
      s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x >>> 4
  }

  private def mulModP(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    var t = 8L * hi + (lo & MersenneP) + (lo >>> 61)
    t = (t & MersenneP) + (t >>> 61)
    if (t >= MersenneP) t - MersenneP else t
  }

  /** End-to-end MinHash-LSH candidate pairs over the PORTABLE signer —
    * the full banding pipeline with cross-engine parity: band key =
    * the band's minhashes joined in j order (a plain string, not an
    * engine-local hash — band equality IS row-set equality, so there
    * are no bucket collisions to diverge on), candidates = pairs
    * agreeing on >= 1 band, estimate = matching-minhash fraction.
    * Plan: row-local signatures, row-local band keys (array slices of
    * the j-ordered signature), the band-bucket self-join with the
    * matching-fraction verify computed inline — the q22 shape with
    * every primitive replayable in SQL.
    *
    * DUPLICATION-ADAPTIVE since round 14, closing the round-13
    * verdict's last quadratic-per-clique shape (this was the suite's
    * slowest 100× query — identical signatures share every band key,
    * so a d-member byte-identical clique emits d²/2 candidates per
    * band). Contraction key is the per-doc signature ARRAY (the j-
    * ordered minhash vector the relational form explodes from): the
    * operator's whole output is a function of it — equal arrays give
    * equal band keys (the bkey string is the band's minhashes joined
    * in j order) and the matching-fraction estimate of an intra-class
    * pair is round(k/k + 1e-9, 4) = 1.0, the lit the re-expansion
    * emits. The linear signing pass stays; only the candidate half
    * contracts. */
  def minhashLshPairsPortable(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, bands: Int = 4): DataFrame = {
    val k = PortableMinhashCoeffs.length
    require(bands >= 1 && k % bands == 0,
      s"bands must divide $k, got $bands")
    // empty array = no shingles; such docs never band (posexplode of
    // an empty array emits nothing), matching the original plan
    val slim = df.select(col(idCol).as("id"),
        portableMinhashUdf(n)(col(textCol)).as("sigarr"))
      .where(size(col("sigarr")) > 0)
    // one raw-text scan: census rides the persisted signature frame as
    // xxhash64(sigarr) — see minhashLshPairs (the same round-15 A/B;
    // here the signing pass is the md5 portable signer, the most
    // expensive scan in the query, so sharing it matters more)
    val pins = portableLshPairsSlot.pins(slim.sparkSession)
    pins.pin(slim)
    adaptiveSelfPairs(
      slim.select(col("id"), xxhash64(col("sigarr")).as("dg")),
      slim, "id", Seq("sigarr"),
      s => portableLshPairsOverSigArrays(s, bands),
      lit(1.0), "est_jaccard", pins)
  }

  /** The portable banding + candidate + matching-fraction verify over
    * a prepared (id, sigarr) frame — minhashLshPairsPortable's
    * original plan, factored for the duplication-adaptive wrapper
    * (the relational (id, j, minhash) form is re-derived here by
    * exploding the array). */
  private def portableLshPairsOverSigArrays(slim: DataFrame,
      bands: Int): DataFrame = {
    val k = PortableMinhashCoeffs.length
    val rows = k / bands
    // ROW-LOCAL band keys (round 18): the signature array is already
    // j-ordered (posexplode indices), so each band key — the band's
    // minhashes joined in j order — is a straight slice of the array.
    // The relational explode + groupBy form paid a corpus-sized
    // exchange, a per-group array_sort, and a persisted (id, j,
    // minhash) frame just to reassemble exactly these slices. Band-key
    // STRINGS are byte-identical to the old form's, so candidates (and
    // the oracle's replay) are unchanged.
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        array_join(transform(slice(col("sigarr"), b * rows + 1, rows),
          m => m.cast("string")), ",").as("bkey"))
    }
    // INLINE verify, same move as minhashLshPairsOverSigs: signatures
    // ride the band rows, the matching count is a codegen'd
    // positional-equality scan (equal to the relational
    // count(when(ma === mb, 1)) because both arrays are j-ordered),
    // and the two 16x-fanout verify joins + their groupBy are gone.
    // est_jaccard is a function of the pair, so distinct over the
    // triple equals the old distinct over the pair.
    val banded = slim.select(col("id"), col("sigarr"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sigarr"), col("bb.band"), col("bb.bkey"))
    banded.as("a")
      .join(banded.as("b"), Seq("band", "bkey"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.expr.VectorOps
          .countEqualLongs(col("a.sigarr"), col("b.sigarr"))
          .cast("double") / k + 1e-9, 4).as("est_jaccard"))
      .distinct()
  }

  /** INCREMENTAL near-dup — [[minhashLshPairsPortable]]'s production
    * shape at 100 TB, the MinHash analogue of [[dedupIncremental]]: a
    * NEW batch is LSH-checked against an already-indexed corpus
    * snapshot without ever re-pairing the snapshot against itself.
    * Re-running the full pairwise pass per ingest would re-shuffle
    * the historical corpus every time; here the snapshot-sized work
    * is one banding pass (in a real deployment the snapshot's
    * (band, bkey) table and signatures ARE the persisted index
    * artifact this reads — the TxnLog/IvfIndex pattern — so even that
    * pass amortizes to an index scan), while everything batch-sized
    * broadcasts: the batch band table builds the hash side of the
    * candidate join and the batch signatures build the hash side of
    * the scoring join, so the snapshot streams through both joins
    * with no batch-driven shuffle.
    *
    * Same portable primitives as q93 — band equality is row-set
    * equality on the joined minhash string, the estimate is the
    * matching-coefficient fraction — so the whole output replays in
    * oracle SQL. Output: (id_new, id_old, est_jaccard), one row per
    * cross-stratum candidate pair. */
  def minhashLshIncremental(batch: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String, n: Int = 3, bands: Int = 4)
      : DataFrame = {
    val k = PortableMinhashCoeffs.length
    require(bands >= 1 && k % bands == 0,
      s"bands must divide $k, got $bands")
    val rows = k / bands
    def bandedOf(sig: DataFrame): DataFrame = sig
      .withColumn("band", floor(col("j") / rows).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("minhash")))),
        s => s.getField("minhash").cast("string")), ",").as("bkey"))
    val sigB = minhashSignaturesPortable(batch, idCol, textCol, n)
    val sigS = minhashSignaturesPortable(snapshot, idCol, textCol, n)
    val pins = lastIncrementalLshRelease.pins(sigB.sparkSession)
    pins.pin(sigB)
    pins.pin(sigS)
    val cand = broadcast(bandedOf(sigB)).as("nb")
      .join(bandedOf(sigS).as("os"), Seq("band", "bkey"))
      .select(col("nb.id").as("id_new"), col("os.id").as("id_old"))
      .distinct()
    val sa = sigB.select(col("id").as("id_new"), col("j"),
      col("minhash").as("ma"))
    val sb = sigS.select(col("id").as("id_old"), col("j"),
      col("minhash").as("mb"))
    cand.join(broadcast(sa), "id_new")
      .join(sb, Seq("id_old", "j"))
      .groupBy("id_new", "id_old")
      .agg(count(when(col("ma") === col("mb"), 1)).as("matches"))
      .select(col("id_new"), col("id_old"),
        round(col("matches").cast("double") / k + 1e-9, 4)
          .as("est_jaccard"))
  }

  private val lastIncrementalLshRelease = ReleaseSlot()

  /** PORTABLE SimHash — the oracle-able form of the simhash family,
    * same contract-pinning move as [[minhashSignaturesPortable]]: word
    * hash = the md5-prefix 60-bit value (so the signature is 60 bits,
    * not 64 — a sign-safe width for every engine's integer type), one
    * +1/-1 vote per word OCCURRENCE per bit, sign of the net vote.
    * Output is RELATIONAL — (id, bit, bitval) with bit in [0, 60) and
    * bitval in {0, 1} (net <= 0 votes 0, the tie rule both engines
    * replay) — so the oracle never has to assemble engine-specific
    * packed integers; a consumer packs bits with a trivial agg when it
    * wants the scalar form. Row-local single pass per doc. */
  def simhashPortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(portableSimhashUdf(col(textCol)))
          .as(Seq("bit", "bitval")))

  private val portableSimhashUdf =
    org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) Array.emptyIntArray
      else {
        val words = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
        if (words.isEmpty) Array.emptyIntArray
        else {
          val net = new Array[Long](60)
          val md = java.security.MessageDigest.getInstance("MD5")
          words.foreach { w =>
            val x = md5Top60(md, w)
            var b = 0
            while (b < 60) {
              if (((x >>> b) & 1L) == 1L) net(b) += 1 else net(b) -= 1
              b += 1
            }
          }
          Array.tabulate(60)(b => if (net(b) > 0) 1 else 0)
        }
      }
    }

  /** Row-local portable signature — the UDF body, exposed for
    * stateful/streaming consumers (NearDupStream) so there is exactly
    * ONE signer implementation. Empty array = no shingles (never sign
    * with a sentinel — the round-1 false-pair advice). */
  private[graft] def portableSignature(text: String, n: Int = 3)
      : Array[Long] = {
    val grams = shingleWords(text, n).distinct
    if (grams.isEmpty) Array.emptyLongArray
    else {
      val k = PortableMinhashCoeffs.length
      val mins = Array.fill(k)(Long.MaxValue)
      val md = java.security.MessageDigest.getInstance("MD5")
      grams.foreach { g =>
        val x = md5Top60(md, g)
        var j = 0
        while (j < k) {
          val (a, b) = PortableMinhashCoeffs(j)
          var h = mulModP(a, x) + b
          h = (h & MersenneP) + (h >>> 61)
          if (h >= MersenneP) h -= MersenneP
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      mins
    }
  }

  private def portableMinhashUdf(n: Int) =
    org.apache.spark.sql.functions.udf { (text: String) =>
      portableSignature(text, n)
    }

  /** CROSS-ENGINE-portable embedding near-dup — the oracle-able form of
    * [[embeddingNearDupPairs]] (q44's promotion out of the rows-only tier;
    * the q92/q94 contract-pinning move applied to the embedding family).
    * Every primitive replays in portable SQL with EXACT arithmetic:
    *
    *   feature vector  64 integer buckets; each token OCCURRENCE adds ±1
    *                   to 2 buckets via h_k = md5Top60(k + "_" + token),
    *                   k in {0,1}: bucket = h mod 64, sign = +1 iff
    *                   (h div 64) even. This is the StubEmbedder algebra
    *                   (feature-hashed bag of words) with the engine-local
    *                   murmur swapped for the portable md5 prefix and the
    *                   float L2 normalize dropped — cosine is scale-free,
    *                   so the un-normalized INTEGER vector ranks pairs
    *                   identically and sums associatively in any engine.
    *   hyperplanes     w(p,d) = +1 iff md5Top60("w_" + p + "_" + d) even —
    *                   hash-derived, not RNG-derived, so the oracle
    *                   rebuilds the exact matrix from the same strings.
    *   signature       bit p = [dot(vec, w_p) >= 0], an exact integer dot;
    *                   8 bits packed little-endian into one bucket key.
    *   verify          cosine from the integer vectors: the dot is exact
    *                   BIGINT, and sqrt/mul/div on exact inputs are
    *                   correctly-rounded IEEE double ops, so both engines
    *                   emit the same 4-dp value.
    *
    * Same scale shape as the fast variant: signatures are row-local (one
    * UDF pass, no shuffle), the pair join is LSH-bucket-local on the
    * 8-bit signature — never all-pairs — and the verify runs only on
    * bucket collisions. 100-TB note: the PLANE COUNT is the scale knob —
    * 8 planes = 256 buckets suits testdata-sized corpora, while a
    * corpus-scale run raises planes (each plane halves expected bucket
    * occupancy; recall then comes from multiple independent plane SETS,
    * i.e. banding, exactly the q93 pattern) — the contract constants
    * below pin the ORACLE'S parameters, not the operator's ceiling.
    * Output: (id_a, id_b, cos) with cos >= threshold. */
  def embeddingNearDupPairsPortable(df: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8): DataFrame = {
    // cosine's codomain here is [-1, 1]; a threshold above 1 would
    // disagree with the contraction's intra-class cos=1.0 emission
    require(threshold <= 1.0,
      s"cosine threshold must be <= 1.0; got $threshold")
    // DUPLICATION-ADAPTIVE since round 13 (the q68/q115 census
    // pattern): byte-identical docs share a feature VECTOR, land whole
    // in one LSH bucket, and the bucket self-join emits d^2/2 verify
    // rows per clique — the former 100x-tier timeout. Contraction key
    // is the integer vector itself (sig and norm2 are functions of it,
    // carried as payload): cross-class cosines equal the rep pair's
    // exactly, and intra-class pairs verify in the uncontracted plan
    // at round(norm2/(sqrt(norm2)*sqrt(norm2)) + 1e-9, 4) — within
    // 2 ulp of 1.0 before the +1e-9 nudge, so the 4-dp round is
    // EXACTLY 1.0, the lit the re-expansion emits. Zero-norm docs are
    // filtered before the census, matching the original plan.
    val sigd = df.select(col(idCol).as("id"),
        portableEmbUdf(col(textCol)).as("e"))
      .select(col("id"), col("e.sig").as("sig"), col("e.vec").as("vec"),
        col("e.norm2").as("norm2"))
      .where(col("norm2") > 0L)
    adaptiveSelfPairs(
      df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("dg")),
      sigd, "id", Seq("vec"),
      s => portableEmbPairsOverSigs(s, threshold),
      lit(1.0), "cos", portableEmbSlot.pins(df.sparkSession))
  }

  /** The LSH-bucketed candidate + exact-integer-cosine verify over a
    * prepared (id, sig, vec, norm2) frame — the portable operator's
    * original plan, factored for the duplication-adaptive wrapper.
    * private[graft]: ScaleProof's q44 decomposition times this core
    * in isolation (the q23 simhashPairsOverSigs precedent). */
  private[graft] def portableEmbPairsOverSigs(sigd: DataFrame,
      threshold: Double): DataFrame = {
    val cand = sigd.as("a").join(sigd.as("b"),
      col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
    // codegen'd integer dot (round 18): the aggregate(zip_with(...))
    // HOF evaluated its lambda interpreted per ELEMENT — 64 boxed
    // steps per candidate pair on the query's hottest expression.
    // Exact same integer sum (fixed-width null-free arrays).
    cand.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.expr.VectorOps.dotLongs(col("a.vec"), col("b.vec"))
          .as("num"),
        col("a.norm2").as("n2a"), col("b.norm2").as("n2b"))
      .select(col("id_a"), col("id_b"),
        round(col("num").cast("double")
          / (sqrt(col("n2a")) * sqrt(col("n2b"))) + 1e-9, 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * 13-gram [[Decontaminate]]: a TRAINING document is contaminated iff
    * some EVAL document sits within cosine `threshold` of it, caught
    * even when paraphrase defeats every n-gram test (the Phi/GPT-4
    * eval-hygiene motivation). Cross-strata form of
    * [[embeddingNearDupPairsPortable]] with the
    * [[minhashLshIncremental]] scale asymmetry: both sides sign
    * row-local (one UDF pass, no shuffle), the EVAL side — benchmark-
    * sized, tiny next to a 100-TB corpus — broadcasts into the bucket
    * join, so the training corpus streams through with no
    * corpus-driven shuffle; the quadratic verify is confined to 8-bit
    * LSH bucket collisions. Same portable primitives as q44, so the
    * whole decision replays in oracle SQL.
    * Output: one row per train doc, (id, contaminated, max_eval_cos —
    * 4-dp max cosine to any colliding eval doc, 0.0 when none). */
  def semanticDecontaminate(train: DataFrame, eval_ : DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8)
      : DataFrame = {
    def signed(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), portableEmbUdf(col(textCol)).as("e"))
        .select(col("id"), col("e.sig").as("sig"), col("e.vec").as("vec"),
          col("e.norm2").as("norm2"))
        .where(col("norm2") > 0L)
    val t = signed(train)
    val ev = signed(eval_)
      .select(col("sig"), col("vec").as("evec"), col("norm2").as("en2"))
    val hits = t.join(broadcast(ev), "sig")
      .select(col("id"),
        // codegen'd integer dot — same rationale and exact-sum
        // equivalence as portableEmbPairsOverSigs (round 18)
        round(graft.expr.VectorOps.dotLongs(col("vec"), col("evec"))
          .cast("double")
          / (sqrt(col("norm2")) * sqrt(col("en2"))) + 1e-9, 4).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy("id").agg(max(col("cos")).as("max_eval_cos"))
    // Verdict coverage is over the RAW train frame, not the signed one:
    // a doc whose portable feature vector is empty (empty text or full
    // ±1 cancellation, norm2 == 0) can't collide with anything, so it
    // gets an explicit (contaminated = false, 0.0) row instead of
    // silently vanishing from the output.
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("max_eval_cos").isNotNull.as("contaminated"),
        coalesce(col("max_eval_cos"), lit(0.0)).as("max_eval_cos"))
  }

  /** Contract constants of the portable embedding signer — mirrored
    * literally in the q44 oracle SQL; changing either breaks parity by
    * design. */
  private val PortableEmbDim = 64
  private val PortableEmbPlanes = 8

  /** w(p,d) in {-1,+1} from the md5 prefix of "w_p_d" — computed once per
    * JVM (the oracle recomputes it per query; both derive from the same
    * strings, so the matrices are identical). */
  private lazy val PortableEmbPlaneMatrix: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(PortableEmbPlanes, PortableEmbDim) { (p, d) =>
      if (md5Top60(md, s"w_${p}_$d") % 2 == 0L) 1L else -1L
    }
  }

  private[graft] final case class PortableEmb(sig: Int, vec: Seq[Long], norm2: Long)

  // private[graft]: the contraction spec brute-forces all-pairs
  // cosines from the same signer to validate bucket + re-expansion
  private[graft] val portableEmbUdf =
    org.apache.spark.sql.functions.udf { (text: String) =>
      val dim = PortableEmbDim
      val vec = new Array[Long](dim)
      if (text != null) {
        val toks = text.toLowerCase(java.util.Locale.ROOT).trim
          .split("\\s+").filter(_.nonEmpty)
        val md = java.security.MessageDigest.getInstance("MD5")
        toks.foreach { t =>
          var k = 0
          while (k < 2) {
            val h = md5Top60(md, s"${k}_$t")
            vec((h % dim).toInt) += (if ((h / dim) % 2 == 0L) 1L else -1L)
            k += 1
          }
        }
      }
      var sig = 0
      var p = 0
      while (p < PortableEmbPlanes) {
        val w = PortableEmbPlaneMatrix(p)
        var dot = 0L
        var d = 0
        while (d < dim) { dot += vec(d) * w(d); d += 1 }
        if (dot >= 0L) sig |= (1 << p)
        p += 1
      }
      var norm2 = 0L
      var d = 0
      while (d < dim) { norm2 += vec(d) * vec(d); d += 1 }
      PortableEmb(sig, scala.collection.immutable.ArraySeq.unsafeWrapArray(vec), norm2)
    }

  /** 64-bit SimHash per document: hash each word occurrence to 64 bits,
    * sum +1/-1 per bit position, take the sign bit-vector. Row-local UDF
    * (one pass per doc, primitive loops) — the explode + 64-conditional-
    * sums formulation cost a token-level shuffle and 5s+ at sf0.1; this
    * is shuffle-free and embarrassingly parallel. */
  /** Row-local signer body, exposed for stateful/streaming consumers
    * (SimHashStream) so there is exactly ONE signer implementation —
    * the portableSignature/blockEntries precedent. Null and word-free
    * texts sign as 0L (all-negative votes), matching the batch plan's
    * inclusion of such docs. */
  private[graft] def simhashSignature(text: String): Long =
    if (text == null) 0L
    else {
      val counts = new Array[Long](64)
      text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { w =>
        if (w.nonEmpty) {
          val h1 = scala.util.hashing.MurmurHash3.stringHash(w, 0x9747b28c)
          val h2 = scala.util.hashing.MurmurHash3.stringHash(w, 0x85ebca6b)
          val h64 = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
          var i = 0
          while (i < 64) {
            if (((h64 >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
            i += 1
          }
        }
      }
      var sig = 0L
      var i = 0
      while (i < 64) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }

  private val simhashUdf =
    org.apache.spark.sql.functions.udf { (text: String) =>
      simhashSignature(text)
    }

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs via band blocking: split the 64-bit signature
    * into equal-width bands; docs agreeing on any band are candidates
    * (pigeonhole: hamming <= bands-1 implies at least one identical
    * band, so recall is COMPLETE up to that radius); verify with exact
    * popcount of the XOR. maxHamming <= 3 uses 4x16-bit bands,
    * maxHamming 4..7 uses 8x8-bit. Radii above 7 would need 4-bit-or-
    * narrower bands whose bucket collision rate makes blocking
    * degenerate toward all-pairs — rejected rather than silently
    * under-recalling. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhash banding guarantees recall only to hamming 0..7 (8x8-bit " +
        s"bands; negative radii would also break the contraction's " +
        s"intra-class hamming=0 emission); got maxHamming=$maxHamming")
    // DUPLICATION-ADAPTIVE since round 13 (the q68/q115 census
    // pattern): under mass duplication a clique of d byte-identical
    // docs lands whole in EVERY band bucket, so candidate emission
    // goes d^2/2 per band — the former 100x-tier timeout. Docs with
    // identical SIGNATURES (strictly more than byte-identical docs)
    // contract to one rep; hamming(x, y) = hamming(rep_x, rep_y)
    // because members share their rep's signature exactly, and
    // intra-class pairs verify at hamming 0 <= maxHamming in the
    // uncontracted plan (same sig -> every band agrees -> candidate).
    val sh = simhash(df, idCol, textCol)
    adaptiveSelfPairs(
      df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("dg")),
      sh, "id", Seq("simhash"),
      sigs => simhashPairsOverSigs(sigs, maxHamming),
      lit(0), "hamming", simhashPairsSlot.pins(df.sparkSession))
  }

  /** The band-blocked candidate + popcount-verify pipeline over a
    * prepared (id, simhash) frame — simhashPairs' original plan,
    * factored for the duplication-adaptive wrapper ([[graft]]-visible
    * so ScaleProof's q23 stage probe times THIS implementation, not a
    * reconstruction that could drift). */
  private[graft] def simhashPairsOverSigs(sh: DataFrame,
      maxHamming: Int): DataFrame = {
    val nBands = if (maxHamming <= 3) 4 else 8
    val width = 64 / nBands
    val mask = (1L << width) - 1
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(mask).as("bucket"))
    }
    val banded = sh.select(col("id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    // verify BEFORE the distinct (round 18, guide §2.3 "shuffle fewer
    // bytes"): the popcount is row-local and both signatures are
    // already in the join output, so filtering to hamming <= max
    // before the dedup exchange ships only VERIFIED pairs (54k at the
    // 100x tier) instead of every raw candidate (5.4M there — a 100x
    // cut in distinct-exchange volume). hamming is a pure function of
    // the pair (one signature per id), so distinct over
    // (id_a, id_b, hamming) equals distinct over the pair — same rows,
    // same schema, and a pair found in several bands still collapses.
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-dup pairs above `threshold`, LSH-bucketed by
    * random-hyperplane sign bits so the pair join is bucket-local (the
    * brute-force variant lives in Similarity.bruteForceTopK). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 8): DataFrame = {
    val withSig = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("sig", Similarity.hyperplaneSignature(col("vec"), planes))
    val cand = withSig.as("a").join(withSig.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
    cand.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.expr.VectorOps
          .cosineF32(col("a.vec"), col("b.vec")) + 1e-9, 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Deterministically free a `localCheckpoint(true)`-backed frame's
    * cached blocks. `Dataset.unpersist` only talks to the CacheManager
    * and is a no-op on checkpoint-backed frames; without an explicit
    * release every superseded round's full table copy lingers until a
    * driver GC lets the ContextCleaner run (periodic GC default:
    * 30 min) — at corpus scale that is maxRounds coexisting copies.
    * The checkpointed RDD sits in the frame's LogicalRDD leaf. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    // ROOT node only — walking the whole lineage would unpersist
    // UPSTREAM checkpoints the frame merely reads (a caller's
    // checkpointed input appears as a LogicalRDD leaf in round-1
    // lineage, and releasing it kills every later consumer with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). A frame this code
    // checkpointed is EXACTLY a LogicalRDD at the root.
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Driver-side bound (in canonical one-direction edges) under which
    * connected components are solved exactly by local union-find
    * instead of the star-contraction loop. 1M edges ≈ 32-80 MB of
    * collected rows — bounded, and in exchange the common case (a
    * thresholded pair graph is SPARSE next to its corpus) pays one
    * collect instead of O(log n) shuffle rounds. Above the cap the
    * distributed loop runs; `localEdgeCap = 0` forces it. */
  val LocalComponentsEdgeCap: Int = 1000000

  /** Local "a < b" for id values, consistent with Spark's own
    * ordering so local union-find picks the SAME component minimum as
    * the distributed loops. Strings compare as unsigned UTF-8 bytes —
    * UTF8String.compareTo semantics (code-point order); JVM
    * String.compareTo's UTF-16 code-unit order diverges on
    * supplementary-plane ids vs U+E000..U+FFFF and would flip
    * cluster_rep between execution modes. None = no local ordering
    * here; callers then skip the local fast path entirely.
    *
    * Boundary: string ids are assumed VALID UTF-8. Row.get has
    * already decoded driver-side strings, so ids whose raw bytes are
    * ill-formed lose those bytes to U+FFFD before this comparator
    * (or the union-find's equality) sees them — two raw-byte-distinct
    * ill-formed ids could merge locally where the loop keeps them
    * apart. Every id this engine generates or ingests is valid UTF-8;
    * a corpus that genuinely carries binary ids should use a binary
    * or numeric id column (no local ordering → loop mode). */
  private def localIdOrdering(
      idType: org.apache.spark.sql.types.DataType)
      : Option[(Any, Any) => Boolean] = {
    import org.apache.spark.sql.types._
    idType match {
      case LongType =>
        Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case IntegerType =>
        Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case StringType => Some { (a, b) =>
        // Arrays.compareUnsigned = unsigned lexicographic then
        // shorter-first — exactly UTF8String.compareTo over the
        // encoded bytes
        java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      }
      case _ => None
    }
  }

  /** Exact local components for a collected symmetric edge list:
    * union-find with the smaller root winning (per `lt`, which must be
    * Spark-order-consistent — see [[localIdOrdering]]), so every final
    * root is its component's MINIMUM id (the operator contract) — same
    * labels as the distributed loop, bit for bit. Output rows cover
    * every edge ENDPOINT (callers merge singletons with a left join +
    * coalesce). */
  private def localComponentLabels(
      spark: org.apache.spark.sql.SparkSession,
      idType: org.apache.spark.sql.types.DataType,
      lt: (Any, Any) => Boolean,
      edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val parent = new java.util.HashMap[Any, Any](edgeRows.length * 2)
    def find(x: Any): Any = {
      var r = x
      var p = parent.get(r)
      while (p != null && p != r) { r = p; p = parent.get(r) }
      var c = x // path compression
      while (c != r) { val nxt = parent.get(c); parent.put(c, r)
        c = nxt }
      r
    }
    edgeRows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (a != null && b != null) {
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          // smaller root wins: the surviving root IS the component
          // min, so no second min pass is needed
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val schema = StructType(Seq(StructField("id", idType),
      StructField("rep", idType)))
    val out = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row](parent.size)
    // find() only rewrites VALUES of existing keys (path
    // compression) — not a structural modification, so iterating
    // keySet while it runs is safe per the HashMap contract
    parent.keySet.forEach { k =>
      out += org.apache.spark.sql.Row(k, find(k)); () }
    // parallelize, not a LocalRelation: keeps up-to-cap label sets
    // out of the logical plan text; AQE still broadcasts the join
    // from runtime stats when small
    val slices = math.max(1, out.length / 100000)
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, slices), schema)
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise evidence (jaccardPairs / minhashLshPairs /
    * simhashPairs / embeddingNearDupPairs) into duplicate CLUSTERS a
    * pipeline can act on: every id maps to `cluster_rep` = the minimum
    * id in its component (the deterministic canonical survivor —
    * materialize survivors with `keepClusterSurvivors`, NOT a bare
    * id == cluster_rep filter, which silently drops whole clusters in
    * filtered-ids mode). Ids absent from any
    * pair are their own singleton cluster, so the output has exactly
    * one row per DISTINCT input id (duplicate input rows collapse).
    *
    * `pairs` is read exactly once, into a persisted canonical edge
    * frame (u > v, one row per undirected edge). Graphs at or under
    * `localEdgeCap` edges are solved exactly by driver union-find — one
    * collect. Larger graphs (or any graph at `localEdgeCap = 0`) run
    * [[starContraction]], whose rounds grow O(log n) whatever the
    * components' shape; exhausting `maxRounds` WITHOUT converging
    * throws — truncated contraction would silently report a wrong
    * cluster representative, and a loud failure (raise maxRounds)
    * beats a wrong survivor set. The local path is exact by
    * construction, so small deep chains resolve rather than refuse.
    * Both paths label only edge ENDPOINTS; singletons merge back
    * through one left join.
    *
    * Pair endpoints missing from `ids` are handled: components run
    * over the edge endpoints (a bridge doc filtered out of `ids` still
    * connects its neighbors), and the output is then restricted back
    * to `ids` by the final merge join — note cluster_rep can therefore
    * be an id outside `ids` when the component min was filtered out.
    * When the caller KNOWS `ids` has no duplicate rows (the common
    * case: pairs derived from the same corpus frame), pass
    * `idsCoverEndpoints = true` to skip the defensive distinct.
    *
    * `pairsCanonical`: when the caller GUARANTEES the pair frame is
    * duplicate-free with id_a < id_b on every row (the spanning-edge
    * emitters' contract: star edges are rep < member, rep pairs are
    * sort_array-ordered and groupBy-deduped), the canonicalizing
    * distinct is a corpus-scale exchange spent proving a no-op, and
    * only the orientation stays. Labels are unaffected either way — union-
    * find and star contraction are idempotent under duplicate edges —
    * so a caller mis-declaring canonicity costs only the fan-out the
    * distinct would have removed, never a wrong cluster. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      idCol: String = "id", idACol: String = "id_a",
      idBCol: String = "id_b", maxRounds: Int = 25,
      idsCoverEndpoints: Boolean = false,
      localEdgeCap: Int = LocalComponentsEdgeCap,
      pairsCanonical: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = canonEdges(pairs.select(col(idACol).as("u"),
        col(idBCol).as("v")), dedup = !pairsCanonical)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // distinct: a duplicated input id must not fan out the final
    // restriction join (contract: one output row per distinct id)
    val idsOnly =
      if (idsCoverEndpoints) ids.select(col(idCol).as("id"))
      else ids.select(col(idCol).as("id")).distinct()
    // id type from the EDGES frame, not `ids`: greatest/least coerced
    // the pair columns (e.g. Int pairs against Long ids widen to Long),
    // and the collected values/labels schema must match what edges
    // actually holds — deriving from `ids` would ClassCastException in
    // the comparator on coercible-type callers
    val idType = edges.schema("u").dataType
    // finally: the loop throws on non-convergence, and the corpus-scale
    // edge cache must not outlive this call on that path
    val labels =
      try localIdOrdering(idType)
        .filter(_ => localEdgeCap > 0 && edges.count() <= localEdgeCap)
        .map(lt => localComponentLabels(ids.sparkSession, idType, lt,
          edges.collect()))
        .getOrElse(starContraction(edges, maxRounds))
      finally edges.unpersist()
    // ids with no edge are their own singleton cluster
    idsOnly.join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("rep"), col("id")).as("cluster_rep"))
  }

  /** (u, v) oriented u >= v in one common type; with `dedup`, one row
    * per undirected edge and no self-loops. */
  private def canonEdges(e: DataFrame, dedup: Boolean = true)
      : DataFrame = {
    val oriented = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    if (dedup) oriented.where(col("u") =!= col("v")).distinct()
    else oriented
  }

  /** The distributed loop behind [[connectedComponents]]: labels every
    * endpoint of the canonical (u > v) `edges` with its component
    * minimum in O(log n) ROUNDS via alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — star contraction halves component height every other
    * round regardless of shape, where min-label propagation needs
    * diameter rounds.
    *
    *   large-star: every node points its LARGER neighbors at the
    *     minimum of its neighborhood (plus itself);
    *   small-star: every node points its smaller-or-equal neighbors
    *     (and itself) at that minimum.
    *
    * Both steps are implemented join-first (groupBy-min + join back),
    * NOT as collect_list neighbor lists — a hub node's neighbor list
    * is O(degree) and the list form reintroduces the skew the
    * algorithm exists to avoid. Per-round cost: ~six exchanges (each
    * half-round is a groupBy-min, a join, and a canon distinct) plus
    * two checkpoint materializations and the checksum job. The edge
    * set is compared by (count, xor of edge hashes) and confirmed
    * exactly to detect the fixed point, at which every component is a
    * star rooted at its minimum id. */
  private def starContraction(initial: DataFrame,
      maxRounds: Int): DataFrame = {
    // (count, xor-of-edge-hashes) as the cheap fixed-point precheck:
    // bit_xor never overflows (ANSI mode rejects sum() of hashes) and
    // is order-independent; a signature MATCH is then confirmed with
    // an exact exceptAll — so a 2^-64 xor collision costs one extra
    // comparison, never a wrong early stop
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // localCheckpoint (not persist) on every loop-carried frame: each
    // round's plan references the previous round's SEVERAL times (sym
    // union, two groupBy-min joins), so un-truncated lineage grows
    // ~4x per round and plan analysis explodes exponentially. The
    // caller owns `initial` (a persisted frame, which releaseCheckpoint
    // leaves alone).
    var edges = initial
    var sig = checksum(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star over the SYMMETRIC view: m(u) = min(N(u) ∪ {u});
      // larger neighbors re-point at m
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      // grouping columns are directly referenceable in agg expressions
      // (first(u) would be equivalent but carries Catalyst's
      // nondeterministic flag)
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val afterLarge = canonEdges(sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
        .localCheckpoint(true)
      // small-star over the larger-key-directed view: all smaller
      // neighbors (and the node itself) point at the minimum
      val minsS = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val joined = afterLarge.join(minsS, "u")
      val afterSmall = canonEdges(
        joined.select(col("v").as("u"), col("m").as("v"))
          .union(joined.select(col("u"), col("m").as("v"))))
        .localCheckpoint(true)
      val nextSig = checksum(afterSmall)
      // exceptAll runs eagerly here (isEmpty), so the previous round's
      // checkpoint can be released either way
      converged = nextSig == sig &&
        afterSmall.exceptAll(edges).isEmpty
      releaseCheckpoint(afterLarge)
      releaseCheckpoint(edges)
      edges = afterSmall
      sig = nextSig
      round += 1
    }
    if (!converged) {
      releaseCheckpoint(edges)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "raise maxRounds (star contraction needs O(log n) rounds; " +
          "labels would otherwise be silently truncated)")
    }
    // fixed point: edges are star edges (node -> component min)
    edges.select(col("u").as("id"), col("v").as("rep"))
  }

  /** The CONSUMING form of near-dup clustering: keep one survivor per
    * cluster (the min-id representative), drop every other member —
    * what the pipeline materializes after pair evidence is clustered.
    * One semi-join against the survivor set; `clusters` is the output
    * of connectedComponents. */
  def keepClusterSurvivors(df: DataFrame, clusters: DataFrame,
      idCol: String, repsPresent: Boolean = false): DataFrame = {
    // General case: survivor = min PRESENT id per cluster, NOT
    // id === cluster_rep — in connectedComponents' filtered-ids mode
    // the representative can be an id outside the clusters frame (the
    // component min was filtered out), and an equality pick would
    // silently drop that whole cluster instead of keeping its smallest
    // surviving member. When the caller GUARANTEES every cluster_rep
    // appears as a row (clusters built with idsCoverEndpoints over the
    // same frame — dedupNearDup's shape), `repsPresent = true` replaces
    // the group-min exchange with a free map-side filter.
    val survivors =
      if (repsPresent)
        clusters.where(col(idCol) === col("cluster_rep"))
          .select(col(idCol))
      else
        clusters.groupBy("cluster_rep")
          .agg(min(col(idCol)).as(idCol))
          .select(col(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  /** End-to-end near-dup dedup: pairs (exact df-capped jaccard — the
    * 100-TB default, q70 rationale) → connected components → survivors.
    * The composition of q70 + q83 + keepClusterSurvivors as one call. */
  def dedupNearDup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Int = 1000, maxRounds: Int = 15): DataFrame = {
    // spanning edges, not all pairs (round 11): components only need
    // connectivity, and the exact-class contraction keeps them
    // IDENTICAL while exact-dup cliques emit c-1 edges instead of
    // c(c-1)/2 — the operator-of-record gets the same scale fix the
    // cluster queries got (see jaccardSpanningEdges' proof)
    val pairs = jaccardSpanningEdges(df, idCol, textCol, n, threshold,
      maxDocFreq)
    // maxRounds passes through (the non-convergence error says "raise
    // maxRounds" — that advice must be followable from this entry
    // point). pairsCanonical: spanning edges are duplicate-free with
    // id_a < id_b by construction (see connectedComponents' note)
    val clusters = connectedComponents(df.select(col(idCol)), pairs,
      idCol = idCol, maxRounds = maxRounds, idsCoverEndpoints = true,
      pairsCanonical = true)
    // repsPresent: clusters were built with idsCoverEndpoints over the
    // same frame, so every representative is a present row
    keepClusterSurvivors(df, clusters, idCol, repsPresent = true)
  }

  /** Corpus-global line deduplication (the RefinedWeb / MassiveText
    * boilerplate scrub): any line whose EXACT text occurs more than
    * `maxFreq` times across the whole corpus — nav bars, cookie banners,
    * share-button rows — is removed from every document it appears in.
    * Within-doc repeats count toward the census too (a line pasted twice
    * in one doc is as removable as one shared by two docs); per-doc
    * repetition RATE is the separate q72 signal.
    *
    * Returns one row per INPUT document (`id`, `clean_text`, `n_kept`,
    * `n_dropped`) — a doc that was 100% boilerplate survives with empty
    * text, so downstream joins never lose keys.
    *
    * Scale design: one shuffle censuses line frequency hash-partitioned
    * on the line itself; the census is then filtered to only the
    * over-threshold lines — a tiny fraction of distinct lines at any
    * corpus size — before the anti-join back (AQE broadcasts it when
    * small). The rebuild groups by doc id; `collect_list` is bounded by
    * a single document's line count, never corpus-scaled. */
  def lineDedupGlobal(df: DataFrame, idCol: String, textCol: String,
      maxFreq: Long = 1L): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val dups = lines.groupBy("line")
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") > maxFreq)
      .select("line")
    val kept = lines.join(dups, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"),
            col("line")))), x => x.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("__n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }
}
