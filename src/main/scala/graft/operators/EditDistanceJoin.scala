package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) self-join with PassJoin segment
  * blocking — all pairs within distance `tau`, without the O(n²)
  * cross join.
  *
  * Pigeonhole (Li, Deng & Feng, "PASS-JOIN: A Partition-based Method
  * for Similarity Joins", PVLDB 2011): partition a string s into
  * tau+1 contiguous segments; if ed(s, t) <= tau, an optimal alignment
  * has at most tau edit operations, so at least one segment of s is
  * untouched — it appears EXACTLY in t, shifted by at most tau
  * positions. Blocking on (segment index, source length, segment text)
  * therefore finds every qualifying pair.
  *
  * Plan shape (the 100-TB design):
  *   - INDEX side: strings of length >= tau+1 emit their tau+1
  *     segments — O(tau) rows per string, each a short key.
  *   - PROBE side: every string t emits, for each segment slot i and
  *     each plausible source length l in [len(t)-tau, len(t)+tau], the
  *     substrings of t at positions within tau of the slot's position
  *     — O(tau³) short rows per string, a CONSTANT per-row factor.
  *   - One equality shuffle join on (slot, source length, text) —
  *     bucket-local work, never all-pairs — then the codegen'd
  *     `levenshtein() <= tau` verify and a (least, greatest) distinct.
  *   - Strings shorter than tau+1 can only match strings of length
  *     <= 2*tau (ed >= length gap), so they pair inside one dedicated
  *     near-empty bucket (all-pairs over degenerate sub-tau-length
  *     strings; bounded by the alphabet, not the corpus).
  *
  * Length filtering is implicit: the probe only generates source
  * lengths within tau of its own, so |len(s)-len(t)| <= tau holds for
  * every candidate by construction.
  *
  * Determinism: output is the exact pair set with the exact distance —
  * integer-valued, engine-independent (both engines implement the
  * standard unit-cost Levenshtein DP) — so the oracle is a brute-force
  * SQL cross join.
  */
object EditDistanceJoin {

  /** PassJoin segment layout for length l with tau+1 slots: the first
    * `(tau+1) - l % (tau+1)` slots get floor(l/(tau+1)) chars, the
    * rest one more — (start 1-based, length) per slot. */
  private[graft] def segments(l: Int, tau: Int): Array[(Int, Int)] = {
    val k = tau + 1
    val base = l / k
    val longer = l % k
    val out = new Array[(Int, Int)](k)
    var start = 1
    var i = 0
    while (i < k) {
      val len = if (i < k - longer) base else base + 1
      out(i) = (start, len)
      start += len
      i += 1
    }
    out
  }

  private val selfJoinSlot = ReleaseSlot()

  /** Banded unit-cost Levenshtein with early abandon — the LOCAL twin
    * of Spark's 3-arg `levenshtein(l, r, tau)` expression (same
    * contract: the distance when <= tau, -1 past it; parity pinned by
    * spec against the engine expression, boundary values included).
    * Exists for executors that verify candidates OUTSIDE a Column
    * context — the streaming PassJoin matcher's per-group fold —
    * where constructing a one-row DataFrame per candidate would cost
    * a plan per pair. O(tau * max(n, m)) via a 2tau+1 diagonal band. */
  private[graft] def boundedLevenshtein(aStr: String, bStr: String,
      tau: Int): Int = {
    // CODE POINTS, not UTF-16 units: the engine expression counts
    // Unicode code points, so a supplementary character (emoji, rare
    // CJK) is ONE edit — a charAt-based DP would count two and
    // silently break the parity contract on astral-plane text
    val a = aStr.codePoints().toArray
    val b = bStr.codePoints().toArray
    val n = a.length; val m = b.length
    if (math.abs(n - m) > tau) return -1
    if (n == 0) return m // <= tau via the guard above
    if (m == 0) return n
    val inf = tau + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, tau)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      // first column is a genuine cell only while it sits in the band
      if (i <= tau) cur(0) = i
      var rowMin = cur(0)
      val lo = math.max(1, i - tau)
      val hi = math.min(m, i + tau)
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > inf) v = inf // clamp: keeps the band's sentinels finite
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > tau) return -1 // early abandon: band exhausted
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) <= tau) prev(m) else -1
  }

  /** All pairs (id_a < id_b) with levenshtein(str_a, str_b) <= tau.
    * Output: (id_a, id_b, dist).
    *
    * DUPLICATION-ADAPTIVE via [[Dedup.adaptiveSelfPairs]] (round 13
    * consolidated the hand-rolled r12 contraction onto the shared
    * harness — one implementation of census/gate/routing/re-expansion
    * across the whole pair-emitter family, and this operator gained
    * the suspect tiers with it: a lightly-duplicated corpus now
    * contracts ONLY the duplicated strings through an IN-set or
    * broadcast filter instead of group-by-ing the entire corpus).
    * Census = xxhash64 over the raw string (routing-only in both
    * directions); classes key on the exact string; intra-class pairs
    * are dist=0 by construction and cross-class pairs lift from
    * representative pairs (ed(X,Y) = ed(rep(X),rep(Y)) when X,Y equal
    * their reps byte-for-byte) — the emitted set is bit-identical to
    * the uncontracted plan's. Without contraction, c-member duplicate
    * cliques make the segment-block candidate set — and the
    * Levenshtein verify — quadratic per clique: the 100× tier's c=100
    * cliques meant ~25M verify calls and a watchdog kill.
    * Duplicate-free corpora keep the original single-pass unpersisted
    * plan; their only overhead is one hash-scan census agg.
    *
    * Repeated ids (a degenerate input — every real caller keys by
    * document id) keep the uncontracted plan verbatim: the membership
    * lift's bit-identity proof assumes ids identify rows, and
    * pairsAmong's `id_l =!= id_r` + dropDuplicates guards preserve
    * the pre-adaptive behavior exactly. The ids gate is now over the
    * RAW rows (null strings included), which is strictly more
    * conservative than the r12 slim-level gate.
    *
    * Input contract: `df` must be DETERMINISTIC under re-execution —
    * the census, the index side, and the probe side each re-read the
    * caller's lineage on the dup-free path (a persist pins a snapshot
    * only on the contraction tiers that re-read wholesale). A caller
    * whose frame derives from sampling / rand / shuffle-order-
    * dependent expressions, or whose lineage is expensive enough that
    * ~4 column-pruned re-reads beat a cache, should persist `df`
    * itself before calling. */
  def selfJoin(df: DataFrame, idCol: String, strCol: String, tau: Int)
      : DataFrame = {
    require(tau >= 1, "tau must be >= 1")
    val slim = df.select(col(idCol).cast("long").as("id"),
        col(strCol).as("s"))
      .where(col("s").isNotNull)
    Dedup.adaptiveSelfPairs(
      df.select(col(idCol).cast("long").as("id"),
        xxhash64(col(strCol)).as("dg")),
      slim, "id", Seq("s"),
      sets => pairsAmong(sets, tau),
      lit(0), "dist", selfJoinSlot.pins(df.sparkSession))
  }

  /** The PassJoin pipeline proper, over a (id, s) frame assumed
    * duplicate-free (or whose duplicates the caller accepts paying
    * for): segment index ⋈ probe substrings on the shared block-key
    * enumeration ([[blockEntries]] — ONE implementation for this
    * batch plan AND the streaming matcher, so the two can never
    * drift), candidate dedup, banded Levenshtein verify. The
    * degenerate short bucket (both sides length <= tau) rides the
    * same equality join through its dedicated "S" key — the former
    * explicit cross join, expressed as block discipline (PlanSpec
    * still asserts no CartesianProduct anywhere in the q115 plan). */
  private def pairsAmong(base: DataFrame, tau: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val entries = base.as[(Long, String)].flatMap { case (id, s) =>
      blockEntries(id, s, tau)
    }.toDF("bkey", "is_index", "id", "s")
    val idx = entries.where(col("is_index"))
      .select(col("bkey"), col("id").as("id_l"), col("s").as("s_l"))
    val prb = entries.where(!col("is_index"))
      .select(col("bkey"), col("id").as("id_r"), col("s").as("s_r"))
    // INLINE verify BEFORE the dedup (round 19, guide §2.3 — the q23/
    // q22 shape): both strings are already in the joined row, so the
    // banded DP runs in the join stage and the dedup exchange ships
    // only VERIFIED (id_a, id_b, dist) triples — the old
    // dropDuplicates-first form shuffled BOTH full strings for EVERY
    // candidate row (most of which fail the verify), paying string
    // bytes x candidate volume through the exchange at corpus scale.
    // The trade: a pair found via several block keys now pays the DP
    // once per candidate row instead of once per pair — but the 3-arg
    // levenshtein is the banded early-abandon DP (O(tau*n) on rows
    // whose lengths already agree within tau), row-local CPU that
    // whole-stage codegen fuses into the join, vs a corpus-scale
    // exchange of string payloads. Every row of a (id_a, id_b) group
    // verifies to the same distance (levenshtein is symmetric), so
    // distinct over the verified triple = the old distinct over the
    // pair; the partial HashAggregate below the exchange also dedups
    // same-task duplicate candidates before they ship.
    idx.join(prb, Seq("bkey"))
      .where(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        // 3-arg levenshtein = banded DP with early abandon at tau
        // (O(tau*n) per pair instead of O(n^2)); -1 marks "past tau"
        levenshtein(col("s_l"), col("s_r"), tau).as("dist"))
      .where(col("dist") >= 0)
      .distinct()
  }

  /** The PassJoin block-key enumeration for one string: its tau+1
    * INDEX segments (when length >= tau+1), its multi-match-aware
    * PROBE substrings against every candidate source length in
    * [m-tau, m+tau], and — for strings of length <= tau — the
    * degenerate "S" key in BOTH roles (the short-bucket cross
    * pairing as block discipline). Key format "slot:len:segment" is
    * injective: slot and len are decimal (no colons), so the first
    * two fields parse unambiguously whatever bytes the segment
    * holds. ONE implementation, shared verbatim by the batch join
    * and [[graft.streaming.EditDistanceStream]] — the stream-vs-
    * batch parity contract depends on the two sides enumerating
    * identically, so divergence must be impossible, not merely
    * tested. Returns (bkey, isIndex, id, s). */
  private[graft] def blockEntries(id: Long, s: String,
      tau: Int): Seq[(String, Boolean, Long, String)] = {
    if (s == null) return Seq.empty
    val m = s.length
    val idx =
      if (m < tau + 1) Seq.empty
      else segments(m, tau).iterator.zipWithIndex.map {
        case ((start, len), slot) =>
          (s"$slot:$m:" + s.substring(start - 1, start - 1 + len),
            true, id, s)
      }.toSeq
    val prb = (for {
      l <- (math.max(tau + 1, m - tau) to (m + tau)).iterator
      ((start, len), slot) <- segments(l, tau).iterator.zipWithIndex
      q <- (math.max(1, start - tau) to
        math.min(m - len + 1, start + tau)).iterator
      // multi-match-aware window: with shift = q-start and
      // delta = m-l, the edits BEFORE the segment must absorb
      // |shift| alignment drift and the edits AFTER must absorb
      // |delta-shift| — both from the same budget of tau ops, so
      // |shift| + |delta-shift| <= tau or the candidate can't verify
      if math.abs(q - start) + math.abs((m - l) - (q - start)) <= tau
    } yield (s"$slot:$l:" + s.substring(q - 1, q - 1 + len),
      false, id, s)).toSeq
    val short =
      if (m <= tau) Seq(("S", true, id, s), ("S", false, id, s))
      else Seq.empty
    idx ++ prb ++ short
  }
}
