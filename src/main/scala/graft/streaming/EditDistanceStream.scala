package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.operators.EditDistanceJoin

/** Streaming fuzzy (edit-distance) self-match — the continuous form
  * of [[graft.operators.EditDistanceJoin.selfJoin]], the similarity
  * family's PassJoin tier. Documents arrive in micro-batches and each
  * new string must match against EVERYTHING seen so far within edit
  * distance `tau`, which a per-batch join cannot do — so the PassJoin
  * BLOCK KEY (slot, source length, segment bytes) becomes the state
  * key: the partition lemma says two strings within tau share at
  * least one block key in the index/probe discipline, so keying state
  * by block makes the state lookup the candidate search, with NO
  * quadratic pass anywhere.
  *
  * Per arriving string the flatMap emits the same rows the batch
  * operator's two sides generate — tau+1 INDEX segments of its own
  * partition layout, and the multi-match-aware PROBE substrings
  * against every candidate source length in [m-tau, m+tau] (ONE
  * enumeration implementation, [[entriesFor]], mirroring
  * selfJoin's pairsAmong line for line). Strings of length <= tau
  * ride a dedicated degenerate key as both roles, the streaming twin
  * of the batch short-bucket cross join.
  *
  * Each block folds through [[ClassBuckets.Fold]] over two tables,
  * its index and probe roles, each grouped by DISTINCT STRING
  * ([[StrClass]]): an entry is verified once per OPPOSITE-role class
  * and joins its own role's class. THE CAP — `maxBlock` distinct
  * string classes per role, first-seen kept — IS A RECALL BOUNDARY:
  * an overflow arrival is verified against the stored classes but not
  * stored, and emits an [[OverflowId]] MARKER row (dist -1). The batch
  * parity contract below holds unconditionally only while no (block,
  * role)'s distinct-string diversity exceeds the cap. The production
  * entry point [[editPairsFor]] derives the cap from stated corpus
  * scale via [[maxBlockFor]]; a deployment that must bound per-block
  * state below the corpus's real diversity states that through
  * [[editPairsCapped]].
  *
  * Candidates verify INSIDE the fold with
  * [[EditDistanceJoin.boundedLevenshtein]] (the local twin of the
  * engine's 3-arg levenshtein — parity spec-pinned), so a pair costs
  * O(tau * len) exactly like the batch verify. A pair reachable
  * through several block keys is emitted once per key with identical
  * distances; the parity contract is therefore on the DISTINCT
  * (id_a, id_b, dist) set over any stream prefix, which must equal
  * the batch selfJoin over the same strings whenever no block
  * overflows its cap — the same contract NearDupStream pins for the
  * LSH tier. Replayed ids (at-least-once
  * sources) are skipped per key and role: exactly-once pairing on
  * top of at-least-once delivery. */
object EditDistanceStream {

  final case class StreamStr(id: Long, s: String)

  /** One keyed row: a string acting as block `bkey`'s index segment
    * (isIndex) or probe substring. */
  final case class BlockEntry(bkey: String, isIndex: Boolean,
    id: Long, s: String)

  final case class EditPair(id_a: Long, id_b: Long, dist: Int)

  /** `id_b` of an overflow MARKER row: `(id, OverflowId, -1)` means
    * `id` arrived with a NEW string at a (block, role) already
    * holding `maxBlock` string classes and was verified against the
    * opposite role's retained classes but NOT retained — recall
    * against later opposite-role arrivals is lost for that id in
    * that block. Real pairs always carry `dist >= 0` — filter on it
    * to consume pairs only. */
  val OverflowId: Long = -1L

  /** One distinct string's members within a (block, role): `ids`
    * holds every retained entry bearing `s`, in arrival order. */
  final case class StrClass(s: String, ids: Seq[Long])

  /** Block membership, both roles, grouped by distinct string;
    * `ver` is the [[StateVersion]] stamp. */
  final case class BlockState(ver: Int, idx: Seq[StrClass],
    prb: Seq[StrClass])

  /** FLOOR of the derived per-role string-class cap. */
  val MaxBlock = 256

  /** [[ClassBuckets.classCap]] at the [[MaxBlock]] floor. */
  def maxBlockFor(expectedDocs: Long): Int =
    ClassBuckets.classCap(expectedDocs, MaxBlock)

  /** The batch operator's block-key enumeration, verbatim:
    * [[EditDistanceJoin.blockEntries]] IS the single implementation
    * (segment layout, probe window, shift/delta budget, short key) —
    * the parity contract depends on the two sides enumerating
    * identically, so the stream only re-shapes the shared tuples. */
  private[graft] def entriesFor(d: StreamStr, tau: Int): Seq[BlockEntry] =
    EditDistanceJoin.blockEntries(d.id, d.s, tau).map {
      case (bkey, isIdx, id, s) => BlockEntry(bkey, isIdx, id, s)
    }

  /** Fold one block's micro-batch arrivals through the shared
    * [[ClassBuckets.Fold]] over the index and probe roles: an entry
    * is scored by boundedLevenshtein against the OPPOSITE role's
    * classes, pairs ordered (min id, max id) and never with its own
    * id (a doc's index and probe entries meet in its own blocks).
    * Arrivals fold in (id, index-before-probe) order; replays are
    * skipped per role. */
  def pairBlock(tau: Int, maxBlock: Int)(bkey: String,
      entries: Iterator[BlockEntry],
      state: GroupState[BlockState]): Iterator[EditPair] =
    new ClassBuckets.Fold[BlockState, BlockEntry, String, EditPair](
        "EditDistanceStream", maxBlock,
        Ordering.by(e => (e.id, !e.isIndex))) {
      private val idx = new ClassBuckets.Table[String]
      private val prb = new ClassBuckets.Table[String]
      def stamp(s: BlockState) = s.ver
      def restore(s: BlockState) = {
        s.idx.foreach(c => idx.load(c.s, c.ids))
        s.prb.foreach(c => prb.load(c.s, c.ids))
      }
      def render(ver: Int) =
        BlockState(ver, idx.render(StrClass), prb.render(StrClass))
      def id(e: BlockEntry) = e.id
      def key(e: BlockEntry) = e.s
      def own(e: BlockEntry) = if (e.isIndex) idx else prb
      override def against(e: BlockEntry) = if (e.isIndex) prb else idx
      def score(e: BlockEntry, s: String) =
        EditDistanceJoin.boundedLevenshtein(e.s, s, tau)
      def row(e: BlockEntry, other: Long, d: Int) =
        EditPair(math.min(e.id, other), math.max(e.id, other), d)
      def marker(e: BlockEntry) = EditPair(e.id, OverflowId, -1)
    }.apply(entries, state)

  /** Wire a string stream into the block-keyed stateful matcher —
    * the production entry point: callers state the corpus scale they
    * expect and the per-role class cap derives via [[maxBlockFor]].
    *
    * CONSUMER CONTRACT: the output is pairs PLUS in-band
    * [[OverflowId]] marker rows (dist -1) — filter `dist >= 0` to
    * consume pairs; alert on anything else. Marker counts are
    * at-least-once EVENT counts (a replayed overflow arrival
    * re-marks — overflowed arrivals are deliberately not persisted),
    * so count distinct ids where exact truncated-doc counts
    * matter. */
  def editPairsFor(docs: Dataset[StreamStr], tau: Int,
      expectedDocs: Long)(
      implicit spark: SparkSession): Dataset[EditPair] =
    editPairsCapped(docs, tau, maxBlockFor(expectedDocs))

  /** [[editPairsFor]] with an EXPLICIT per-role class cap — for
    * memory-bounded deployments and proof harnesses; the cap is a
    * stated decision, never a default. */
  def editPairsCapped(docs: Dataset[StreamStr], tau: Int,
      maxBlock: Int)(
      implicit spark: SparkSession): Dataset[EditPair] = {
    import spark.implicits._
    require(tau >= 1, "tau must be >= 1")
    require(maxBlock >= 1, "maxBlock must be >= 1")
    docs.flatMap(entriesFor(_, tau))
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(pairBlock(tau, maxBlock))
  }

  /** Pairs-only view of an [[editPairsFor]] output: drops the
    * [[OverflowId]] marker rows so downstream aggregates can't ingest
    * a sentinel as a pair. Column-predicate filter (not a typed
    * lambda) so the stream plan stays in codegen. */
  def pairsOnly(out: Dataset[EditPair]): Dataset[EditPair] =
    out.filter(col("dist") >= 0)

  /** Marker-only view: the overflow EVENTS (at-least-once — a
    * replayed overflow arrival re-marks; count distinct `id_a` where
    * exact truncated-doc counts matter). Alert on any row. */
  def markersOnly(out: Dataset[EditPair]): Dataset[EditPair] =
    out.filter(col("dist") < 0)
}
