package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.operators.Dedup

/** Streaming SimHash near-dup matcher — the continuous form of
  * [[graft.operators.Dedup.simhashPairs]], the banded family's
  * popcount tier (exact = Curation, MinHash-LSH = NearDupStream, edit
  * distance = EditDistanceStream). The batch operator's band buckets
  * ARE the state: a 64-bit signature splits into equal-width bands
  * (4×16-bit at maxHamming ≤ 3, 8×8-bit at 4..7 — the same pigeonhole
  * radii as batch), a doc lands in one bucket per band, and two docs
  * are candidates iff they share a bucket; verify is the exact
  * popcount of the XOR, kept iff ≤ maxHamming.
  *
  * One signer implementation: [[Dedup.simhashSignature]], the batch
  * UDF's body — null/word-free docs sign 0L and DO pair with each
  * other at hamming 0, matching the batch plan's semantics.
  *
  * Each bucket folds through [[ClassBuckets.Fold]]: members grouped
  * by distinct signature ([[SigClass]]), one XOR per class per
  * arrival, the cap bounding classes. Memory per bucket is one
  * signature per class plus one 8-byte id per retained member: the id
  * payload is what exact pair re-expansion needs (an arriving
  * duplicate pairs with EVERY earlier clique member), so lossy
  * per-class id sampling is deliberately not offered.
  *
  * Emission: a pair is scored once per SHARED band; cross-band
  * repeats carry identical hammings — consumers dedup on
  * (id_new, id_old) with a batch `distinct`, the idempotent-upsert
  * convention shared by the whole streaming family.
  *
  * Parity contract (spec-pinned): the distinct canonicalized
  * (min id, max id, hamming) set over any stream prefix equals batch
  * [[Dedup.simhashPairs]] over the same documents. */
object SimHashStream {

  final case class StreamDoc(id: Long, text: String)

  /** One signed document in one of its band buckets. */
  final case class BandedSig(bkey: String, id: Long, simhash: Long)

  final case class HammingPair(id_new: Long, id_old: Long, hamming: Int)

  /** `id_old` of an overflow MARKER row: `(id, OverflowId, -1)` means
    * doc `id` arrived with a NEW signature at a bucket already holding
    * `maxBucket` signature classes and was verified against the
    * retained classes but NOT retained — recall against later
    * arrivals is lost for that doc in that band. Emitted once per
    * overflowing band, so a consumer alerts on ANY marker, or counts
    * them to size `maxBucket`. Real pairs always carry
    * `hamming >= 0` and `id_old >= 0` — filter `hamming >= 0` to
    * consume pairs only. */
  val OverflowId: Long = -1L

  /** One distinct signature's members within a bucket: `ids` holds
    * every retained doc bearing `sig`, in arrival order (min-id first
    * within a micro-batch — the fold sorts arrivals by id). */
  final case class SigClass(sig: Long, ids: Seq[Long])

  /** Bucket membership, grouped by distinct signature; `ver` is the
    * [[StateVersion]] stamp. */
  final case class BucketState(ver: Int, classes: Seq[SigClass])

  /** FLOOR of the derived bucket cap. SimHash bands have only
    * 2^width buckets (256 at the 8×8-bit geometry), so bucket
    * occupancy scales with the corpus: [[hammingPairsFor]] REQUIRES
    * `expectedDocs` and derives the cap via [[maxBucketFor]]; an
    * explicit cap goes through [[hammingPairsCapped]]. */
  val MaxBucket = 64

  /** [[ClassBuckets.classCap]] at the [[MaxBucket]] floor. It never
    * truncates within stated scale; a hot bucket's per-arrival verify
    * latency still scales with the signature DIVERSITY landing there
    * (one XOR per class inside a single-threaded group fold), so a
    * creeping micro-batch time at flat input volume means a bucket's
    * class count is growing, and the remedy is a stated cap. */
  def maxBucketFor(expectedDocs: Long): Int =
    ClassBuckets.classCap(expectedDocs, MaxBucket)

  private def requireRadius(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 7,
      s"simhash banding guarantees recall only to hamming 0..7; " +
        s"got maxHamming=$maxHamming")

  /** Fold one bucket's micro-batch arrivals through the shared
    * [[ClassBuckets.Fold]]: the score is the XOR popcount, kept iff
    * ≤ `maxHamming`; a hamming-0 arrival joins its signature's class. */
  def pairBucket(maxHamming: Int, maxBucket: Int)(bkey: String,
      docs: Iterator[BandedSig], state: GroupState[BucketState])
      : Iterator[HammingPair] =
    new ClassBuckets.Fold[BucketState, BandedSig, Long, HammingPair](
        "SimHashStream", maxBucket, Ordering.by(_.id)) {
      private val t = new ClassBuckets.Table[Long]
      def stamp(s: BucketState) = s.ver
      def restore(s: BucketState) =
        s.classes.foreach(c => t.load(c.sig, c.ids))
      def render(ver: Int) = BucketState(ver, t.render(SigClass))
      def id(d: BandedSig) = d.id
      def key(d: BandedSig) = d.simhash
      def own(d: BandedSig) = t
      def score(d: BandedSig, sig: Long) = {
        val h = java.lang.Long.bitCount(d.simhash ^ sig)
        if (h <= maxHamming) h else -1
      }
      def row(d: BandedSig, old: Long, h: Int) = HammingPair(d.id, old, h)
      def marker(d: BandedSig) = HammingPair(d.id, OverflowId, -1)
    }.apply(docs, state)

  /** The radius-dependent band keys of one signature — ONE
    * enumeration shared by the stream wiring, the StreamProof state
    * bound, and the spec. Geometry matches batch [[Dedup.simhashPairs]]
    * exactly: 4×16-bit bands at maxHamming ≤ 3, 8×8-bit at 4..7. */
  def bandKeys(sig: Long, maxHamming: Int): Seq[String] = {
    requireRadius(maxHamming)
    val nBands = if (maxHamming <= 3) 4 else 8
    val width = 64 / nBands
    val mask = (1L << width) - 1
    (0 until nBands).map(b => s"$b:${(sig >>> (b * width)) & mask}")
  }

  /** Wire a document stream into the banded stateful verifier. Band
    * geometry matches batch [[Dedup.simhashPairs]] exactly, so the
    * pigeonhole recall guarantee (complete up to hamming bands-1, and
    * in practice to the verify radius via multi-band agreement) is
    * the batch one. The bucket cap derives from `expectedDocs` via
    * [[maxBucketFor]]; an explicit cap goes through
    * [[hammingPairsCapped]].
    *
    * CONSUMER CONTRACT: the output is pairs PLUS in-band
    * [[OverflowId]] marker rows (hamming -1) — a consumer that
    * aggregates without filtering `hamming >= 0` ingests markers as
    * pairs (a min/avg goes negative). Filter `hamming >= 0` for
    * pairs; alert on anything else. Marker counts are at-least-once
    * EVENT counts (a replayed overflow arrival re-marks — overflowed
    * arrivals are deliberately not persisted), so count distinct ids
    * where exact truncated-doc counts matter.
    *
    * `expectedDocs` sits in the second positional slot, and the name
    * is `hammingPairsFor` rather than `hammingPairs`, so that a call
    * passing the radius positionally (Int widening to Long) fails to
    * compile instead of silently running a different band geometry. */
  def hammingPairsFor(docs: Dataset[StreamDoc], expectedDocs: Long,
      maxHamming: Int = 7)(
      implicit spark: SparkSession): Dataset[HammingPair] =
    hammingPairsCapped(docs, maxHamming, maxBucketFor(expectedDocs))

  /** [[hammingPairsFor]] with an EXPLICIT class cap — for
    * memory-bounded deployments and proof harnesses; the cap is a
    * stated decision, never a default. */
  def hammingPairsCapped(docs: Dataset[StreamDoc], maxHamming: Int,
      maxBucket: Int)(
      implicit spark: SparkSession): Dataset[HammingPair] = {
    requireRadius(maxHamming)
    // a cap < 1 retains nothing and emits only markers
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import spark.implicits._
    val banded = docs.flatMap { d =>
      val sig = Dedup.simhashSignature(d.text)
      bandKeys(sig, maxHamming).map(k => BandedSig(k, d.id, sig))
    }
    banded.groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(pairBucket(maxHamming, maxBucket))
  }

  /** Pairs-only view of a [[hammingPairsFor]] output: drops the
    * [[OverflowId]] marker rows so downstream aggregates can't ingest
    * a sentinel as a pair. Column-predicate filter (not a typed
    * lambda) so the stream plan stays in codegen. */
  def pairsOnly(out: Dataset[HammingPair]): Dataset[HammingPair] =
    out.filter(col("hamming") >= 0)

  /** Marker-only view: the overflow EVENTS (at-least-once — a
    * replayed overflow arrival re-marks; count distinct `id_new`
    * where exact truncated-doc counts matter). Alert on any row. */
  def markersOnly(out: Dataset[HammingPair]): Dataset[HammingPair] =
    out.filter(col("hamming") < 0)
}
