package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

import graft.operators.Dedup

/** Streaming incremental near-dup — the continuous form of
  * [[graft.operators.Dedup.minhashLshIncremental]]: documents arrive
  * in micro-batches and each new document must be checked against
  * EVERYTHING seen so far, which a per-batch join cannot do (batch N
  * would only pair within itself). The LSH band buckets ARE the
  * state: a document's signature lands in `bands` buckets, and two
  * documents are candidates iff they share a bucket — so keying the
  * stateful operator by band key makes the state lookup the candidate
  * search.
  *
  * Each bucket folds through [[ClassBuckets.Fold]]: members grouped
  * by distinct signature ([[SigClass]]), one signature comparison per
  * class per arrival, the cap bounding classes. An arriving duplicate
  * joins its class and pairs with every earlier clique member at
  * est_jaccard 1.0. The production entry point [[nearDupPairsFor]]
  * derives the cap from stated corpus scale via [[maxBucketFor]];
  * an arrival with a NEW signature at a full bucket is scored against
  * the retained classes, then dropped from state with an
  * [[OverflowId]] MARKER row (est_jaccard -1.0).
  *
  * Emission: a pair is scored ONCE per shared band (same micro-batch
  * or later); cross-band repeats of the same pair are emitted per
  * band with identical scores — consumers are idempotent-upsert sinks
  * (the q107/S18 convention), or dedup on (id_new, id_old) with the
  * batch `distinct`. Within a micro-batch a bucket's arrivals sort by
  * id, so pairing is deterministic under Spark's unordered group
  * iterator.
  *
  * Parity contract (spec-pinned): the distinct (id_new, id_old,
  * est_jaccard) set over any prefix of the stream equals the batch
  * portable-LSH pass over the same documents — same signer
  * ([[Dedup.portableSignature]], one implementation), same
  * matching-fraction estimate, same HALF_UP rounding as Spark's
  * `round(x + 1e-9, 4)`. */
object NearDupStream {

  final case class StreamDoc(id: Long, text: String)

  /** One signed document in one of its band buckets. */
  final case class BandedDoc(bkey: String, id: Long, sig: Seq[Long])

  final case class NearDupPair(id_new: Long, id_old: Long,
    est_jaccard: Double)

  /** `id_old` of an overflow MARKER row: `(id, OverflowId, -1.0)`
    * means doc `id` arrived with a NEW signature at a bucket already
    * holding `maxBucket` signature classes and was scored against
    * the retained classes but NOT retained — recall against later
    * arrivals is lost for that doc in that band. Real pairs always
    * carry `est_jaccard >= 0` and `id_old >= 0` — filter
    * `est_jaccard >= 0` to consume pairs only. */
  val OverflowId: Long = -1L

  /** One distinct signature's members within a bucket: `ids` holds
    * every retained doc bearing `sig`, in arrival order. */
  final case class SigClass(sig: Seq[Long], ids: Seq[Long])

  /** Bucket membership, grouped by distinct signature; `ver` is the
    * [[StateVersion]] stamp. */
  final case class BucketState(ver: Int, classes: Seq[SigClass])

  /** Matching positions between two equal-length signatures. */
  private def matchCount(a: Seq[Long], b: Seq[Long]): Int = {
    var m = 0
    var j = 0
    while (j < a.length) { if (a(j) == b(j)) m += 1; j += 1 }
    m
  }

  private def estFor(m: Int, len: Int): Double =
    BigDecimal(m.toDouble / len + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fold one bucket's micro-batch arrivals through the shared
    * [[ClassBuckets.Fold]]: the score is the matching-position count,
    * emitted against every class (est is a pure function of the two
    * signatures); a bit-identical signature joins its class. */
  def pairBucket(maxBucket: Int)(bkey: String,
      docs: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[NearDupPair] =
    new ClassBuckets.Fold[BucketState, BandedDoc, Seq[Long], NearDupPair](
        "NearDupStream", maxBucket, Ordering.by(_.id)) {
      private val t = new ClassBuckets.Table[Seq[Long]]
      def stamp(s: BucketState) = s.ver
      def restore(s: BucketState) =
        s.classes.foreach(c => t.load(c.sig, c.ids))
      def render(ver: Int) = BucketState(ver, t.render(SigClass))
      def id(d: BandedDoc) = d.id
      def key(d: BandedDoc) = d.sig
      def own(d: BandedDoc) = t
      def score(d: BandedDoc, sig: Seq[Long]) = matchCount(d.sig, sig)
      def row(d: BandedDoc, old: Long, mc: Int) =
        NearDupPair(d.id, old, estFor(mc, d.sig.length))
      def marker(d: BandedDoc) = NearDupPair(d.id, OverflowId, -1.0)
    }.apply(docs, state)

  /** FLOOR of the derived signature-class cap. */
  val MaxBucket = 64

  /** [[ClassBuckets.classCap]] at the [[MaxBucket]] floor. */
  def maxBucketFor(expectedDocs: Long): Int =
    ClassBuckets.classCap(expectedDocs, MaxBucket)

  /** Wire a document stream into the banded stateful pairer — the
    * production entry point: callers state the corpus scale they
    * expect and the class cap derives via [[maxBucketFor]].
    *
    * CONSUMER CONTRACT: the output is pairs PLUS in-band
    * [[OverflowId]] marker rows (est_jaccard -1.0) — filter
    * `est_jaccard >= 0` to consume pairs; alert on anything else.
    * Marker counts are at-least-once EVENT counts (a replayed
    * overflow arrival re-marks — overflowed arrivals are
    * deliberately not persisted), so count distinct ids where exact
    * truncated-doc counts matter. */
  def nearDupPairsFor(docs: Dataset[StreamDoc], expectedDocs: Long,
      n: Int = 3, bands: Int = 4)(implicit spark: SparkSession)
      : Dataset[NearDupPair] =
    nearDupPairsCapped(docs, n, bands, maxBucketFor(expectedDocs))

  /** The band keys of one signature — ONE enumeration shared by the
    * stream wiring and the StreamProof state bound. Empty signatures
    * (word-free docs) land in no bucket, exactly as the wiring's
    * flatMap. */
  def bandKeysFor(sig: Seq[Long], bands: Int): Seq[String] = {
    val rows = 16 / bands
    if (sig.isEmpty) Seq.empty
    else (0 until bands).map { b =>
      s"$b:" + sig.slice(b * rows, (b + 1) * rows).mkString(",")
    }
  }

  /** [[nearDupPairsFor]] with an EXPLICIT class cap — for
    * memory-bounded deployments and proof harnesses; the cap is a
    * stated decision, never a default. */
  def nearDupPairsCapped(docs: Dataset[StreamDoc], n: Int,
      bands: Int, maxBucket: Int)(implicit spark: SparkSession)
      : Dataset[NearDupPair] = {
    // a cap < 1 retains nothing and emits only markers
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import spark.implicits._
    val banded = docs.flatMap { d =>
      val sig = Dedup.portableSignature(d.text, n).toSeq
      bandKeysFor(sig, bands).map(k => BandedDoc(k, d.id, sig))
    }
    banded.groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(pairBucket(maxBucket))
  }

  /** Pairs-only view of a [[nearDupPairsFor]] output: drops the
    * [[OverflowId]] marker rows so downstream aggregates can't ingest
    * a sentinel as a pair. Column-predicate filter (not a typed
    * lambda) so the stream plan stays in codegen. */
  def pairsOnly(out: Dataset[NearDupPair]): Dataset[NearDupPair] =
    out.filter(col("est_jaccard") >= 0)

  /** Marker-only view: the overflow EVENTS (at-least-once — a
    * replayed overflow arrival re-marks; count distinct `id_new`
    * where exact truncated-doc counts matter). Alert on any row. */
  def markersOnly(out: Dataset[NearDupPair]): Dataset[NearDupPair] =
    out.filter(col("est_jaccard") < 0)
}
