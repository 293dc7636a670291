package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup
import graft.streaming.SimHashStream
import graft.streaming.SimHashStream.StreamDoc

/** Streaming SimHash matcher (round-14, closing the streaming
  * surface's last banded form): the distinct canonicalized
  * (min id, max id, hamming) set over any stream prefix must equal
  * batch Dedup.simhashPairs over the same documents — the
  * NearDupStream/EditDistanceStream parity contract applied to the
  * SimHash tier — with bounded state. */
class SimHashStreamSpec extends SparkSuite {

  private def canon(t: (Long, Long, Int)): (Long, Long, Int) =
    (math.min(t._1, t._2), math.max(t._1, t._2), t._3)

  test("stream-vs-batch pair parity on a designed corpus: exact dups, " +
      "null/empty zero-signature docs, cross-batch discovery, " +
      "at-least-once replay — with bounded state") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val base =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val variant =
      "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val b1 = Seq(
      StreamDoc(1L, base),
      StreamDoc(2L, variant),
      StreamDoc(3L, "totally different words here entirely unrelated"),
      StreamDoc(4L, null))
    val b2 = Seq(
      StreamDoc(10L, base), // exact dup of 1, later batch
      StreamDoc(11L, ""), // zero signature: pairs doc 4 at hamming 0
      StreamDoc(12L, variant)) // exact dup of 2, cross-batch
    val input = MemoryStream[StreamDoc](s)
    val query = SimHashStream.hammingPairsFor(input.toDS(),
        expectedDocs = 7, maxHamming = 7)
      .writeStream.format("memory").queryName("simhash_pairs")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      input.addData(b1.head) // at-least-once replay of doc 1
      query.processAllAvailable()
      val streamSet =
        s.sql("SELECT id_new, id_old, hamming FROM simhash_pairs")
          .collect().map(r => canon((r.getLong(0), r.getLong(1),
            r.getInt(2)))).toSet
      val batchSet = Dedup.simhashPairs(
          (b1 ++ b2).map(d => (d.id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(streamSet === batchSet,
        s"stream=$streamSet\nbatch=$batchSet")
      assert(Set((1L, 10L, 0), (2L, 12L, 0), (4L, 11L, 0))
        .subsetOf(streamSet), streamSet.toString)
      // bounded state: at most one state row per distinct band bucket
      // the corpus occupies (the stream's own enumeration — one
      // implementation)
      val maxBuckets = (b1 ++ b2).flatMap(d =>
        SimHashStream.bandKeys(
          graft.operators.Dedup.simhashSignature(d.text), 7))
        .distinct.size
      val stateRows = query.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows > 0 && stateRows <= maxBuckets,
        s"state rows $stateRows vs bound $maxBuckets")
    } finally query.stop()
  }

  test("randomized stream-vs-batch parity with heavy duplication " +
      "(3 batches, 60 docs from a 6-doc pool — every bucket collides)") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val rnd = new scala.util.Random(1414)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val pool = (0 until 6).map(_ =>
      (0 until 5 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    val docs = (0 until 60).map(i =>
      StreamDoc(i.toLong, pool(rnd.nextInt(pool.size))))
    val batches = docs.grouped(20).toSeq
    val input = MemoryStream[StreamDoc](s)
    val query = SimHashStream.hammingPairsFor(input.toDS(),
        expectedDocs = 60, maxHamming = 3)
      .writeStream.format("memory").queryName("simhash_pairs_rnd")
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      val streamSet =
        s.sql("SELECT id_new, id_old, hamming FROM simhash_pairs_rnd")
          .collect().map(r => canon((r.getLong(0), r.getLong(1),
            r.getInt(2)))).toSet
      val batchSet = Dedup.simhashPairs(
          docs.map(d => (d.id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(streamSet === batchSet,
        s"missing=${(batchSet -- streamSet).take(10)} " +
          s"extra=${(streamSet -- batchSet).take(10)}")
      assert(streamSet.nonEmpty, "degenerate fixture: no pairs at all")
    } finally query.stop()
  }

  test("duplicate arrivals never spend cap and re-expand against the " +
      "whole clique (stream form of the batch contraction), with " +
      "state one row per bucket regardless of clique size") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val base = "alpha beta gamma delta epsilon"
    val input = MemoryStream[StreamDoc](s)
    // cap 1: a member-counted cap would truncate at the second doc;
    // the class-counted cap must not
    val query = SimHashStream.hammingPairsCapped(input.toDS(),
        maxHamming = 7, maxBucket = 1)
      .writeStream.format("memory").queryName("simhash_pairs_cap")
      .outputMode("append").start()
    try {
      input.addData(StreamDoc(1L, base), StreamDoc(2L, base))
      query.processAllAvailable()
      input.addData(StreamDoc(3L, base))
      query.processAllAvailable()
      // a LATER duplicate still pairs with every earlier clique
      // member (the batch re-expansion semantics, spec-pinned)
      input.addData(StreamDoc(5L, base))
      query.processAllAvailable()
      val rows =
        s.sql("SELECT id_new, id_old, hamming FROM simhash_pairs_cap")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val got = rows.filter(_._3 >= 0).map(canon).toSet
      assert(got === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0),
        (1L, 5L, 0), (2L, 5L, 0), (3L, 5L, 0)), got.toString)
      assert(rows.forall(_._3 >= 0),
        s"no marker may fire for duplicates: ${rows.toSeq}")
      // state stays ONE row per occupied bucket (one class in each) —
      // bounded by base's band keys, not by the 4 retained members
      val stateRows = query.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows ===
        SimHashStream.bandKeys(Dedup.simhashSignature(base), 7)
          .distinct.size.toLong,
        s"state rows $stateRows")
    } finally query.stop()
  }

  test("pairBucket fold semantics (unit): a NEW signature at a full " +
      "bucket verifies against retained classes, marks, and is " +
      "dropped; duplicates join their class; replays are skipped") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.SimHashStream.{BandedSig, BucketState}
    def fold(st: Option[BucketState], docs: Seq[BandedSig])
        : (Seq[(Long, Long, Int)], Option[BucketState]) = {
      val gs = TestGroupState.create[BucketState](
        org.apache.spark.api.java.Optional.fromNullable(st.orNull),
        GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty[Long](),
        false)
      val out = SimHashStream.pairBucket(maxHamming = 3, maxBucket = 1)(
        "0:42", docs.iterator, gs).toSeq
        .map(p => (p.id_new, p.id_old, p.hamming))
      (out, if (gs.exists) Some(gs.get) else st)
    }
    val sigA = 0xF0F0L
    val sigB = sigA ^ 3L // hamming 2: inside the radius, not a dup
    // batch 1: 1 claims the class, 2 joins it (h=0 pair), 3's new
    // signature finds the bucket full — verified (pairs at h=2 with
    // BOTH members), marked, dropped
    val (out1, st1) = fold(None, Seq(
      BandedSig("0:42", 2L, sigA), BandedSig("0:42", 1L, sigA),
      BandedSig("0:42", 3L, sigB)))
    assert(out1.toSet === Set((2L, 1L, 0), (3L, 1L, 2), (3L, 2L, 2),
      (3L, SimHashStream.OverflowId, -1)), out1.toString)
    assert(st1.get.classes.map(c => (c.sig, c.ids)) ===
      Seq((sigA, Seq(1L, 2L))), st1.toString)
    // batch 2: a later duplicate (4) re-expands against the whole
    // clique and joins it; 3 is GONE from state (recall lost exactly
    // there — it does not pair again); a replay of 1 emits nothing
    val (out2, st2) = fold(st1, Seq(
      BandedSig("0:42", 4L, sigA), BandedSig("0:42", 1L, sigA)))
    assert(out2.toSet === Set((4L, 1L, 0), (4L, 2L, 0)), out2.toString)
    assert(st2.get.classes.map(c => (c.sig, c.ids)) ===
      Seq((sigA, Seq(1L, 2L, 4L))), st2.toString)
  }

  test("a restored state with a stale version stamp fails fast with " +
      "the named error, not a wrong-behavior restore (round-18 " +
      "checkpoint guard)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout,
      TestGroupState}
    import graft.streaming.{StateVersion => SV}
    import graft.streaming.SimHashStream.{BandedSig, BucketState,
      SigClass}
    // a synthetically down-versioned state: same schema, older stamp
    val stale = BucketState(SV.Current - 1,
      Seq(SigClass(42L, Seq(1L))))
    val gs = TestGroupState.create[BucketState](
      org.apache.spark.api.java.Optional.of(stale),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      false)
    val e = intercept[IllegalStateException] {
      SimHashStream.pairBucket(maxHamming = 3, maxBucket = 64)(
        "0:42", Iterator(BandedSig("0:42", 2L, 42L)), gs).toSeq
    }
    assert(e.getMessage.contains("state version"), e.getMessage)
    assert(e.getMessage.contains("SimHashStream"), e.getMessage)
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("maxBucketFor derives the class cap as the stated corpus " +
      "size itself: classes <= docs is a theorem, occupancy models " +
      "were measured wrong") {
    import graft.streaming.ClassBuckets
    assert(SimHashStream.MaxBucket === 64)
    assert(SimHashStream.maxBucketFor(1000000L) === 1000000)
    // tiny corpus: floor at the production default
    assert(SimHashStream.maxBucketFor(10L) === SimHashStream.MaxBucket)
    // clamped to Int range for huge stated scales
    assert(SimHashStream.maxBucketFor(Long.MaxValue) === Int.MaxValue)
    for (n <- Seq(0L, 10L, 64L, 65L, 1000000L, Long.MaxValue))
      assert(SimHashStream.maxBucketFor(n) ===
        ClassBuckets.classCap(n, SimHashStream.MaxBucket))
    // the radius guard applies to the band geometry, which the cap no
    // longer depends on
    intercept[IllegalArgumentException] {
      SimHashStream.bandKeys(0L, 8)
    }
  }

  test("pairsOnly/markersOnly split a stream output into disjoint " +
      "covering views — and pairsOnly composes INTO the streaming " +
      "plan (column predicate, not a typed lambda)") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val base = "alpha beta gamma delta epsilon"
    val other = "totally different words here entirely unrelated"
    val input = MemoryStream[StreamDoc](s)
    // cap 1 + two distinct signatures sharing no bucket semantics:
    // doc 3's new signature overflows wherever it collides, so the
    // raw output carries BOTH pairs and markers
    val raw = SimHashStream.hammingPairsCapped(input.toDS(),
      maxHamming = 7, maxBucket = 1)
    val query = SimHashStream.pairsOnly(raw)
      .writeStream.format("memory").queryName("simhash_pairs_only")
      .outputMode("append").start()
    try {
      input.addData(StreamDoc(1L, base), StreamDoc(2L, base),
        StreamDoc(3L, other))
      query.processAllAvailable()
      input.addData(StreamDoc(4L, other)) // overflow: bucket holds base
      query.processAllAvailable()
      val sunk =
        s.sql("SELECT id_new, id_old, hamming FROM simhash_pairs_only")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(sunk.nonEmpty && sunk.forall(_._3 >= 0),
        s"markers leaked through pairsOnly: ${sunk.toSeq}")
    } finally query.stop()
    // batch form: the two views partition the output exactly
    import graft.streaming.SimHashStream.HammingPair
    val out = Seq(HammingPair(2L, 1L, 0),
      HammingPair(3L, SimHashStream.OverflowId, -1)).toDS()
    assert(SimHashStream.pairsOnly(out).collect().toSet ===
      Set(HammingPair(2L, 1L, 0)))
    assert(SimHashStream.markersOnly(out).collect().toSet ===
      Set(HammingPair(3L, SimHashStream.OverflowId, -1)))
  }

  test("hammingPairsFor rejects radii outside 0..7 (the batch guard)") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[StreamDoc](s)
    intercept[IllegalArgumentException] {
      SimHashStream.hammingPairsFor(input.toDS(), expectedDocs = 10,
        maxHamming = 8)
    }
    intercept[IllegalArgumentException] {
      SimHashStream.hammingPairsFor(input.toDS(), expectedDocs = 10,
        maxHamming = -1)
    }
  }
}
