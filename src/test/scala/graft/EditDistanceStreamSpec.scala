package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EditDistanceJoin
import graft.streaming.EditDistanceStream
import graft.streaming.EditDistanceStream.StreamStr

/** Streaming PassJoin matcher (round-13 stretch): the distinct
  * (id_a, id_b, dist) set over any stream prefix must equal the batch
  * EditDistanceJoin.selfJoin over the same strings — the NearDupStream
  * parity contract applied to the edit-distance tier — and the local
  * banded verifier must agree with the engine's 3-arg levenshtein
  * everywhere, boundary values included. */
class EditDistanceStreamSpec extends SparkSuite {

  test("boundedLevenshtein equals Spark's levenshtein(l, r, tau) on " +
      "randomized strings including the tau boundary") {
    val s = initSpark()
    import s.implicits._
    val rnd = new scala.util.Random(13)
    def str(max: Int) =
      (0 until rnd.nextInt(max + 1)).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString
    val pairs = (0 until 400).map(_ => (str(9), str(9)))
    val tau = 2
    val engine = pairs.toDF("l", "r")
      .select(levenshtein(col("l"), col("r"), tau)).collect()
      .map(_.getInt(0))
    val local = pairs.map { case (l, r) =>
      EditDistanceJoin.boundedLevenshtein(l, r, tau) }
    assert(local === engine.toSeq,
      pairs.zip(local.zip(engine)).filter(p => p._2._1 != p._2._2)
        .take(5).toString)
    // explicit boundary rows: dist exactly tau, tau+1, empty strings
    assert(EditDistanceJoin.boundedLevenshtein("abcd", "abXY", 2) === 2)
    assert(EditDistanceJoin.boundedLevenshtein("abcd", "aXYZ", 2) === -1)
    assert(EditDistanceJoin.boundedLevenshtein("", "ab", 2) === 2)
    assert(EditDistanceJoin.boundedLevenshtein("", "abc", 2) === -1)
    assert(EditDistanceJoin.boundedLevenshtein("", "", 2) === 0)
    // code points, not UTF-16 units: one astral substitution is ONE
    // edit in the engine expression — the local twin must agree
    val emoji = "\uD83D\uDE00" // U+1F600, two chars, one code point
    val engineAstral = Seq((emoji + "ab", "xab"), (emoji, "a"))
      .toDF("l", "r")
      .select(levenshtein(col("l"), col("r"), 2)).collect()
      .map(_.getInt(0)).toSeq
    assert(Seq(
      EditDistanceJoin.boundedLevenshtein(emoji + "ab", "xab", 2),
      EditDistanceJoin.boundedLevenshtein(emoji, "a", 2)) === engineAstral,
      "astral-plane strings must count code points like the engine")
  }

  test("stream-vs-batch pair parity on a designed corpus: exact dups, " +
      "1- and 2-edit pairs, shorts, cross-batch discovery, " +
      "at-least-once replay — with bounded state") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val tau = 2
    val b1 = Seq(
      StreamStr(1L, "abcdefghijklmnop"),
      StreamStr(2L, "abcdefghijklmnoX"), // dist 1 of doc 1
      StreamStr(3L, "zzzzzzzzzzzzzzzz"), // unrelated
      StreamStr(4L, "ab")) // short bucket (len <= tau)
    val b2 = Seq(
      StreamStr(10L, "abcdefghijklmnop"), // exact dup of 1, later batch
      StreamStr(11L, "aXcdefghijklmnoX"), // dist 2 of 1, cross-batch
      StreamStr(12L, "a"), // short: dist 1 of doc 4
      StreamStr(13L, "abX")) // len tau+1: main path vs short doc 4
    val input = MemoryStream[StreamStr](s)
    // the production entry: stated corpus scale, derived class cap
    val query = EditDistanceStream.editPairsFor(input.toDS(), tau,
        expectedDocs = 8)
      .writeStream.format("memory").queryName("edit_pairs")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      input.addData(b1.head) // at-least-once replay of doc 1
      query.processAllAvailable()
      val streamSet = s.sql("SELECT id_a, id_b, dist FROM edit_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val batchSet = EditDistanceJoin.selfJoin(
          (b1 ++ b2).map(d => (d.id, d.s)).toDF("id", "s"), "id", "s", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(streamSet === batchSet,
        s"stream=$streamSet\nbatch=$batchSet")
      // the designed pairs are all present with exact distances
      assert(Set((1L, 10L, 0), (1L, 2L, 1), (1L, 11L, 2), (4L, 12L, 1),
        (4L, 13L, 1)).subsetOf(streamSet), streamSet.toString)
      // bounded state: rows in the state store never exceed the block
      // entries the corpus can emit (each (block, role, id) at most
      // once)
      val maxEntries = (b1 ++ b2)
        .flatMap(EditDistanceStream.entriesFor(_, tau))
        .map(e => (e.bkey, e.isIndex, e.id)).distinct.size
      val stateRows = query.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows > 0 && stateRows <= maxEntries,
        s"state rows $stateRows vs bound $maxEntries")
    } finally query.stop()
  }

  test("randomized stream-vs-batch parity over short alphabets (the " +
      "regime where every block key collides): 3 batches, 90 strings") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val tau = 2
    val rnd = new scala.util.Random(131)
    val docs = (0 until 90).map { i =>
      val len = rnd.nextInt(9) // includes len 0..2 shorts
      StreamStr(i.toLong,
        (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val batches = docs.grouped(30).toSeq
    val input = MemoryStream[StreamStr](s)
    val query = EditDistanceStream.editPairsFor(input.toDS(), tau,
        expectedDocs = 90)
      .writeStream.format("memory").queryName("edit_pairs_rnd")
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      val streamSet = s.sql("SELECT id_a, id_b, dist FROM edit_pairs_rnd")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val batchSet = EditDistanceJoin.selfJoin(
          docs.map(d => (d.id, d.s)).toDF("id", "s"), "id", "s", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(streamSet === batchSet,
        s"missing=${(batchSet -- streamSet).take(10)} " +
          s"extra=${(streamSet -- batchSet).take(10)}")
      assert(streamSet.nonEmpty, "degenerate fixture: no pairs at all")
    } finally query.stop()
  }

  test("duplicate strings never spend cap and re-expand against the " +
      "whole clique (the banded-family contraction at the PassJoin " +
      "tier), with per-role class-counted state") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val base = "abcdefghijklmnop"
    val input = MemoryStream[StreamStr](s)
    // maxBlock 1: a member-counted cap would stop retaining at the
    // second replica — the shape round 17 contracts
    val query = EditDistanceStream.editPairsCapped(input.toDS(),
        tau = 2, maxBlock = 1)
      .writeStream.format("memory").queryName("edit_pairs_cap")
      .outputMode("append").start()
    try {
      input.addData(StreamStr(1L, base), StreamStr(2L, base))
      query.processAllAvailable()
      input.addData(StreamStr(3L, base))
      query.processAllAvailable()
      input.addData(StreamStr(5L, base))
      query.processAllAvailable()
      val rows = s.sql("SELECT id_a, id_b, dist FROM edit_pairs_cap")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val got = rows.filter(_._3 >= 0).toSet
      assert(got === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0),
        (1L, 5L, 0), (2L, 5L, 0), (3L, 5L, 0)), got.toString)
      assert(rows.forall(_._3 >= 0),
        s"no marker may fire for duplicates: ${rows.toSeq}")
    } finally query.stop()
  }

  test("pairBlock fold (unit): a NEW string at a full role verifies " +
      "against the opposite role, marks, and is dropped; duplicates " +
      "join their class; replays are skipped per role") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout,
      TestGroupState}
    import graft.streaming.EditDistanceStream.{BlockEntry, BlockState}
    def fold(st: Option[BlockState], es: Seq[BlockEntry])
        : (Seq[(Long, Long, Int)], Option[BlockState]) = {
      val gs = TestGroupState.create[BlockState](
        org.apache.spark.api.java.Optional.fromNullable(st.orNull),
        GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty[Long](),
        false)
      val out = EditDistanceStream.pairBlock(tau = 2, maxBlock = 1)(
        "k", es.iterator, gs).toSeq
        .map(p => (p.id_a, p.id_b, p.dist))
      (out, if (gs.exists) Some(gs.get) else st)
    }
    val a = "abcdefgh"
    val b = "abcdefgX" // dist 1 of a
    val c = "zzzzzzzz" // outside tau of both
    // batch 1: 1's index claims the index class; 2's probe (same
    // string) pairs with it at dist 0 and claims the probe class;
    // 3's probe (dist-1 string) pairs with index member 1, then finds
    // the probe role full — marked, dropped
    val (out1, st1) = fold(None, Seq(
      BlockEntry("k", true, 1L, a), BlockEntry("k", false, 2L, a),
      BlockEntry("k", false, 3L, b)))
    assert(out1.toSet === Set((1L, 2L, 0), (1L, 3L, 1),
      (3L, EditDistanceStream.OverflowId, -1)), out1.toString)
    assert(st1.get.idx.map(x => (x.s, x.ids)) === Seq((a, Seq(1L))))
    assert(st1.get.prb.map(x => (x.s, x.ids)) === Seq((a, Seq(2L))))
    // batch 2: 4's probe duplicates the probe class's string — joins
    // it past the full cap (never spends cap) after pairing with
    // index member 1; 5's index with an out-of-tau string pairs with
    // nothing, and the index role is full — marked, dropped; a replay
    // of 2's probe emits nothing
    val (out2, st2) = fold(st1, Seq(
      BlockEntry("k", false, 4L, a), BlockEntry("k", true, 5L, c),
      BlockEntry("k", false, 2L, a)))
    assert(out2.toSet === Set((1L, 4L, 0),
      (5L, EditDistanceStream.OverflowId, -1)), out2.toString)
    assert(st2.get.prb.map(x => (x.s, x.ids)) === Seq((a, Seq(2L, 4L))))
    assert(st2.get.idx.map(x => (x.s, x.ids)) === Seq((a, Seq(1L))))
  }

  test("maxBlockFor derives the per-role class cap as the stated " +
      "corpus size itself (classes <= distinct strings <= docs), " +
      "floored at the old default and clamped to Int") {
    import graft.streaming.ClassBuckets
    assert(EditDistanceStream.MaxBlock === 256)
    assert(EditDistanceStream.maxBlockFor(1000000L) === 1000000)
    assert(EditDistanceStream.maxBlockFor(10L) ===
      EditDistanceStream.MaxBlock)
    assert(EditDistanceStream.maxBlockFor(Long.MaxValue) ===
      Int.MaxValue)
    for (n <- Seq(0L, 10L, 256L, 257L, 1000000L, Long.MaxValue))
      assert(EditDistanceStream.maxBlockFor(n) ===
        ClassBuckets.classCap(n, EditDistanceStream.MaxBlock))
    intercept[IllegalArgumentException] {
      EditDistanceStream.maxBlockFor(-1L)
    }
  }

  test("a restored state with a stale version stamp fails fast with " +
      "the named error (round-18 checkpoint guard)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout,
      TestGroupState}
    import graft.streaming.{StateVersion => SV}
    import graft.streaming.EditDistanceStream.{BlockEntry, BlockState,
      StrClass}
    val stale = BlockState(SV.Current - 1,
      Seq(StrClass("abcdefgh", Seq(1L))), Seq.empty)
    val gs = TestGroupState.create[BlockState](
      org.apache.spark.api.java.Optional.of(stale),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      false)
    val e = intercept[IllegalStateException] {
      EditDistanceStream.pairBlock(tau = 2, maxBlock = 64)(
        "k", Iterator(BlockEntry("k", false, 2L, "abcdefgh")), gs)
        .toSeq
    }
    assert(e.getMessage.contains("state version"), e.getMessage)
    assert(e.getMessage.contains("EditDistanceStream"), e.getMessage)
  }
  test("pairsOnly/markersOnly split an output into disjoint covering " +
      "views (the sentinel filter, packaged)") {
    import graft.streaming.EditDistanceStream.EditPair
    val s = initSpark()
    import s.implicits._
    val out = Seq(EditPair(1L, 2L, 1),
      EditPair(3L, EditDistanceStream.OverflowId, -1)).toDS()
    assert(EditDistanceStream.pairsOnly(out).collect().toSet ===
      Set(EditPair(1L, 2L, 1)))
    assert(EditDistanceStream.markersOnly(out).collect().toSet ===
      Set(EditPair(3L, EditDistanceStream.OverflowId, -1)))
  }
}
