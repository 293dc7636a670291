package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.schema.Warehouse.Step
import graft.streaming.StateMachine
import graft.streaming.StateMachine.{DocState, LedgerEvent}

class StreamingSpec extends SparkSuite {

  test("transition legality matrix (T1)") {
    assert(StateMachine.isLegal(None, Step.UrlRetrieved))
    assert(!StateMachine.isLegal(None, Step.DocumentVectorized))
    assert(StateMachine.isLegal(Some(Step.UrlRetrieved),
      Step.DocumentScraped))
    assert(!StateMachine.isLegal(Some(Step.UrlRetrieved),
      Step.DocumentInQdrant))
    // error/terminal steps reachable from anywhere
    assert(StateMachine.isLegal(Some(Step.DocumentVectorized),
      Step.DocumentIsInvalid))
    // re-ingest loop
    assert(StateMachine.isLegal(Some(Step.DocumentInQdrant),
      Step.UrlRetrieved))
  }

  test("streaming ledger folds to current state incrementally") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[LedgerEvent](s)
    val query = StateMachine.currentStates(input.toDS())
      .writeStream.format("memory").queryName("doc_states")
      .outputMode("append").start()
    try {
      input.addData(
        LedgerEvent("d1", Step.UrlRetrieved, 1L),
        LedgerEvent("d2", Step.UrlRetrieved, 2L))
      query.processAllAvailable()
      input.addData(LedgerEvent("d1", Step.DocumentScraped, 3L))
      query.processAllAvailable()
      // stale replay (at-least-once, T5): must be ignored
      input.addData(LedgerEvent("d1", Step.UrlRetrieved, 1L))
      query.processAllAvailable()
      val rows = s.sql(
        "SELECT document_id, current_step, operation_order FROM doc_states")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // d1 emitted twice (two applied transitions), replay emitted nothing
      assert(rows.toSet === Set(
        ("d1", Step.UrlRetrieved, 1L),
        ("d1", Step.DocumentScraped, 3L),
        ("d2", Step.UrlRetrieved, 2L)))
    } finally query.stop()
  }

  test("windowed aggregation: watermark closes windows in append mode") {
    val s = initSpark()
    import s.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](s)
    val df = input.toDS().toDF("ts", "event_type", "value")
    val agg = graft.streaming.WindowedAggregates.tumbling(
      df, "ts", "event_type", "value", "10 minutes", "5 minutes")
    val query = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:$min%02d:00")
    try {
      input.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0),
        (ts(7), "view", 5.0))
      query.processAllAvailable()
      // nothing emitted yet: watermark hasn't passed the window end
      assert(s.sql("SELECT * FROM win_agg").count() === 0)
      // an event 25 min later pushes the watermark past 00:00-00:10
      input.addData((ts(35), "click", 9.0))
      query.processAllAvailable()
      input.addData((ts(59), "click", 0.0))
      query.processAllAvailable()
      val rows = s.sql(
        """SELECT event_type, n, total FROM win_agg
           WHERE win_start = TIMESTAMP '2024-01-01 00:00:00'""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally query.stop()
  }

  test("file-source micro-batch drain with AvailableNow trigger (T2)") {
    val s = initSpark()
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
      .toString
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:$min%02d:00")
    Seq((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(12), "view", 3.0))
      .toDF("ts", "event_type", "value")
      .write.parquet(s"$dir/in")
    val stream = s.readStream
      .schema("ts timestamp, event_type string, value double")
      .parquet(s"$dir/in")
    val agg = graft.streaming.WindowedAggregates.tumbling(
      stream, "ts", "event_type", "value", "10 minutes", "0 seconds")
    val q = agg.writeStream.format("memory").queryName("file_drain")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow stops when drained
    val rows = s.sql("SELECT event_type, n FROM file_drain")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // watermark 0s: the final batch closes windows up to max event time;
    // the 00:00 click window closes, the 00:10 view window stays open
    assert(rows === Set(("click", 2L)))
  }

  test("stream-stream interval join: matches within the bound emit, " +
      "outside it never join (bounded state by watermark)") {
    val s = initSpark()
    import s.implicits._
    val impressions = MemoryStream[(java.sql.Timestamp, String, Double)](s)
    val clicks = MemoryStream[(java.sql.Timestamp, String, String)](s)
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:$min%02d:00")
    val joined = graft.streaming.WindowedAggregates.intervalJoin(
      impressions.toDS().toDF("imp_ts", "ad_id", "cost"),
      clicks.toDS().toDF("click_ts", "ad_id", "user"),
      keyCol = "ad_id", leftTs = "imp_ts", rightTs = "click_ts",
      watermarkDelay = "5 minutes",
      lowerBound = "0 seconds", upperBound = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      impressions.addData((ts(1), "adA", 1.5), (ts(2), "adB", 2.0))
      clicks.addData(
        (ts(5), "adA", "u1"),   // within 10 min of adA's impression
        (ts(40), "adB", "u2"),  // same key, 38 min later — outside
        (ts(6), "adC", "u3"))   // no matching impression key
      q.processAllAvailable()
      val rows = s.sql("SELECT ad_id, user, cost FROM ss_join")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getDouble(2))).toSet
      assert(rows === Set(("adA", "u1", 1.5)))
    } finally q.stop()
  }

  test("out-of-order events within a batch apply in operation order") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[LedgerEvent](s)
    val query = StateMachine.currentStates(input.toDS())
      .writeStream.format("memory").queryName("doc_states_ooo")
      .outputMode("append").start()
    try {
      input.addData(
        LedgerEvent("d9", Step.DocumentScraped, 2L),
        LedgerEvent("d9", Step.UrlRetrieved, 1L))
      query.processAllAvailable()
      val steps = s.sql("SELECT current_step FROM doc_states_ooo " +
        "ORDER BY operation_order").collect().map(_.getString(0)).toSeq
      assert(steps === Seq(Step.UrlRetrieved, Step.DocumentScraped))
    } finally query.stop()
  }

  test("streaming dedup keeps first-seen per fingerprint, bounded state") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[(java.sql.Timestamp, String, String)](s)
    val docs = input.toDS()
      .toDF("ts", "doc_id", "text")
    val deduped = graft.streaming.WindowedAggregates.dedupByFingerprint(
      docs, "ts",
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")),
      watermarkDelay = "10 seconds")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(sec: Int) = java.sql.Timestamp.valueOf(s"2024-01-01 00:00:$sec")
      input.addData(
        (ts(1), "d1", "same text"),
        (ts(2), "d2", "same text"), // dup within batch
        (ts(3), "d3", "other text"))
      q.processAllAvailable()
      input.addData((ts(4), "d4", "same text")) // dup across batches
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM dedup_out")
        .collect().map(_.getString(0)).toSet
      assert(ids === Set("d1", "d3"))
    } finally q.stop()
  }

  test("streaming curation: quality gates + watermarked dedup + split " +
      "on a live stream (batch-form semantics, incremental execution)") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[(java.sql.Timestamp, String, String)](s)
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val healthy = ("the quick brown fox jumps over the lazy dog and " +
      "that should be quite enough words to pass every gate with " +
      "different content because each sentence here keeps adding " +
      "fresh vocabulary so neither the two gram mass nor the word " +
      "count rule can possibly object to this document at all ")
    val out = graft.jobs.Curation.curateStream(docs, "doc_id", "text",
      "ts", watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      def ts(sec: Int) =
        java.sql.Timestamp.valueOf(s"2024-01-01 00:00:$sec")
      input.addData(
        (ts(1), "d1", healthy + "alpha"),
        (ts(2), "d2", "too short"), // gopher gate
        (ts(3), "d3", healthy + "alpha"), // dup of d1
        (ts(4), "d4", healthy + "beta"))
      q.processAllAvailable()
      val rows = s.sql("SELECT doc_id, split FROM curate_out")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.keySet === Set("d1", "d4"),
        s"gates+dedup must keep d1/d4, got ${rows.keySet}")
      assert(rows.values.forall(Set("train", "val", "test").contains))
    } finally q.stop()
  }

  test("batch/stream curation PARITY: the same rows through curate and " +
      "curateStream yield the same survivors with the same splits") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val healthy = ("the quick brown fox jumps over the lazy dog and " +
      "that should be quite enough words to pass every gate with " +
      "different content because each sentence here keeps adding " +
      "fresh vocabulary so neither the two gram mass nor the word " +
      "count rule can possibly object to this document at all ")
    // dup groups arrive smallest-id-first, so batch keep-first (min id
    // per fingerprint) and streaming first-seen pick the SAME survivor
    val rows = Seq(
      ("d01", healthy + "alpha"), ("d02", "junk"),
      ("d03", healthy + "alpha"), ("d04", healthy + "beta"),
      ("d05", healthy + "beta"), ("d06", healthy + "gamma"),
      ("d07", "x y"), ("d08", healthy + "delta"))
    val batchDf = rows.toDF("doc_id", "text")
      .withColumn("corpus", org.apache.spark.sql.functions.lit("c1"))
    val batchOut = graft.jobs.Curation.curate(batchDf, "doc_id", "text",
      "corpus", rates = Map("c1" -> 1.0))
      .select("doc_id", "split")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    val input = MemoryStream[(java.sql.Timestamp, String, String)](s)
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val out = graft.jobs.Curation.curateStream(docs, "doc_id", "text",
      "ts", watermarkDelay = "10 seconds")
    val q = out.writeStream.format("memory").queryName("parity_out")
      .outputMode("append").start()
    try {
      def ts(sec: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
      input.addData(rows.zipWithIndex.map { case ((id, text), i) =>
        (ts(i + 1), id, text) }: _*)
      q.processAllAvailable()
      val streamOut = s.sql("SELECT doc_id, split FROM parity_out")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(streamOut === batchOut,
        "shared qualityGated + same split hash must make batch and " +
          "stream agree row-for-row")
      assert(batchOut.map(_._1) ===
        Set("d01", "d04", "d06", "d08"), "sanity: gates+dedup bite")
    } finally q.stop()
  }

  test("foreachBatch + TxnLog.replaceByKey: an idempotent streaming " +
      "sink (T5) — batch replay converges, versions stay readable") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    val table = java.nio.file.Files
      .createTempDirectory("txnstream").toString + "/slices"
    val input = MemoryStream[(String, String)](s)
    val q = input.toDS().toDF("document_id", "body")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the reference's delete-then-insert per document (S18), now
        // snapshot-isolated: replaying a failed micro-batch re-replaces
        // the same keys instead of duplicating them
        if (!batch.isEmpty)
          graft.sinks.TxnLog.replaceByKey(s, table, batch, "document_id")
        ()
      }
      .start()
    try {
      input.addData(("d1", "v1"), ("d2", "v1"))
      q.processAllAvailable()
      input.addData(("d1", "v2")) // re-process of d1 (update mode / retry)
      q.processAllAvailable()
      val rows = graft.sinks.TxnLog.read(s, table).get
        .orderBy("document_id")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.toSeq === Seq("d1" -> "v2", "d2" -> "v1"))
      // and the pre-update snapshot still reads v1 (audit/time travel)
      val v0 = graft.sinks.TxnLog.versions(table).head
      val old = graft.sinks.TxnLog.read(s, table, asOf = Some(v0)).get
        .where(org.apache.spark.sql.functions.col("document_id") === "d1")
        .select("body")
        .head().getString(0)
      assert(old === "v1")
    } finally q.stop()
  }

  test("session windows: gap splits sessions, watermark closes them " +
      "in append mode") {
    val s = initSpark()
    import s.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)](s)
    val df = input.toDS().toDF("ts", "user_id")
    val sess = graft.streaming.WindowedAggregates.sessionWindows(
      df, "ts", "user_id", gap = "10 minutes",
      watermarkDelay = "5 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_agg")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:$min%02d:00")
    try {
      // u1: events at 00:01 and 00:05 merge (gap 4 min < 10); the
      // event at 00:30 starts a NEW session (gap 25 min)
      input.addData((ts(1), "u1"), (ts(5), "u1"), (ts(30), "u1"))
      q.processAllAvailable()
      // session 1 closed (watermark 00:25 > end 00:15); session 2 open
      val afterFirst = s.sql("SELECT * FROM sess_agg").count()
      assert(afterFirst === 1)
      // push the watermark far past session 2's end
      input.addData((ts(59), "u2"))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 02:00:00"),
        "u2"))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT user_id, session_start, n_events FROM sess_agg")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
        .toSet
      assert(rows.contains(("u1", ts(1), 2L)))  // merged 00:01+00:05
      assert(rows.contains(("u1", ts(30), 1L))) // split by the gap
    } finally q.stop()
  }

  test("session windows agree with the batch lag-cumsum sessionization " +
      "away from the exact-gap boundary") {
    val s = initSpark()
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // three users, gaps well clear of the 30-min boundary
    val evs = Seq(
      ("u1", 0), ("u1", 5), ("u1", 50), ("u1", 55),
      ("u2", 10), ("u2", 100), ("u2", 120),
      ("u3", 42)
    ).map { case (u, min) =>
      (u, java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00"))
    }.toDF("user_id", "ts")
    // streaming operator applied as a BATCH plan (watermark is a no-op)
    val viaSessionWindow = graft.streaming.WindowedAggregates
      .sessionWindows(evs, "ts", "user_id", "30 minutes", "1 minute")
      .select("user_id", "n_events")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    // q29's lag-cumsum form on the same rows
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val viaLag = evs
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800,
          1).otherwise(0))
      .withColumn("seq", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "seq").agg(count(lit(1)).as("n_events"))
      .select("user_id", "n_events")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(viaSessionWindow === viaLag)
  }

  test("streaming frontier scheduler: per-host slots continue across " +
      "micro-batches, one batch equals the batch politeness operator") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    import graft.streaming.FrontierScheduler
    import graft.streaming.FrontierScheduler.FrontierUrl
    val input = MemoryStream[FrontierUrl](s)
    val query = FrontierScheduler.schedule(input.toDS())
      .writeStream.format("memory").queryName("sched_out")
      .outputMode("append").start()
    try {
      input.addData(
        FrontierUrl("a.org", "u1", 2000L),
        FrontierUrl("a.org", "u2", 2000L),
        FrontierUrl("b.org", "v1", 100L))
      query.processAllAvailable()
      // batch 2 CONTINUES a.org's queue (seq 3, last + delay), does
      // not restart it — the property a per-batch window cannot have
      input.addData(
        FrontierUrl("a.org", "u3", 2000L),
        FrontierUrl("b.org", "v2", 100L))
      query.processAllAvailable()
      val rows = s.sql(
          "SELECT host, url, fetch_seq, fetch_at_ms FROM sched_out")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(rows(("a.org", "u1")) === ((1L, 0L)))
      assert(rows(("a.org", "u2")) === ((2L, 2000L)))
      assert(rows(("a.org", "u3")) === ((3L, 4000L)))
      assert(rows(("b.org", "v1")) === ((1L, 0L)))
      assert(rows(("b.org", "v2")) === ((2L, 100L)))
      // single-batch parity with the batch operator (order = url)
      val frontier = Seq(("a.org", "u1"), ("a.org", "u2"),
        ("b.org", "v1")).toDF("host", "url")
      val delays = Seq(("a.org", 2000L), ("b.org", 100L))
        .toDF("host", "delay_ms")
      val batch = graft.operators.Retrieval.politenessSchedule(
          frontier, "host",
          Seq(org.apache.spark.sql.functions.col("url").asc),
          delays, "delay_ms", defaultDelayMs = 0L)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getInt(2).toLong, r.getLong(3))).toMap
      val batch1Stream = Map(
        ("a.org", "u1") -> rows(("a.org", "u1")),
        ("a.org", "u2") -> rows(("a.org", "u2")),
        ("b.org", "v1") -> rows(("b.org", "v1")))
      assert(batch === batch1Stream)
    } finally query.stop()
  }

  test("streaming near-dup: cross-batch pairs surface, replays pair " +
      "nothing, and the distinct pair set equals the batch portable " +
      "LSH pass") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.StreamDoc
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val b1 = Seq(
      StreamDoc(1L, base + " one"),
      StreamDoc(2L, base + " one two"),
      StreamDoc(3L, "totally unrelated content in the first batch"))
    val b2 = Seq(
      StreamDoc(10L, base + " one"), // exact dup of doc 1, later batch
      StreamDoc(11L, "nothing in common with anything else at all"))
    val input = MemoryStream[StreamDoc](s)
    // the production entry: stated corpus scale, derived class cap
    val query = NearDupStream.nearDupPairsFor(input.toDS(),
        expectedDocs = 5)
      .writeStream.format("memory").queryName("neardup_pairs")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      input.addData(b1.head) // at-least-once replay of doc 1
      query.processAllAvailable()
      val streamed = s.sql(
        "SELECT id_new, id_old, est_jaccard FROM neardup_pairs")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // normalize to unordered pairs, distinct across bands
      val streamSet = streamed
        .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }
        .toSet
      val batchSet = graft.operators.Dedup.minhashLshPairsPortable(
          (b1 ++ b2).toDF("id", "text"), "id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }
        .toSet
      assert(streamSet === batchSet,
        s"stream=$streamSet batch=$batchSet")
      // the cross-batch exact dup scored 1.0
      assert(streamSet.contains((1L, 10L, 1.0)))
      // the replay emitted nothing new: every (1,x) pair count across
      // the raw stream output matches its band-collision multiplicity
      // at FIRST delivery — total raw rows for the pair (1,10) can't
      // exceed the band count
      val raw110 = streamed.count(t =>
        Set(t._1, t._2) === Set(1L, 10L))
      assert(raw110 >= 1 && raw110 <= 4, s"raw emissions: $raw110")
    } finally query.stop()
  }

  test("near-dup duplicate arrivals never spend cap and re-expand " +
      "against the whole clique (the SimHashStream contraction " +
      "crossing the LSH tier), with state one class per bucket") {
    val s = initSpark()
    import s.implicits._
    implicit val spark: org.apache.spark.sql.SparkSession = s
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.StreamDoc
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val input = MemoryStream[StreamDoc](s)
    // cap 1: a member-counted cap would stop retaining at the second
    // replica — the shape round 17 contracts
    val query = NearDupStream.nearDupPairsCapped(input.toDS(),
        n = 3, bands = 4, maxBucket = 1)
      .writeStream.format("memory").queryName("nd_pairs_cap")
      .outputMode("append").start()
    try {
      input.addData(StreamDoc(1L, base), StreamDoc(2L, base))
      query.processAllAvailable()
      input.addData(StreamDoc(3L, base))
      query.processAllAvailable()
      input.addData(StreamDoc(5L, base))
      query.processAllAvailable()
      val rows = s.sql(
        "SELECT id_new, id_old, est_jaccard FROM nd_pairs_cap")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val got = rows.filter(_._3 >= 0)
        .map(t => (math.min(t._1, t._2), math.max(t._1, t._2), t._3))
        .toSet
      assert(got === Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0),
        (1L, 5L, 1.0), (2L, 5L, 1.0), (3L, 5L, 1.0)), got.toString)
      assert(rows.forall(_._3 >= 0),
        s"no marker may fire for duplicates: ${rows.toSeq}")
      // one class per occupied bucket: state rows = the doc's band
      // count, independent of the 4 retained clique members
      val stateRows = query.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows === 4L, s"state rows $stateRows")
    } finally query.stop()
  }

  test("near-dup pairBucket fold (unit): a NEW signature at a full " +
      "bucket scores against retained classes, marks, and is " +
      "dropped; duplicates join their class; replays are skipped") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.{BandedDoc, BucketState}
    def fold(st: Option[BucketState], docs: Seq[BandedDoc],
        cap: Int = 1): (Seq[(Long, Long, Double)], Option[BucketState]) = {
      val gs = TestGroupState.create[BucketState](
        org.apache.spark.api.java.Optional.fromNullable(st.orNull),
        GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty[Long](),
        false)
      val out = NearDupStream.pairBucket(maxBucket = cap)(
        "0:k", docs.iterator, gs).toSeq
        .map(p => (p.id_new, p.id_old, p.est_jaccard))
      (out, if (gs.exists) Some(gs.get) else st)
    }
    val sigA: Seq[Long] = Seq.tabulate(16)(i => i.toLong)
    val sigB: Seq[Long] = sigA.updated(0, 99L) // 15/16 match = 0.9375
    // batch 1: 1 claims the class, 2 joins it (est 1.0), 3's new
    // signature finds the bucket full — scored against both members
    // at 0.9375, marked, dropped
    val (out1, st1) = fold(None, Seq(
      BandedDoc("0:k", 2L, sigA), BandedDoc("0:k", 1L, sigA),
      BandedDoc("0:k", 3L, sigB)))
    assert(out1.toSet === Set((2L, 1L, 1.0), (3L, 1L, 0.9375),
      (3L, 2L, 0.9375),
      (3L, NearDupStream.OverflowId, -1.0)), out1.toString)
    assert(st1.get.classes.map(c => (c.sig, c.ids)) ===
      Seq((sigA, Seq(1L, 2L))), st1.toString)
    // batch 2: a later duplicate (4) re-expands against the whole
    // clique and joins it; 3 is GONE from state (recall lost exactly
    // there, marker-recorded); a replay of 1 emits nothing
    val (out2, st2) = fold(st1, Seq(
      BandedDoc("0:k", 4L, sigA), BandedDoc("0:k", 1L, sigA)))
    assert(out2.toSet === Set((4L, 1L, 1.0), (4L, 2L, 1.0)),
      out2.toString)
    assert(st2.get.classes.map(c => (c.sig, c.ids)) ===
      Seq((sigA, Seq(1L, 2L, 4L))), st2.toString)
    // two classes restored in first-seen order: a later duplicate of
    // the SECOND class scores each class once and joins its own
    val (_, st3) = fold(None, Seq(BandedDoc("0:k", 5L, sigA),
      BandedDoc("0:k", 6L, sigB)), cap = 2)
    val (out4, st4) = fold(st3, Seq(BandedDoc("0:k", 7L, sigB)), cap = 2)
    assert(out4.toSet === Set((7L, 5L, 0.9375), (7L, 6L, 1.0)),
      out4.toString)
    assert(st4.get.classes.map(c => (c.sig, c.ids)) ===
      Seq((sigA, Seq(5L)), (sigB, Seq(6L, 7L))), st4.toString)
  }

  test("near-dup maxBucketFor derives the class cap as the stated " +
      "corpus size itself (classes <= distinct signatures <= docs), " +
      "floored at the old default and clamped to Int") {
    import graft.streaming.{ClassBuckets, NearDupStream}
    assert(NearDupStream.MaxBucket === 64)
    assert(NearDupStream.maxBucketFor(1000000L) === 1000000)
    assert(NearDupStream.maxBucketFor(10L) === NearDupStream.MaxBucket)
    assert(NearDupStream.maxBucketFor(Long.MaxValue) === Int.MaxValue)
    for (n <- Seq(0L, 10L, 64L, 65L, 1000000L, Long.MaxValue))
      assert(NearDupStream.maxBucketFor(n) ===
        ClassBuckets.classCap(n, NearDupStream.MaxBucket))
    intercept[IllegalArgumentException] {
      NearDupStream.maxBucketFor(-1L)
    }
  }

  test("near-dup restored state with a stale version stamp fails " +
      "fast with the named error (round-18 checkpoint guard)") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.{StateVersion => SV}
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.{BandedDoc, BucketState,
      SigClass}
    val sig: Seq[Long] = Seq.tabulate(16)(_.toLong)
    val stale = BucketState(SV.Current - 1,
      Seq(SigClass(sig, Seq(1L))))
    val gs = TestGroupState.create[BucketState](
      org.apache.spark.api.java.Optional.of(stale),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      false)
    val e = intercept[IllegalStateException] {
      NearDupStream.pairBucket(maxBucket = 64)(
        "0:k", Iterator(BandedDoc("0:k", 2L, sig)), gs).toSeq
    }
    assert(e.getMessage.contains("state version"), e.getMessage)
    assert(e.getMessage.contains("NearDupStream"), e.getMessage)
  }
  test("near-dup pairsOnly/markersOnly split an output into disjoint " +
      "covering views (the sentinel filter, packaged)") {
    import graft.streaming.NearDupStream
    import graft.streaming.NearDupStream.NearDupPair
    val s = initSpark()
    import s.implicits._
    val out = Seq(NearDupPair(2L, 1L, 1.0),
      NearDupPair(3L, NearDupStream.OverflowId, -1.0)).toDS()
    assert(NearDupStream.pairsOnly(out).collect().toSet ===
      Set(NearDupPair(2L, 1L, 1.0)))
    assert(NearDupStream.markersOnly(out).collect().toSet ===
      Set(NearDupPair(3L, NearDupStream.OverflowId, -1.0)))
  }
}
