package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Plan-shape assertions: the scale contract. Correctness says WHAT a
  * query returns; these tests pin HOW Spark executes it — pushdown
  * reaching the parquet scan, column pruning, broadcast strategy on dim
  * joins, shuffle counts. A regression here is a 100-TB incident that no
  * row-level test would catch. */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("q01 pushes the shipdate filter into the parquet scan") {
    val df = SparkEntry.queries("q01_pricing_agg")(initSpark(), dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      "filter not pushed to scan:\n" + plan.take(2000))
  }

  test("q12 prunes unread columns at the scan (ReadSchema)") {
    val df = SparkEntry.queries("q12_octet_len")(initSpark(), dir)
    val plan = planOf(df)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unused columns: $readSchema")
  }

  test("q02 dimension joins broadcast (no shuffled join on dims)") {
    val df = SparkEntry.queries("q02_join_dims")(initSpark(), dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "dim join fell back to sort-merge:\n" + plan.take(2000))
  }

  test("latestState costs exactly one shuffle") {
    val df = SparkEntry.queries("q03_latest_event")(initSpark(), dir)
    val plan = planOf(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"expected 1 shuffle, saw $exchanges:\n" + plan.take(2000))
  }

  test("a literal TopK.perKey limit plans WindowGroupLimit Partial and " +
      "Final (the group limit runs below the shuffle)") {
    // q03: latestState, k = 1; q05: top-2 per user
    for (q <- Seq("q03_latest_event", "q05_top2_per_user")) {
      val plan = planOf(SparkEntry.queries(q)(initSpark(), dir))
      val limits = plan.linesIterator.filter(_.contains("WindowGroupLimit"))
        .toSeq
      assert(limits.exists(_.contains("Partial")) &&
        limits.exists(_.contains("Final")), s"$q:\n" + plan.take(3000))
    }
  }

  test("ann brute force keeps the corpus side shuffle-free pre-ranking") {
    val df = SparkEntry.queries("q24_ann_topk")(initSpark(), dir)
    val plan = planOf(df)
    // scoring join must be broadcast (query side), not a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("whole-stage codegen covers the custom vector expressions") {
    // must come from a real scan: a LocalTableScan constant-folds the
    // projection before any codegen stage exists
    val emb = initSpark().read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(graft.expr.VectorOps
      .cosineF32(col("embedding"), col("embedding")).as("c"))
    val plan = df.queryExecution.executedPlan.toString()
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cosinesimf32"), plan)
    // and the generated code actually executes (no fallback)
    assert(df.where(col("c") > 0.99).count() > 0)
  }

  test("jaccardPairs costs exactly 3 exchanges (shingle agg, re-spread, " +
      "pair agg)") {
    val s = initSpark()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Dedup.jaccardPairs(
      docs, "doc_id", "text", 3, 0.2))
    val n = "Exchange".r.findAllIn(plan).length
    assert(n === 3, s"expected 3 exchanges, got $n:\n$plan")
  }

  test("dsirScore: count-table joins broadcast (local relations by " +
      "construction), no cache lifecycle in the plan") {
    val s = initSpark()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val scored = graft.operators.ImportanceSampling.dsirScore(
      docs, docs.limit(50), "doc_id", "text")
    val plan = planOf(scored)
    assert(plan.contains("BroadcastHashJoin"),
      s"10k-row count tables must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ratio joins must never sort-merge the gram stream:\n$plan")
    assert(!plan.contains("InMemoryTableScan"),
      s"no persisted intermediates (the round-10 lifecycle fix):\n$plan")
  }

  test("jaccardPairsCapped: aggregation-only plan — no window sorts " +
      "over the shingle explosion (the round-10 reformulation)") {
    val s = initSpark()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Dedup.jaccardPairsCapped(
      docs, "doc_id", "text", 3, 0.2, maxDocFreq = 4096))
    assert(!plan.contains("Window"),
      s"df cap and sizes must come from aggregations, not window " +
        s"passes (each window = exchange + full sort of every " +
        s"(doc, shingle) row):\n$plan")
    // partial (map-side) aggregation must be doing the heavy lifting
    assert(plan.contains("HashAggregate"),
      s"expected hash aggregates in the capped pair plan:\n$plan")
  }

  test("jaccardPairsPrefix verifies candidates through SPILLABLE " +
      "sort-merge joins (never a broadcast of the array-heavy set " +
      "side) and a codegen'd intersect (no ScalaUDF in the verify)") {
    val s = initSpark()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val plan = planOf(graft.operators.Dedup.jaccardPairsPrefix(
      docs, "doc_id", "text", 3, 0.6))
    // late round 11: the static planner used to pick a BROADCAST
    // build for the persisted shingle-set frame off optimistic
    // cached-relation stats — a corpus-sized driver collect at scale
    // (1.8 GB at the 30x tier, killed by maxResultSize; AQE cannot
    // demote a cached-side broadcast). The verify joins carry merge
    // hints, so the plan must show sort-merge and NO broadcast of
    // the sets side.
    assert(plan.contains("SortMergeJoin"),
      s"verify joins must be spillable sort-merge:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the array-heavy set side must never broadcast:\n$plan")
    // the merge-scan intersect is the codegen'd SortedLongIntersect
    // expression, not a ScalaUDF (which pays boxed-Seq conversion)
    assert(plan.contains("intersectsorted") ||
      plan.contains("SortedLongIntersect") ||
      plan.toLowerCase.contains("intersect"),
      s"codegen'd intersect expression missing:\n$plan")
  }

  test("q71 gopher rules stay in ONE whole-stage codegen span with " +
      "zero exchanges (pure column expressions over the scan)") {
    val s = initSpark()
    val df = SparkEntry.queries("q71_gopher_rules")(s, dir)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"quality flags must not shuffle:\n${plan.take(1500)}")
    assert(plan.linesIterator.exists(l =>
      l.trim.matches("\\*\\(\\d+\\).*")),
      "flags should run inside whole-stage codegen")
  }

  test("q73 stratified sampling: ONE broadcast join, zero shuffles of " +
      "the corpus, md5 bucket computed once") {
    val s = initSpark()
    val df = SparkEntry.queries("q73_hash_sample")(s, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"rates dim must broadcast:\n${plan.take(1500)}")
    val corpusExchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
    assert(corpusExchanges === 0,
      s"sampling must not shuffle the corpus:\n${plan.take(1500)}")
    assert("conv\\(".r.findAllIn(plan).length <= 2,
      "bucket expression should appear once (+once in the projection)")
  }

  test("curation pipeline: quality predicates are pushed BELOW the " +
      "dedup exchange (junk never shuffles)") {
    val s = initSpark()
    // real parquet input: a local relation would let Catalyst constant-
    // fold the gates away and collapse the whole plan
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val rates = (0 until 20).map(i => s"src$i" -> 1.0).toMap
    val out = graft.jobs.Curation.curate(docs, "doc_id", "text",
      "source", rates)
    val plan = planOf(out)
    val lines = plan.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("split("))
    assert(exchangeIdx >= 0 && filterIdx >= 0,
      s"expected dedup exchange + quality filter:\n${plan.take(2000)}")
    // executed plans print root-first: a filter BELOW the exchange
    // appears AFTER it in the listing
    assert(filterIdx > exchangeIdx,
      "quality gates must evaluate before rows reach the dedup shuffle")
  }

  test("q88 substring stats cost exactly 3 OPERATOR exchanges (census, " +
      "join-back re-spread, per-doc agg) beyond the scan fan-out") {
    val s = initSpark()
    val df = SparkEntry.queries("q88_dup_substrings")(s, dir)
    val plan = planOf(df)
    // the round-18 scale-adaptive scan fan-out (operators.Fan) adds
    // RoundRobinPartitioning exchange(s) on one-row-group inputs; the
    // operator's OWN shuffle structure stays pinned at 3
    val n = "Exchange".r.findAllIn(plan).length -
      "RoundRobinPartitioning".r.findAllIn(plan).length
    assert(n === 3, s"expected 3 operator exchanges, got $n:\n$plan")
  }

  test("q89 bloom prefilter evaluates BELOW the join shuffle (the " +
      "corpus shingle stream is filtered map-side)") {
    val s = initSpark()
    val df = SparkEntry.queries("q89_bloom_decontaminate")(s, dir)
    val plan = planOf(df)
    val lines = plan.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange"))
    val bloomFilterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("UDF"))
    assert(exchangeIdx >= 0 && bloomFilterIdx >= 0,
      s"expected a shuffle and the bloom UDF filter:\n${plan.take(2000)}")
    // root-first printing: deeper (earlier-evaluated) nodes print later
    assert(bloomFilterIdx > exchangeIdx,
      "bloom prefilter must run before rows reach the join shuffle:\n" +
        plan.take(2000))
  }

  test("q90 quota sampling: quota dim broadcasts; the only shuffle is " +
      "the per-stratum window") {
    val s = initSpark()
    val df = SparkEntry.queries("q90_quota_sample")(s, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"quota dim must broadcast:\n${plan.take(1500)}")
    val corpusExchanges = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Broadcast"))
    assert(corpusExchanges === 1,
      s"expected exactly the window exchange:\n${plan.take(2000)}")
    assert(plan.contains("Window"),
      s"expected a window operator:\n${plan.take(1500)}")
  }

  test("q93 portable LSH reuses the persisted signature frame across " +
      "its three readers (banding + both score sides)") {
    val s = initSpark()
    val df = SparkEntry.queries("q93_minhash_lsh_portable")(s, dir)
    val plan = planOf(df)
    val cachedScans = plan.linesIterator
      .count(_.contains("InMemoryTableScan"))
    assert(cachedScans >= 3,
      s"signature frame should serve banding + both score joins from " +
        s"cache, saw $cachedScans cached scans:\n${plan.take(2000)}")
  }

  test("q97 corpus report costs exactly 3 exchanges (fingerprint " +
      "census, join-back, source rollup)") {
    val s = initSpark()
    val df = SparkEntry.queries("q97_corpus_report")(s, dir)
    val plan = planOf(df)
    val n = "Exchange".r.findAllIn(plan).length
    assert(n === 3, s"expected 3 exchanges, got $n:\n$plan")
  }

  test("q100 BM25: the query-term IN-filter evaluates BELOW the first " +
      "exchange (the corpus shuffle carries only query-term hits), " +
      "and df/stats join back by broadcast") {
    val df = SparkEntry.queries("q100_bm25_topk")(initSpark(), dir)
    val plan = planOf(df)
    val firstExchange = plan.indexOf("Exchange")
    assert(firstExchange >= 0, plan.take(2000))
    // the literal IN-list filter on the exploded token must appear in
    // the pre-shuffle (deeper = later in toString) segment
    val tail = plan.substring(firstExchange)
    assert(tail.contains("__w") && (tail.contains(" IN ") ||
      tail.contains("isin") || tail.contains("INSET")),
      "query-term filter not below the first exchange:\n" +
        plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "df/stats joins should broadcast:\n" + plan.take(3000))
  }

  test("q104 fast LM scorer: ZERO exchanges in the scoring plan (the " +
      "model is broadcast state, not a join side)") {
    val df = SparkEntry.queries("q104_unigram_fast")(initSpark(), dir)
    val plan = planOf(df)
    val n = "Exchange".r.findAllIn(plan).length
    assert(n === 0, s"expected a shuffle-free scoring plan, got $n " +
      s"exchanges:\n$plan")
  }

  test("q107 incremental dedup: the snapshot side reduces to distinct " +
      "fingerprints before the anti join; only the batch pays the " +
      "keep-first window shuffle") {
    val df = SparkEntry.queries("q107_incremental_dedup")(initSpark(),
      dir)
    val plan = planOf(df)
    // anti join present, and the window (keep-first) sits on the batch
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("RunningWindowFunction") ||
      plan.contains("Window"), plan.take(3000))
  }

  test("step-partitioned ledger scans prune partitions (R15)") {
    val s = initSpark()
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_prune").toString + "/ledger"
    Seq(("d1", "url_retrieved", 1L), ("d2", "document_scraped", 2L),
      ("d3", "document_in_qdrant", 3L), ("d4", "document_scraped", 4L))
      .toDF("document_id", "title", "operation_order")
      .write.partitionBy("title").parquet(tmp)
    val scan = s.read.parquet(tmp)
      .where(col("title") === "document_scraped")
    val plan = planOf(scan)
    assert(plan.contains("PartitionFilters: [isnotnull(title"),
      s"expected partition pruning on title:\n$plan")
    assert(scan.count() === 2)
    // the pruned scan must not list the unmatched partition dirs
    val read = scan.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!read.contains("url_retrieved") || read.length > 4000)
  }

  test("salted aggregation matches plain aggregation") {
    val s = initSpark()
    import s.implicits._
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", 1.0))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Skew.saltedAggregate(df, Seq("k"), 8,
      partialAggs = Seq(sum("v").as("ps")),
      finalAggs = Seq(sum("ps").as("s")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plain === salted)
  }

  test("salted join matches plain join") {
    val s = initSpark()
    import s.implicits._
    val large = (1 to 500).map(i => (s"k${i % 5}", i)).toDF("k", "v")
    val small = (0 until 5).map(i => (s"k$i", s"dim$i")).toDF("k", "d")
    val plain = large.join(small, "k").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(large, small, "k", 4).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(plain === salted)
  }

  test("key skew profile surfaces the hot key") {
    val s = initSpark()
    import s.implicits._
    val df = (1 to 100).map(i => if (i <= 60) "hot" else s"k$i").toDF("k")
    val top = Skew.keySkewProfile(df, "k", 1).head()
    assert(top.getString(0) === "hot")
    assert(top.getDouble(2) === 0.6)
  }

  test("q116 heavy hitters: MG candidate pass partial-aggregates " +
    "map-side (no census shuffle) and the recount prunes at the scan") {
    val s = initSpark()
    // pass 1 shape (probe it standalone — frequentTokens executes it
    // eagerly): partial_misra_gries must appear BELOW the single-
    // partition exchange, i.e. each map task ships one k-bounded
    // summary, never its token census
    val toks = s.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val pass1 = toks.agg(
      graft.expr.MisraGries.candidates(col("token"), 30).as("cand"),
      count(lit(1)).as("n"))
    val plan = planOf(pass1)
    assert(plan.contains("partial_misra_gries"),
      "MG pass lost its map-side partial aggregation:\n" + plan.take(2000))
    // pass 2 shape: the isin filter must sit below the (≤ k keys)
    // exchange, so only candidate rows ever shuffle
    val full = graft.operators.HeavyHitters
      .frequentTokens(s.read.parquet(s"$dir/documents.parquet"),
        "text", 30)
    val plan2 = planOf(full)
    // Spark renders a large literal IN-list as INSET once it converts
    // to a hash-set predicate — either spelling proves scan-side pruning
    assert(plan2.contains("INSET") || plan2.contains(" IN "),
      "candidate IN-filter missing from recount plan:\n" + plan2.take(2000))
  }

  test("q115 PassJoin: the candidate join is an equality shuffle join " +
    "on segment keys, never a cross join of the corpus") {
    val df = SparkEntry.queries("q115_edit_distance_join")(initSpark(), dir)
    val plan = planOf(df)
    val joins = plan.linesIterator
      .filter(l => l.contains("Join") || l.contains("CartesianProduct"))
      .mkString("\n")
    // main path: equality join keyed on the PassJoin block key
    // (slot:len:segment — the enumeration shared with the streaming
    // matcher since round 13)
    assert(plan.contains("bkey#"),
      "block-keyed equality join missing:\n" + joins)
    assert(!plan.contains("CartesianProduct"),
      "corpus-sized cartesian crept in:\n" + joins)
  }

  test("q113 funnel: each step join co-partitions on the user key " +
    "and the step predicate pushes into the event scan") {
    // Skew note (round-9 advice item 9): at 100 TB a hot user
    // concentrates a step's events into one partition of this join.
    // Defense in depth: AQE's OptimizeSkewedJoin splits oversized
    // partitions of exactly this shuffle-join shape at runtime, and
    // EventAnalytics.funnel(salts > 1) bounds any partition to
    // ~1/salts of a hot user's events deterministically (join on
    // (user, salt), two-phase min) — equality with the unsalted form
    // is pinned by EventAnalyticsSpec's skew case; the salted plan
    // shape is asserted below.
    val df = SparkEntry.queries("q113_funnel")(initSpark(), dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert(plan.contains("EqualTo(event_type,view"),
      "step predicate not pushed to the event scan:\n" + plan.take(3000))
  }

  test("q121 semantic decontamination: the eval side BROADCASTS into " +
    "the bucket join — the training corpus never shuffles for it") {
    val df = SparkEntry.queries("q121_semantic_decontaminate")(
      initSpark(), dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"),
      "eval side must broadcast (benchmark-sized vs a 100-TB corpus):\n" +
        plan.take(2000))
  }

  test("salted funnel: the step join key includes the salt, so a hot " +
    "user's events spread over `salts` shuffle partitions") {
    val s = initSpark()
    import s.implicits._
    val events = Seq((1L, 10L, "view"), (1L, 20L, "click"))
      .toDF("user_id", "sec", "event_type")
    val df = graft.operators.EventAnalytics.funnel(
      events, "user_id", "sec", "event_type",
      Seq("view", "click"), salts = 8)
    val plan = planOf(df)
    assert(plan.contains("__salt"),
      "salted funnel must partition the step join on (user, salt):\n" +
        plan.take(2000))
  }
}
