package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSuite {

  private def docs = {
    val s = initSpark()
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup
      (4L, "completely different content about spark engines here")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs, "doc_id", "text")
    val m = d.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m(1L) === 2L) // representative 1 covers docs 1+2
    assert(d.count() === 3)
  }

  test("dedupKeepFirst keeps the smallest-id row per distinct text") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      ("d3", "same TEXT here"), ("d1", "same text  here"), // ws/case dups
      ("d2", "unique content"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupKeepFirst(docs, "doc_id", "text")
      .collect().map(_.getString(0)).sorted
    assert(kept === Array("d1", "d2"))
  }

  test("dedupIncremental: snapshot fingerprints kill batch dups, " +
      "keep-first applies within the batch, fresh rows survive") {
    val s = initSpark()
    import s.implicits._
    val snapshot = Seq((1L, "seen text one"), (2L, "seen text two"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen text one"), // exact dup vs snapshot -> dropped
      (11L, "fresh text"), // survives
      (12L, "fresh text"), // batch dup of 11 -> keep-first drops
      (13L, "Seen   TEXT two") // NORMALIZED dup vs snapshot -> dropped
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, snapshot,
        "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(11L))
    // empty snapshot degenerates to plain keep-first over the batch
    val keptNoSnap = Dedup.dedupIncremental(batch,
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(keptNoSnap === Array(10L, 11L, 13L))
  }

  test("lineDedupGlobal strips corpus-repeated lines, keeps row count") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      (1L, "unique opening line.\nCookie banner text\nreal content one."),
      (2L, "Cookie banner text\nreal content two.\nCookie banner text"),
      (3L, "Cookie banner text"), // 100% boilerplate — must survive empty
      (4L, "solo document with no repeated lines at all.")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedupGlobal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "Cookie banner text" occurs 4x corpus-wide (incl. twice in doc 2)
    assert(out(1L) === (("unique opening line.\nreal content one.", 2L, 1L)))
    assert(out(2L) === (("real content two.", 1L, 2L)))
    assert(out(3L) === (("", 0L, 1L))) // row preserved, text emptied
    assert(out(4L) ===
      (("solo document with no repeated lines at all.", 1L, 0L)))
  }

  test("connectedComponents: chains merge transitively, singletons " +
      "keep themselves, min id wins as representative") {
    val s = initSpark()
    import s.implicits._
    // component {1,2,3} via chain 1-2, 2-3 (needs >1 propagation round),
    // component {5,9} direct, 7 isolated
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 5L))
      .toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val reps = Dedup.connectedComponents(ids, pairs, idCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 9L -> 5L, 7L -> 7L))
    // the idsCoverEndpoints fast path (no seeding union, no restriction
    // join) must agree when its precondition holds
    val fast = Dedup.connectedComponents(ids, pairs, idCol = "doc_id",
        idsCoverEndpoints = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === reps)
  }

  test("connectedComponents agrees with driver-side union-find on " +
      "random graphs (property)") {
    val s = initSpark()
    import s.implicits._
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    def findRoot(parent: Array[Int], x: Int): Int =
      if (parent(x) == x) x else { parent(x) = findRoot(parent, parent(x))
        parent(x) }
    val gen = for {
      n <- Gen.choose(1, 24)
      m <- Gen.choose(0, 30)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1),
        Gen.choose(0, n - 1)))
    } yield (n, edges.filter { case (a, b) => a != b })
    val prop = forAll(gen) { case (n, edges) =>
      val parent = Array.tabulate(n)(identity)
      edges.foreach { case (a, b) =>
        val (ra, rb) = (findRoot(parent, a), findRoot(parent, b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n)
        .map(i => i.toLong -> findRoot(parent, i).toLong).toMap
      val ids = (0 until n).map(_.toLong).toDF("id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.map { case (a, b) => (a.toLong, b.toLong) }
          .toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(ids, pairs, maxRounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(ids, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // localEdgeCap = 0 exercises the distributed loops the default
      // local fast path would otherwise shadow at this size
      val gotLoop = Dedup.connectedComponents(ids, pairs,
          maxRounds = 90, localEdgeCap = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val starLoop = Dedup.connectedComponentsStar(ids, pairs,
          localEdgeCap = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expect && star == expect &&
        gotLoop == expect && starLoop == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("pairsCanonical skips the symmetric distinct without changing " +
      "labels (both variants, both execution modes)") {
    val s = initSpark()
    import s.implicits._
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(0, 30)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1),
        Gen.choose(0, n - 1)))
    } yield (n,
      // canonicalize the way the spanning emitters guarantee:
      // id_a < id_b per row, duplicate-free, no self-loops
      edges.collect { case (a, b) if a != b =>
        (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct)
    val prop = forAll(gen) { case (n, edges) =>
      val ids = (0 until n).map(_.toLong).toDF("id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = m(Dedup.connectedComponents(ids, pairs, maxRounds = 90))
      m(Dedup.connectedComponents(ids, pairs, maxRounds = 90,
        pairsCanonical = true)) == base &&
      m(Dedup.connectedComponents(ids, pairs, maxRounds = 90,
        localEdgeCap = 0, pairsCanonical = true)) == base &&
      m(Dedup.connectedComponentsStar(ids, pairs,
        pairsCanonical = true)) == base &&
      m(Dedup.connectedComponentsStar(ids, pairs, localEdgeCap = 0,
        pairsCanonical = true)) == base
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("star contraction resolves a deep chain in O(log n) rounds " +
      "where min-label propagation would need diameter rounds") {
    val s = initSpark()
    import s.implicits._
    // path graph 0-1-2-...-79: diameter 79. The DISTRIBUTED min-label
    // loop at maxRounds=15 must refuse loudly (localEdgeCap = 0 forces
    // it); star contraction converges; and the default local fast
    // path solves the same chain exactly without a loop at all.
    val pairs = (0L until 79L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (0L until 80L).toDF("doc_id")
    val star = Dedup.connectedComponentsStar(ids, pairs, idCol = "doc_id",
        localEdgeCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.size === 80 && star.values.forall(_ == 0L))
    // literal cap (not the env-overridable default) so a lingering
    // SPARK_GRAFT_CC_LOCAL_CAP=0 cannot turn this into the loop and
    // trip the maxRounds guard
    val local = Dedup.connectedComponents(ids, pairs, idCol = "doc_id",
        maxRounds = 15, idsCoverEndpoints = true, localEdgeCap = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === star)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(ids, pairs, idCol = "doc_id",
        maxRounds = 15, idsCoverEndpoints = true,
        localEdgeCap = 0).count()
    }
  }

  test("connectedComponents with ids ⊄ pair endpoints: bridge nodes " +
      "outside `ids` still connect, output restricted to `ids`") {
    val s = initSpark()
    import s.implicits._
    // doc 1 was filtered out of `ids` but bridges 2 and 3; the labels
    // must still flow through it, and the output must have exactly one
    // row per input id (rep may be the filtered-out component min)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val ids = Seq(2L, 3L, 7L).toDF("doc_id")
    val clusters = Dedup.connectedComponents(ids, pairs, idCol = "doc_id")
    val reps = clusters
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(2L -> 1L, 3L -> 1L, 7L -> 7L))
    // survivor selection must tolerate a representative OUTSIDE the
    // frame (doc 1 was filtered out): the cluster keeps its smallest
    // PRESENT member, never silently loses the whole cluster
    val corpus = Seq((2L, "a"), (3L, "b"), (7L, "c"))
      .toDF("doc_id", "text")
    val kept = Dedup.keepClusterSurvivors(corpus, clusters, "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(2L, 7L))
  }

  test("sequence packing: two-phase cumsum equals the naive global " +
      "window, sparse ids and zero-token docs included") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.SequencePack
    import org.apache.spark.sql.expressions.{Window => W}
    // sparse non-contiguous ids across several buckets (width 4),
    // including a zero-token doc
    val docs = Seq((0L, 100L), (1L, 2000L), (5L, 0L), (7L, 50L),
      (12L, 4096L), (13L, 1L), (40L, 7L))
      .toDF("doc_id", "est_tokens")
    val packed = SequencePack.packOrder(docs, "doc_id", "est_tokens",
        seqLen = 1024L, groupWidth = 4L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val naive = docs.withColumn("cum", coalesce(
        sum(col("est_tokens")).over(W.orderBy(col("doc_id"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(2) / 1024L, r.getLong(2) % 1024L)))
      .toMap
    assert(packed === naive)
    // plan shape: exactly one window may lack a partition key, and it
    // must run over the bucket-summary AGGREGATE — never the raw doc
    // stream; the per-doc window must be partitioned by __bucket.
    // (String-matching the plan was satisfiable by either window —
    // inspect the logical nodes instead.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Window => LWindow}
    val lplan = SequencePack.packOrder(docs, "doc_id", "est_tokens",
      1024L, 4L).queryExecution.optimizedPlan
    val wins = lplan.collect { case w: LWindow => w }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(wins.size === 2 && unpart.size === 1,
      s"expected 1 partitioned + 1 summary window, got ${wins.size} " +
        s"windows / ${unpart.size} unpartitioned:\n$lplan")
    assert(unpart.head.collectFirst { case a: Aggregate => a }.nonEmpty,
      "the unpartitioned window must sit above the bucket-summary " +
        s"aggregate, not the corpus:\n${unpart.head}")
  }

  test("dedupNearDup keeps the min-id survivor per near-dup cluster " +
      "and every singleton") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (7L, "the quick brown fox jumps over the lazy dog today"),
      (9L, "completely different content about spark engines here now")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupNearDup(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(_.getLong(0)).sorted
    // 1,2 exact dups; 7 near-dup of them above 0.5 -> cluster {1,2,7}
    // survives as 1; 9 is a singleton
    assert(kept === Array(1L, 9L))
  }

  test("quality classifier: separates reference from background, " +
      "training is bitwise deterministic across partitionings") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.QualityClassifier
    val good = Seq("insightful analysis of renewable energy policy",
      "thorough peer reviewed study on climate adaptation",
      "careful empirical evaluation of education outcomes",
      "detailed methodology for reproducible research results")
    val spam = Seq("click here buy cheap pills now discount",
      "winner winner free prize claim your money",
      "hot deals cheap cheap buy now click click",
      "free money winner prize claim discount pills")
    val rows = (good.zipWithIndex.map { case (t, i) => (i.toLong, t, 1) }
      ++ spam.zipWithIndex.map { case (t, i) =>
        ((i + 100).toLong, t, 0) })
    val docs = rows.toDF("doc_id", "text", "label")
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      buckets = 512, iters = 40)
    val scored = QualityClassifier.score(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    good.indices.foreach(i => assert(scored(i.toLong) > 0.5,
      s"good doc $i scored ${scored(i.toLong)}"))
    spam.indices.foreach(i => assert(scored((i + 100).toLong) < 0.5,
      s"spam doc $i scored ${scored((i + 100).toLong)}"))
    // bitwise determinism: retrain on a differently-partitioned frame —
    // the fixed-point sums must make every weight IDENTICAL
    val model2 = QualityClassifier.train(docs.repartition(7), "doc_id",
      "text", "label", buckets = 512, iters = 40)
    assert(model2.bias === model.bias)
    assert(model2.weights.toSeq === model.weights.toSeq)
    // the shuffle-free row-local scorer is BITWISE equal to the
    // relational formulation it replaced (same md5 bucket, same
    // quantized-term sum, same rounding)
    val relational = QualityClassifier
      .scoreRelational(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored === relational)
  }

  test("quality classifier: tokenless docs train as intercept-only " +
      "rows through the row-local packing (round-19 q87 rewrite)") {
    // The round-19 train packs features by the row-local gram walk
    // instead of the relational explode/groupBy/union pipeline. The
    // union branch was what gave gram-less docs (empty, whitespace,
    // null text) their intercept-only feature row; the walk must
    // reproduce exactly that, and the packed path must stay bitwise
    // deterministic across partitionings with such docs present.
    val s = initSpark()
    import s.implicits._
    import graft.operators.QualityClassifier
    val rows = Seq[(Long, String, Int)](
      (1L, "careful empirical evaluation of outcomes", 1),
      (2L, "click here buy cheap pills now", 0),
      (3L, "", 1), // tokenless: intercept-only
      (4L, "   \t  ", 0), // whitespace-only: intercept-only
      (5L, null, 1), // null text: intercept-only
      (6L, "thorough peer reviewed study", 1),
      (7L, "free money winner prize claim", 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      buckets = 256, iters = 20)
    val model2 = QualityClassifier.train(docs.repartition(5), "doc_id",
      "text", "label", buckets = 256, iters = 20)
    assert(model2.bias === model.bias)
    assert(model2.weights.toSeq === model.weights.toSeq)
    // tokenless docs must reach the model: with gram-less positives in
    // the train set the bias moves (it is their only trainable term)
    assert(model.bias !== 0.0)
    // and the row-local scorer agrees with the relational reference on
    // the same edge corpus (gram-less docs score sigmoid(bias))
    val scored = QualityClassifier.score(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val relational = QualityClassifier
      .scoreRelational(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored === relational)
    assert(scored(3L) === scored(5L), "all tokenless docs score alike")
    assert(scored(4L) === scored(5L), "all tokenless docs score alike")
  }

  test("dsirScore favors docs that look like the target corpus") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.ImportanceSampling
    val raw = Seq(
      (1L, "alpha beta alpha beta alpha beta"),   // pure target-like
      (2L, "noise junk noise junk noise junk"),   // pure background
      (3L, "alpha beta noise junk")               // mixed
    ).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val out = ImportanceSampling
      .dsirScore(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ORDERING is the contract (select top-weighted); absolute sign is
    // not meaningful at toy scale, where add-1 smoothing over the
    // bucket space dominates the raw counts
    assert(out(1L) > out(3L) && out(3L) > out(2L),
      s"ordering violated: $out")
  }

  test("borderline jaccard that ROUNDS up to the threshold survives " +
      "the size prune (round-slack regression)") {
    val s = initSpark()
    import s.implicits._
    // A ⊆ B with |A|=9999 shingles, |B|=19999: true J = 9999/19999 =
    // 0.4999749... < 0.5, but round(J + 1e-9, 4) = 0.5 passes the final
    // filter — the old raw-threshold prune (lo >= hi*t: 9999 >= 9999.5)
    // discarded the pair before scoring, diverging from the oracle
    val wordsB = (1 to 20001).map(i => s"w$i").mkString(" ")
    val wordsA = (1 to 10001).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(exact === Map((1L, 2L) -> 0.5),
      s"borderline pair missing or mis-scored: $exact")
    val prefix = Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(prefix === exact, "prefix path must equal the exact path")
  }

  test("shingles emits distinct n-grams, none for too-short docs") {
    val s = initSpark()
    import s.implicits._
    val d = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    val got = sh.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a b c"), (1L, "b c d")))
  }

  test("jaccardPairs finds exact and near duplicates") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val m = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 2L)) === 1.0) // identical
    assert(m.contains((1L, 3L)) && m((1L, 3L)) < 1.0)
    assert(!m.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardPairsPrefix equals jaccardPairs on real docs at several " +
      "thresholds (prefix filtering loses no qualifying pair)") {
    val s = initSpark()
    val real = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(0.3, 0.6, 0.8).foreach { t =>
      val full = Dedup.jaccardPairs(real, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect().toSeq
      val pref = Dedup.jaccardPairsPrefix(real, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect().toSeq
      assert(pref === full, s"prefix-filtered pairs diverge at t=$t")
    }
  }

  test("jaccardPairsPrefixScoped releases its shingle-set cache via the " +
      "returned hook, and the module slot keeps discarded-thunk " +
      "invocations from accumulating pinned RDDs") {
    val s = initSpark()
    val real = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (pairs, release) =
      Dedup.jaccardPairsPrefixScoped(real, "doc_id", "text", 3, 0.6)
    pairs.count() // materialize: the persist is live now
    val during = s.sparkContext.getPersistentRDDs.size
    assert(during > 0,
      "expected the operator's internal persist to be registered")
    release()
    assert(s.sparkContext.getPersistentRDDs.size < during,
      "release hook must unpersist the internal shingle-set cache")
    // bare-jaccardPairsPrefix callers DISCARD the thunk: the module
    // ReleaseSlot must free each previous invocation's caches, so
    // repeated calls hold the pinned count flat instead of growing it
    // (UDF closures differ per call, so CacheManager never dedupes
    // these persists on its own)
    Dedup.jaccardPairsPrefix(real, "doc_id", "text", 3, 0.6).count()
    val afterFirst = s.sparkContext.getPersistentRDDs.size
    Dedup.jaccardPairsPrefix(real, "doc_id", "text", 3, 0.6).count()
    assert(s.sparkContext.getPersistentRDDs.size === afterFirst,
      "slot must release the previous invocation's caches")
  }

  test("jaccardPairsPrefix is duplication-adaptive: contraction + " +
      "re-expansion equals jaccardPairs bit-for-bit across routing " +
      "tiers (IN-set, all-dup, broadcast), null/empty docs isolated") {
    val s = initSpark()
    import s.implicits._
    def check(corpus: Seq[(Long, String)], t: Double) = {
      val docs = corpus.toDF("doc_id", "text").repartition(5)
      val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pref === full, "adaptive prefix must equal the exact path")
      pref
    }
    val base =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val variant = // near-dup of base: J = 7/9 = 0.7778 on 3-shingles
      "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    // IN-set tier: two dup classes that are near-dups of EACH OTHER,
    // member ids interleaved so cross-expansion must re-canonicalize
    // id_a < id_b; plus a cold doc and null/empty rows (no shingles —
    // must never pair, exactly like the baseline)
    val got = check(Seq(
      (5L, base), (100L, base), // class A
      (6L, variant), (50L, variant), // class B
      (7L, "totally different words here entirely unrelated content"),
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]),
      (12L, ""), (13L, "")), 0.6)
    val m = got.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m((5L, 100L)) === 1.0 && m((6L, 50L)) === 1.0,
      "intra-class pairs must score 1.0")
    assert(Set((5L, 6L), (5L, 50L), (6L, 100L), (50L, 100L))
      .forall(m.contains), s"cross-class expansion incomplete: $m")
    // all-dup tier: every doc a clique member -> routing joins skipped
    check((0L until 20L).map(i =>
      (i, if (i < 10) base else variant)), 0.6)
    // broadcast tier: > SpanningInSetSuspects suspect docs (1200 docs
    // in 600 exact-dup pairs) plus distinct cold docs
    assert(Dedup.SpanningInSetSuspects < 1200)
    def doc(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i " +
      s"zeta$i eta$i theta$i iota$i kappa$i"
    val mixed = (0L until 1200L).map(i => (i, doc(i / 2))) ++
      (2000L until 2040L).map(i => (i, doc(i)))
    check(mixed, 0.6)
    // repeated-id gate: duplicated doc ids break the re-expansion's
    // bit-identity proof (membership lifts per OCCURRENCE, and
    // classPairUdf emits exactly ONE intra-class row), so such
    // degenerate inputs must keep the r11 uncontracted plan verbatim.
    // The two plans are distinguishable by multiplicity: two rows
    // sharing id=5 give the legacy verify join 2x2 = 4 (5,5,1.0)
    // combinations, where the contraction would collapse the class
    // [5,5] to a single self-pair row.
    val dup = Seq((5L, base), (5L, base),
        (7L, "totally different words here entirely unrelated"))
      .toDF("doc_id", "text").repartition(3)
    val selfRows = Dedup.jaccardPairsPrefix(dup, "doc_id", "text", 3, 0.6)
      .where(col("id_a") === 5L && col("id_b") === 5L).collect()
    assert(selfRows.length === 4 &&
      selfRows.forall(_.getDouble(2) === 1.0),
      "repeated-id input must route through the uncontracted plan " +
        s"(legacy 4-combination signature), got ${selfRows.toSeq}")
  }

  test("jaccardPairsCapped: uncapped matches jaccardPairs; cap drops " +
      "stop-shingle pairs") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      ("d1", "alpha beta gamma delta epsilon"),
      ("d2", "alpha beta gamma delta zeta"),
      ("d3", "one two alpha beta gamma"),
      ("d4", "totally different words here now"))
      .toDF("doc_id", "text")
    val plain = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val uncapped = Dedup.jaccardPairsCapped(docs, "doc_id", "text", 3,
        0.1, maxDocFreq = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped === plain)
    // 'alpha beta gamma' appears in 3 docs; cap at 2 removes the only
    // shingle linking d3 to d1/d2
    val capped = Dedup.jaccardPairsCapped(docs, "doc_id", "text", 3,
        0.1, maxDocFreq = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped.contains(("d1", "d2")))
    assert(!capped.exists(p => p._1 == "d3" || p._2 == "d3"))
  }

  test("jaccardSpanningEdges: components identical to the full " +
      "jaccardPairsCapped graph; exact cliques emit linear edges") {
    val s = initSpark()
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus =
      // 6-member exact-dup clique (ids 10..15)
      (10L to 15L).map(i => (i, base)) ++ Seq(
        // near-dup chain: 20~21 and 21~22 overlap, 20~22 weaker
        (20L, "alpha beta gamma delta epsilon zeta eta iota"),
        (21L, "alpha beta gamma delta epsilon zeta mu iota"),
        (22L, "nu beta gamma delta epsilon zeta mu iota"),
        // isolated
        (30L, "completely unrelated text about spark planning engines"),
        // too short for 3-shingles -> no shingles at all
        (31L, "two words"))
    val docs = corpus.toDF("doc_id", "text").repartition(7)
    def components(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", idsCoverEndpoints = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.jaccardPairsCapped(docs, "doc_id", "text",
      n = 3, threshold = 0.2, maxDocFreq = 4096)
    val span = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
      n = 3, threshold = 0.2, maxDocFreq = 4096)
    assert(components(span) === components(full),
      "spanning edges must induce bit-identical components")
    // the q86 path: star contraction over the same spanning edges
    val starComp = Dedup.connectedComponentsStar(
        docs.select(col("doc_id")), span,
        idCol = "doc_id", idsCoverEndpoints = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(starComp === components(full))
    // the 6-clique contributes 5 star edges, not 15 pairs
    val spanClique = span.where(col("id_a") >= 10 && col("id_b") <= 15)
      .count()
    val fullClique = full.where(col("id_a") >= 10 && col("id_b") <= 15)
      .count()
    assert(spanClique === 5L)
    assert(fullClique === 15L)
    // capped universe consistency: df cap computed on the FULL corpus
    // (clique members count toward df individually) — with cap 5 the
    // clique's own shingles (df=6) vanish, disconnecting it
    val cappedSpan = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
      n = 3, threshold = 0.2, maxDocFreq = 5)
    val cappedFull = Dedup.jaccardPairsCapped(docs, "doc_id", "text",
      n = 3, threshold = 0.2, maxDocFreq = 5)
    assert(components(cappedSpan) === components(cappedFull))
  }

  test("jaccardSpanningEdges: null/empty/short-text docs survive the " +
      "suspect census isolated — they share digests but have no " +
      "shingles, so no edge ever touches them") {
    val s = initSpark()
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, base), (2L, base), // one real dup pair
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]),
      (12L, ""), (13L, ""), (14L, "two words"))
    val docs = corpus.toDF("doc_id", "text").repartition(3)
    val span = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(span === Set((1L, 2L)),
      "only the real dup pair may produce an edge")
    val comps = Dedup.connectedComponents(docs.select(col("doc_id")),
        Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = 4096),
        idCol = "doc_id", idsCoverEndpoints = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 11L,
      12L -> 12L, 13L -> 13L, 14L -> 14L))
  }

  test("components: random STRING-id graphs agree between local " +
      "union-find and the distributed loop (property)") {
    val s = initSpark()
    import s.implicits._
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(1, 18)
      m <- Gen.choose(0, 24)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1),
        Gen.choose(0, n - 1)))
    } yield (n, edges.filter { case (a, b) => a != b })
    def sid(i: Int) = f"doc-$i%03d"
    val prop = forAll(gen) { case (n, edges) =>
      val ids = (0 until n).map(sid).toDF("id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(String, String)].toDF("id_a", "id_b")
        else edges.map { case (a, b) => (sid(a), sid(b)) }
          .toDF("id_a", "id_b")
      def run(cap: Int) = Dedup.connectedComponents(ids, pairs,
          maxRounds = 60, localEdgeCap = cap)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      run(1000) == run(0)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("components: supplementary-plane string ids get the same " +
      "cluster_rep from local union-find and the distributed loops " +
      "(UTF-8 byte order, not UTF-16 code-unit order)") {
    val s = initSpark()
    import s.implicits._
    // U+10000 encodes as F0 90 80 80; U+E000 as EE 80 80. Spark's
    // UTF8String binary order says U+E000 < U+10000; JVM
    // String.compareTo says the opposite (surrogate 0xD800 < 0xE000).
    val astral = "\ud800\udc00" // U+10000
    val bmp = "\ue000"
    val ids = Seq(astral, bmp, "zz").toDF("doc_id")
    val pairs = Seq((astral, bmp)).toDF("id_a", "id_b")
    def reps(cap: Int) =
      Dedup.connectedComponents(ids, pairs, idCol = "doc_id",
          localEdgeCap = cap)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // literal cap, not Dedup.LocalComponentsEdgeCap: that val is
    // env-overridable (SPARK_GRAFT_CC_LOCAL_CAP=0 from a scale-proof
    // shell would silently turn this into loop-vs-loop)
    val local = reps(10)
    val loop = reps(0)
    val star = Dedup.connectedComponentsStar(ids, pairs,
        idCol = "doc_id", localEdgeCap = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local === loop)
    assert(local === star)
    assert(local(astral) === bmp && local(bmp) === bmp,
      "component min must follow Spark's UTF-8 binary order")
  }

  test("jaccardSpanningEdges routing tiers agree: zero-dup delegate, " +
      "all-dup skip, and the broadcast-join tier above the IN-set " +
      "bound all induce the capped graph's components") {
    val s = initSpark()
    import s.implicits._
    def comps(docs: org.apache.spark.sql.DataFrame,
        pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", idsCoverEndpoints = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(corpus: Seq[(Long, String)]): Unit = {
      val docs = corpus.toDF("doc_id", "text").repartition(5)
      val span = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
        n = 3, threshold = 0.3, maxDocFreq = 4096)
      val full = Dedup.jaccardPairsCapped(docs, "doc_id", "text",
        n = 3, threshold = 0.3, maxDocFreq = 4096)
      assert(comps(docs, span) === comps(docs, full))
    }
    def doc(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i " +
      s"zeta$i eta$i theta$i iota$i kappa$i"
    // zero suspects: all docs distinct -> the capped-pair delegate
    check((0L until 40L).map(i => (i, doc(i))))
    // IN-set tier: three exact-dup pairs among distinct cold docs, and
    // a cold near-dup of each class, so the components need both the
    // contracted reps and the cold side
    def variant(i: Long) = doc(i).replace(s"kappa$i", s"lambda$i")
    check((0L until 6L).map(i => (i, doc(i / 2))) ++
      (6L until 9L).map(i => (i, variant(i - 6))) ++
      (9L until 40L).map(i => (i, doc(i))))
    // all-dup: EVERY doc a clique member -> routing joins skipped
    check((0L until 40L).map(i => (i, doc(i / 4))))
    // broadcast tier: > SpanningInSetSuspects suspect docs (1200
    // docs in 600 exact-dup pairs) plus distinct cold docs
    assert(Dedup.SpanningInSetSuspects < 1200)
    val mixed = (0L until 1200L).map(i => (i, doc(i / 2))) ++
      (2000L until 2040L).map(i => (i, doc(i)))
    check(mixed)
  }

  test("simhashPairs: null/empty/whitespace-only docs share signature " +
      "0 and pair at hamming 0 (the contract the q23 oracle replays " +
      "with its left join)") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (3L, null.asInstanceOf[String]), (4L, ""), (5L, "   "))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((3L, 4L, 0), (3L, 5L, 0), (4L, 5L, 0)))
  }

  test("cappedCollect: groups over the cap evaluate to NULL with " +
      "bounded buffers (never materialize hot posting lists); under " +
      "cap it matches collect_list as a set") {
    val s = initSpark()
    import s.implicits._
    // group 'hot' has 1000 members (over cap 10), 'cold' has 3 —
    // spread over many partitions so merge() paths run
    val df = ((0 until 1000).map(i => ("hot", i.toLong)) ++
      Seq(("cold", 1L), ("cold", 2L), ("cold", 3L)))
      .toDF("k", "v").repartition(8)
    val out = df.groupBy("k")
      .agg(graft.expr.CappedCollect.cappedCollect(col("v"), 10).as("vs"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[Long](1)).map(_.toSet)).toMap
    assert(out("hot") === None, "over-cap group must be NULL")
    assert(out("cold") === Some(Set(1L, 2L, 3L)))
    // string element type (UTF8String copy semantics under codegen)
    val sdf = Seq(("g", "a"), ("g", "b"), ("h", "c"))
      .toDF("k", "v").repartition(4)
    val sout = sdf.groupBy("k")
      .agg(graft.expr.CappedCollect.cappedCollect(col("v"), 2).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet)
      .toMap
    assert(sout === Map("g" -> Set("a", "b"), "h" -> Set("c")))
  }

  test("mixing: hash sampling is content-stable (same rows kept across " +
      "reruns/partitionings), rates bind per stratum, split assignment " +
      "partitions completely and is disjoint") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.Mixing
    val df = (0L until 1000L).map(i => (i, s"src${i % 4}"))
      .toDF("id", "source")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val kept1 = Mixing.stratifiedSample(df, "source", rates, "id")
      .select("id").collect().map(_.getLong(0)).sorted
    val kept2 = Mixing.stratifiedSample(df.repartition(7), "source",
      rates, "id").select("id").collect().map(_.getLong(0)).sorted
    assert(kept1 === kept2, "sampling must not depend on partitioning")
    val bySrc = df.join(Mixing.stratifiedSample(df, "source", rates, "id")
        .select(col("id").as("kid")), col("id") === col("kid"))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") === 250L) // rate 1.0 keeps the whole stratum
    assert(bySrc.getOrElse("src2", 0L) === 0L) // rate 0.0 drops it
    assert(!bySrc.contains("src3")) // absent from the mixture config
    val frac = bySrc("src1").toDouble / 250
    assert(frac > 0.35 && frac < 0.65, s"src1 kept $frac, want ~0.5")
    // split: total partition, disjoint, stable, ~80/10/10
    val splits = df.select(col("id"),
        Mixing.assignSplit(col("id"), 0.8, 0.1).as("split"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum === 1000L)
    assert(splits("train") > 700 && splits("train") < 900)
    assert(splits("val") > 50 && splits("val") < 160)
    assert(splits("test") > 50 && splits("test") < 160)
  }

  test("unigram surprisal: rare-vocabulary documents score higher " +
      "than common-vocabulary ones; uniform text scores log2(vocab)") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    val docs = Seq(
      (1L, "common common common common common common"),
      (2L, "common common common rare1 rare2 rare3"))
      .toDF("doc_id", "text")
    val out = LanguageModel.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(out(2L)._1 > out(1L)._1,
      "rare vocabulary must be more surprising")
    assert(out(1L)._2 === 6L && out(2L)._2 === 6L)
    // doc of all-common tokens: p(common)=9/12 -> -log2(0.75)=0.415
    assert(math.abs(out(1L)._1 - 0.415) < 1e-3)
    // degenerate corpora return EMPTY, not NPE: sum() over zero vocab
    // rows is null (empty corpus; or minCount filtering out every word)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(LanguageModel.unigramSurprisal(
      emptyDocs, "doc_id", "text").count() === 0L)
    assert(LanguageModel.unigramSurprisal(
      docs, "doc_id", "text", minCount = 100L).count() === 0L)
  }

  test("bigram stupid backoff: kept bigrams score count ratios, hapax " +
      "transitions take the backoff branch — hand-computed values") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    // corpus: unigrams a:3 b:3 c:2 d:2 (total 10)
    // bigrams: "a b":3 "b a":2 "c d":2 kept (minCount=2); "d c":1 backoff
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c d c d"))
      .toDF("doc_id", "text")
    val out = LanguageModel.bigramSurprisalBackoff(
      docs, "doc_id", "text", minCount = 2L, backoff = 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    // d1: (a b)x3 -> -log2(3/3)=0; (b a)x2 -> -log2(2/3)=0.58496
    //     avg over 5 transitions = 0.23399
    assert(out(1L)._2 === 5L)
    assert(math.abs(out(1L)._1 - 0.234) < 1e-3)
    // d2: (c d)x2 -> -log2(2/2)=0; (d c) -> backoff 0.4*c1(c)/total =
    //     0.4*2/10 = 0.08 -> -log2(0.08)=3.64386; avg/3 = 1.21462
    assert(out(2L)._2 === 3L)
    assert(math.abs(out(2L)._1 - 1.2146) < 1e-3)
    // degenerate corpora: empty, and all-backoff-filtered
    assert(LanguageModel.bigramSurprisalBackoff(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text").count() === 0L)
    // single-token docs have no transitions and drop out
    assert(LanguageModel.bigramSurprisalBackoff(
      Seq((1L, "word")).toDF("doc_id", "text"),
      "doc_id", "text").count() === 0L)
  }

  test("PMI collocations: hand-computed micro-unit values, glued " +
      "pairs beat independent ones, minCount cuts the tail") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    // "new york" always glued (3x); "the cat"/"the dog" mix freely;
    // "rare pair" appears once (cut by minCount=2)
    val docs = Seq(
      (1L, "new york new york the cat"),
      (2L, "new york the dog the cat"),
      (3L, "the dog rare pair")).toDF("doc_id", "text")
    val out = LanguageModel.pmiCollocations(docs, "doc_id", "text",
        minCount = 2L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // corpus: U=16 tokens (6+6+4), T=13 bigrams (5+5+3)
    // unigrams: new 3, york 3, the 4, cat 2, dog 2, rare 1, pair 1
    def fp6(c2: Long, cx: Long, cy: Long): Long =
      math.floor(math.log(c2.toDouble * 16 * 16 /
        (13.0 * cx * cy)) * 1e6 + 0.5).toLong
    assert(out.keySet === Set(("new", "york"), ("york", "the"),
      ("the", "cat"), ("the", "dog")), s"got ${out.keySet}")
    assert(out(("new", "york")) === ((3L, fp6(3, 3, 3))))
    assert(out(("york", "the")) === ((2L, fp6(2, 3, 4))))
    assert(out(("the", "cat"))  === ((2L, fp6(2, 4, 2))))
    assert(out(("the", "dog"))  === ((2L, fp6(2, 4, 2))))
    // the glued pair's association dominates the free-mixing ones
    assert(out(("new", "york"))._2 > out(("the", "cat"))._2)
    // "york new" (1x, inside doc 1) was cut by minCount
    assert(!out.contains(("york", "new")))
  }

  test("Kneser-Ney: discounted + continuation mass matches the hand " +
      "computation; unseen transitions with no continuation mass take " +
      "the D/total floor") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    // uni: a:3 b:3 c:2 d:2 (total 10); kept bigrams (minCount=2):
    // "a b":3 "b a":2 "c d":2 -> B=3; every kept w1/w2 marginal is 1
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c d c d"))
      .toDF("doc_id", "text")
    val out = LanguageModel.kneserNeySurprisal(
      docs, "doc_id", "text", minCount = 2L, discount = 0.75)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    // d1: (a b)x3 p=(3-.75+.75*1*(1/3))/3=2.5/3; (b a)x2 p=1.5/3=.5
    //     avg = (3*0.263034 + 2*1.0)/5 = 0.55782
    assert(out(1L)._2 === 5L)
    assert(math.abs(out(1L)._1 - 0.5578) < 1e-3)
    // d2: (c d)x2 p=1.5/2=.75; (d c) unseen, n1p(d)=0 -> p=0 -> floor
    //     -log2(0.75/10)=3.736966; avg = (2*0.415037+3.736966)/3
    assert(out(2L)._2 === 3L)
    assert(math.abs(out(2L)._1 - 1.5223) < 1e-3)
    // degenerate corpus: everything capped out -> empty, not a crash
    assert(LanguageModel.kneserNeySurprisal(
      docs, "doc_id", "text", minCount = 100L).count() === 0L)
  }

  test("LM bigrams: a 20k-token document, passed as the List Spark " +
      "hands a UDF, yields every consecutive pair in order") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    val n = 20000
    val tokens = List.tabulate(n)(i => s"t$i")
    val out = LanguageModel.bigrams(tokens)
    assert(out.length === n - 1)
    assert(out.indices.forall(i => out(i) == s"t$i t${i + 1}"))
    assert(LanguageModel.bigrams(List("solo")).isEmpty)
    assert(LanguageModel.bigrams(Nil).isEmpty)
    assert(LanguageModel.bigrams(null).isEmpty)
    // through Spark: same pairs, same order
    val bigramsUdf = udf(LanguageModel.bigrams _)
    val viaSpark = Seq(tokens.mkString(" ")).toDF("text")
      .select(bigramsUdf(split(col("text"), " ")))
      .head().getSeq[String](0)
    assert(viaSpark === out.toSeq)
  }

  test("fast LM scorers equal the oracled relational forms " +
      "bit-for-bit (broadcast model, zero scoring exchanges)") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.LanguageModel
    // varied corpus: zipf-ish repetition + hapax tail, deterministic
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0 until 60).map { i =>
      val body = (0 until 8 + i % 13).map { j =>
        words((i * 7 + j * j) % words.length)
      }.mkString(" ") + s" tail$i"
      (i.toLong, body)
    }.toDF("doc_id", "text")
    def collectScores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    val uniRel = collectScores(
      LanguageModel.unigramSurprisal(docs, "doc_id", "text"))
    val uniFast = collectScores(
      LanguageModel.unigramSurprisalFast(docs, "doc_id", "text"))
    assert(uniRel === uniFast)
    val bgRel = collectScores(LanguageModel.bigramSurprisalBackoff(
      docs, "doc_id", "text", minCount = 2L))
    val bgFast = collectScores(LanguageModel.bigramSurprisalBackoffFast(
      docs, "doc_id", "text", minCount = 2L))
    assert(bgRel === bgFast)
    // the fast tier's memory bound is LOUD, not a silent truncation
    val ex = intercept[IllegalArgumentException] {
      LanguageModel.unigramSurprisalFast(docs, "doc_id", "text",
        maxModelRows = 3).count()
    }
    assert(ex.getMessage.contains("maxModelRows"))
  }

  test("decontamination: planted 13-gram leaks are flagged with exact " +
      "shared counts; the df cap drops boilerplate; cleaning removes " +
      "exactly the leaky train docs") {
    val s = initSpark()
    import s.implicits._
    import graft.operators.Decontaminate
    val leak = "zero one two three four five six seven eight nine " +
      "ten eleven twelve" // exactly 13 words -> one shingle
    val boiler = "common license header repeated on every single " +
      "document in the training corpus verbatim" // 14 words -> 2 shingles
    val train = Seq(
      (100L, s"unique training prose alpha $leak beta gamma delta"),
      (101L, s"clean document with $boiler inside it and nothing else"),
      (102L, s"another clean one also carrying $boiler in the middle"),
      (103L, "totally unrelated training text that shares no long " +
        "ngram with anything else in this corpus at all ok"))
      .toDF("doc_id", "text")
    val test = Seq(
      (200L, s"eval question mentioning $leak verbatim"),
      (201L, s"an eval doc that quotes the $boiler too"),
      (202L, "pristine evaluation document sharing nothing"))
      .toDF("doc_id", "text")
    val pairs = Decontaminate.contaminationPairs(train, test,
      "doc_id", "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // 200 leaks via the 13-word quote into 100; 201 via boilerplate
    // into 101 and 102
    assert(pairs.keySet === Set((200L, 100L), (201L, 101L), (201L, 102L)))
    assert(pairs((200L, 100L)) === 1L)
    // the df cap: boilerplate shingles appear in 2 train docs, the
    // genuine leak in 1 — cap=1 keeps exactly the leak pair
    val capped = Decontaminate.contaminationPairs(train, test,
      "doc_id", "text", n = 13, maxTrainDocFreq = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((200L, 100L)),
      "cap=1 must keep the uniquely-attributable leak, drop boilerplate")
    // cap=2 keeps boilerplate (df=2) AND the leak (df=1)
    assert(Decontaminate.contaminationPairs(train, test,
      "doc_id", "text", n = 13, maxTrainDocFreq = Some(2L))
      .count() === 3L)
    // cleaning drops exactly the contaminated train docs
    val cleaned = Decontaminate.removeContaminated(train, test,
      "doc_id", "text", n = 13)
      .select("doc_id").as[Long].collect().toSet
    assert(cleaned === Set(103L))
  }

  test("curation pipeline: quality gates + dedup + mixture + split in " +
      "one plan — junk filtered, dups collapsed, splits total") {
    val s = initSpark()
    import s.implicits._
    import graft.jobs.Curation
    // needs >= 50 words for the Gopher word-count gate, varied enough
    // to clear the repetition thresholds
    val healthy = ("the quick brown fox jumps over the lazy dog and " +
      "that should be quite enough words to pass every gate with " +
      "different content because each sentence here keeps adding " +
      "fresh vocabulary so neither the two gram mass nor the word " +
      "count rule can possibly object to this document at all ")
    val docs = ((0L until 60L).map(i =>
      (i, healthy + s"variant $i", s"src${i % 2}")) ++ Seq(
      (100L, healthy + "variant 3", "src0"), // exact dup of doc 3
      (101L, "too short", "src0"), // fails gopher wc
      (102L, ("spam spam " * 40).trim, "src1") // fails repetition
    )).toDF("doc_id", "text", "source")
    val out = Curation.curate(docs, "doc_id", "text", "source",
      rates = Map("src0" -> 1.0, "src1" -> 1.0))
    val rows = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(101L) && !rows.contains(102L), "junk gated")
    assert(!rows.contains(100L), "exact dup collapsed to smallest id")
    assert(rows.contains(3L))
    assert(rows.size === 60)
    assert(rows.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("curateWithNearDup collapses near-dup variants the exact pass " +
      "keeps, preserving everything else curate keeps") {
    val s = initSpark()
    import s.implicits._
    import graft.jobs.Curation
    val healthy = ("the quick brown fox jumps over the lazy dog and " +
      "that should be quite enough words to pass every gate with " +
      "different content because each sentence here keeps adding " +
      "fresh vocabulary so neither the two gram mass nor the word " +
      "count rule can possibly object to this document at all ")
    val docs = Seq(
      (1L, healthy + "closing words alpha beta gamma", "src0"),
      // near-dup of 1 (one word differs) — exact dedup keeps both,
      // the near-dup stage must collapse them
      (2L, healthy + "closing words alpha beta delta", "src0"),
      (3L, "meanwhile a completely separate report describes harvest " +
        "logistics across coastal villages where fishing crews trade " +
        "morning catches for grain and timber while local councils " +
        "debate irrigation schedules market prices seasonal storage " +
        "and the repair of bridges roads schools and granaries over " +
        "several long winter meetings each calendar year and entirely " +
        "without any needless repetition anywhere",
        "src0")
    ).toDF("doc_id", "text", "source")
    val exact = Curation.curate(docs, "doc_id", "text", "source",
      rates = Map("src0" -> 1.0)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact === Set(1L, 2L, 3L), "exact pass keeps the near-dups")
    val fuzzy = Curation.curateWithNearDup(docs, "doc_id", "text",
      "source", rates = Map("src0" -> 1.0), nearDupThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fuzzy === Set(1L, 3L), s"near-dup pass: $fuzzy")
  }

  test("curation scrubs PII before scoring/dedup: curated text carries " +
      "placeholders, and two docs differing only in the email collapse") {
    val s = initSpark()
    import s.implicits._
    import graft.jobs.Curation
    val healthy = ("the quick brown fox jumps over the lazy dog and " +
      "that should be quite enough words to pass every gate with " +
      "different content because each sentence here keeps adding " +
      "fresh vocabulary so neither the two gram mass nor the word " +
      "count rule can possibly object to this document at all ")
    val docs = Seq(
      (1L, healthy + "contact alice@example.com for details", "src0"),
      // same text modulo the email address: post-redaction exact dup
      (2L, healthy + "contact bob@sample.org for details", "src0"),
      (3L, healthy + "no personal data here", "src0")
    ).toDF("doc_id", "text", "source")
    val out = Curation.curate(docs, "doc_id", "text", "source",
      rates = Map("src0" -> 1.0))
    val rows = out.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet === Set(1L, 3L),
      "email-only variants must collapse to the smallest id")
    assert(rows(1L).contains("<EMAIL>") && !rows(1L).contains("alice@"),
      "curated text must be redacted")
  }

  test("minhash LSH: shingle-less docs never pair (round-1 advice " +
      "regression — a shared sentinel made every short doc a false " +
      "1.0-similarity pair)") {
    val s = initSpark()
    import s.implicits._
    val docs = Seq(
      ("s1", "one two"),        // < shingleN words -> no signature
      ("s2", "three"),          // < shingleN words
      ("s3", null: String),     // null text
      ("s4", ""),               // empty text
      ("d1", "alpha beta gamma delta epsilon"),
      ("d2", "alpha beta gamma delta epsilon")) // exact dup: must pair
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val shortIds = Set("s1", "s2", "s3", "s4")
    assert(pairs.forall { case (a, b) =>
      !shortIds(a) && !shortIds(b) }, s"short docs paired: $pairs")
    assert(pairs.contains(("d1", "d2")))
  }

  test("minhashLshIncremental equals the cross-stratum slice of the " +
      "full portable LSH pass and never pairs the snapshot with " +
      "itself") {
    val s = initSpark()
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val all = Seq(
      // snapshot: two near-identical docs (an intra-snapshot pair the
      // incremental form must NOT emit) + one unique
      (1L, "old", base + " one"),
      (2L, "old", base + " one two"),
      (3L, "old", "completely different snapshot content here folks"),
      // batch: a near-dup of snapshot docs + a unique doc
      (10L, "new", base + " one"),
      (11L, "new", "nothing like anything in the snapshot at all"))
      .toDF("id", "stratum", "text")
    val batch = all.where(col("stratum") === "new")
    val snap = all.where(col("stratum") === "old")
    val inc = Dedup.minhashLshIncremental(batch, snap, "id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // reference: the full-corpus portable pass, sliced to cross pairs
    val full = Dedup.minhashLshPairsPortable(all, "id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .collect { case ((a, b), j) if a <= 3 && b >= 10 => (b, a) -> j }
      .toMap
    assert(inc === full, s"inc=$inc full=$full")
    // doc 10 is an exact copy of snapshot doc 1
    assert(inc((10L, 1L)) === 1.0)
    // no intra-snapshot or intra-batch pairs leak out
    assert(inc.keys.forall { case (n, o) => n >= 10 && o <= 3 })
  }

  test("minhashLshIncremental broadcasts the batch side of the " +
      "candidate join (the snapshot never shuffles batch-driven)") {
    val s = initSpark()
    import s.implicits._
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Dedup.minhashLshIncremental(
      docs.where(length(col("source")) === 5),
      docs.where(length(col("source")) === 4), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      "candidate join not broadcast:\n" + plan.take(3000))
  }

  test("minhash LSH surfaces the exact-dup pair with est_jaccard 1") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4)
    val m = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 2L)) === 1.0)
  }

  test("simhash of identical docs is identical; pairs have hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val m = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(m((1L, 2L)) === 0)
  }

  private def vecs = {
    val s = initSpark()
    import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.0f, 1.0f), 2),
      (4L, Array(-1.0f, 0.0f, 0.0f), 3)
    ).toDF("vec_id", "embedding", "label")
  }

  test("bruteForceTopK ranks the closest vector first") {
    val top = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
      k = 2)
    val rows = top.orderBy("rank").collect()
    assert(rows(0).getLong(1) === 1L) // nearest to (1,0,0) is (0.9,0.1,0)
    assert(rows(0).getInt(3) === 1)
  }

  test("cosine/dot/norm column functions") {
    val s = initSpark()
    import s.implicits._
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm(col("a")).as("na"),
      VectorFunctions.cosine(col("a"), col("a")).as("self")).head()
    assert(r.getDouble(0) === 24.0)
    assert(r.getDouble(1) === 5.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    // a null ELEMENT null-propagates the norm (the aggregate()-HOF
    // semantics the codegen'd NormF32 must preserve: acc + null * null
    // made the accumulator null) — not 0, not an NPE
    val withNullElem = Seq(
      Tuple1(Seq(Some(3.0f), None, Some(4.0f))),
      Tuple1(Seq(Some(3.0f), Some(4.0f), Some(0.0f))))
      .toDF("a")
      .select(col("a").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)).as("a"))
    val norms = withNullElem
      .select(VectorFunctions.norm(col("a")).as("n"))
      .collect().map(r => Option(r.get(0)))
    assert(norms(0) === None, "null element must null the norm")
    assert(norms(1) === Some(5.0))
  }

  test("l2Normalize produces unit vectors") {
    val s = initSpark()
    import s.implicits._
    val df = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("a")
    val n = df.select(VectorFunctions.norm(
      VectorFunctions.l2Normalize(col("a"))).as("n")).head().getDouble(0)
    assert(math.abs(n - 1.0) < 1e-6)
  }

  test("ivfTopK returns k ranked probes per query") {
    val dir = "/root/testdata/sf0.001"
    val emb = initSpark().read.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 3), k = 4,
      stride = 50, nProbe = 2)
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    assert(byQ.values.forall(_.length === 4))
  }

  test("embeddingNearDupPairs detects a duplicated embedding") {
    val s = initSpark()
    import s.implicits._
    val emb = Seq(
      (0L, Array(0.6f, 0.8f, 0.0f)),
      (1L, Array(0.6f, 0.8f, 0.0f)),
      (2L, Array(-0.6f, -0.8f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.99)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L)))
  }

  test("embeddingNearDupPairsPortable: identical texts pair at cos 1, " +
    "disjoint vocab stays apart, empty docs never pair") {
    val s = initSpark()
    import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),       // exact dup of 1
      (3L, "alpha beta gamma delta zeta"),          // near dup
      (4L, "uno dos tres cuatro cinco seis siete"), // disjoint vocab
      (5L, "")                                      // empty: no features
    ).toDF("doc_id", "text")
    val rows = Dedup.embeddingNearDupPairsPortable(df, "doc_id", "text",
        threshold = 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(rows.contains((1L, 2L)) && rows((1L, 2L)) === 1.0,
      s"exact dup must score cosine 1.0: $rows")
    // near dup pairs iff it lands in the same LSH bucket — if present
    // its cosine must sit strictly between the dup and disjoint scores
    rows.get((1L, 3L)).foreach(c => assert(c >= 0.7 && c < 1.0))
    assert(!rows.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"disjoint-vocab doc must not pair at 0.7: $rows")
    assert(!rows.keySet.exists { case (a, b) => a == 5L || b == 5L },
      "featureless doc must be excluded, not paired at cos 0/0")
  }

  test("throughput tier vs portable tier cross-check (q22/q23 vs " +
    "q92/q93/q94): exact duplicates pair in BOTH hash families") {
    val s = initSpark()
    import s.implicits._
    // identical texts collide under ANY correct hash family — the one
    // property the two tiers must agree on regardless of hash choice
    // (near-dup candidate sets legitimately differ between families)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "an entirely different document about spark physical plans"),
      (4L, "an entirely different document about spark physical plans"),
      (5L, "one more unrelated text with its own vocabulary set here")
    ).toDF("doc_id", "text")
    def pairs(res: org.apache.spark.sql.DataFrame) =
      res.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fastMh = pairs(Dedup.minhashLshPairs(df, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4))
    val portMh = pairs(Dedup.minhashLshPairsPortable(df, "doc_id",
      "text", n = 3, bands = 4))
    val fastSh = pairs(Dedup.simhashPairs(df, "doc_id", "text",
      maxHamming = 7))
    val dups = Set((1L, 2L), (3L, 4L))
    for ((name, got) <- Seq("fast minhash" -> fastMh,
        "portable minhash" -> portMh, "fast simhash" -> fastSh)) {
      assert(dups.subsetOf(got), s"$name missed an exact-dup pair: $got")
      assert(!got.exists { case (a, b) => a == 5L || b == 5L },
        s"$name paired the unrelated doc: $got")
    }
    // portable simhash: identical texts produce identical 60-bit rows
    val sh = Dedup.simhashPortable(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    assert(sh(1L).map(t => (t._2, t._3)).toSet ===
      sh(2L).map(t => (t._2, t._3)).toSet)
  }

  test("semantic decontamination: eval neighbors flagged, train-train " +
    "near-dups are NOT, every train doc gets a verdict row") {
    val s = initSpark()
    import s.implicits._
    val train = Seq(
      (1L, "the measured rotation curve of spiral galaxies stays flat"),
      // near-dup of ANOTHER TRAIN doc — must stay clean (no eval side)
      (2L, "the measured rotation curve of spiral galaxies stays flat!"),
      (3L, "sourdough starters need regular feeding and warm water")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      // paraphrase-free near-copy of train doc 1 = the leak
      (100L, "the measured rotation curve of spiral galaxies stays flat")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .semanticDecontaminate(train, eval_, "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L),
      "every train doc needs a verdict row")
    assert(got(1L), "the eval near-copy must be flagged")
    assert(!got(3L), "disjoint-vocab doc must stay clean")
    // doc 2 is a near-dup of TRAIN doc 1, and also (transitively) of
    // the eval doc — it may flag via the eval doc itself, which is
    // correct; what must NOT happen is flagging with an EMPTY eval set
    val none = graft.operators.Dedup
      .semanticDecontaminate(train,
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(none.values.forall(_ == false),
      "no eval set => nothing is contaminated")
  }

  test("portable HLL: estimate tracks exact distinct within rel. error " +
    "and is insensitive to duplication") {
    val s = initSpark()
    import s.implicits._
    // 2000 distinct users under key A (each twice — dup-insensitive),
    // 50 distinct under key B
    val df = ((0 until 2000) ++ (0 until 2000)).map(i => ("A", i.toLong))
      .++((0 until 50).map(i => ("B", 100000L + i)))
      .toDF("event_type", "user_id")
    val got = graft.operators.Hll
      .approxCountDistinct(df, "event_type", col("user_id"), "est")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // m=256 registers => typical HLL rel. error ~1.04/sqrt(256) = 6.5%;
    // assert a loose 3-sigma band, and exactness-of-determinism: the
    // estimate is a pinned value, so equality is stable across runs
    assert(math.abs(got("A") - 2000.0) / 2000.0 < 0.2, s"A: ${got("A")}")
    assert(math.abs(got("B") - 50.0) / 50.0 < 0.2, s"B: ${got("B")}")
    val again = graft.operators.Hll
      .approxCountDistinct(df, "event_type", col("user_id"), "est")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === again, "portable HLL must be bit-deterministic")
  }

  test("intra-class re-expansion past IntraExplodeCap streams through " +
      "the rep-keyed self-join — same pair set as the explode path, " +
      "no single-row allocation cliff") {
    val s = initSpark()
    import s.implicits._
    val big = Dedup.IntraExplodeCap + 40 // one class past the cap
    val bigText = "alpha beta gamma delta epsilon zeta eta theta"
    val smallText = "one two three four five six seven eight nine"
    val corpus =
      (0L until big.toLong).map(i => (i, bigText)) ++
        Seq(2000L, 2001L, 2002L).map(i => (i, smallText)) ++
        Seq((3000L, "lone wolf text with no duplicate partner at all"))
    val df = corpus.toDF("doc_id", "text")
    val (pairs, release) =
      Dedup.jaccardPairsPrefixScoped(df, "doc_id", "text", 3, 0.6)
    val agg = pairs.agg(
      count(lit(1)).as("n"),
      countDistinct(struct(col("id_a"), col("id_b"))).as("nd"),
      sum(col("id_a")).as("sa"), sum(col("id_b")).as("sb"),
      min(col("jaccard")).as("jmin"), max(col("jaccard")).as("jmax"),
      sum(when(col("id_a") >= col("id_b"), 1).otherwise(0)).as("bad"))
      .collect().head
    release()
    // expected: all i<j pairs inside each class, nothing across
    var en = 0L; var esa = 0L; var esb = 0L
    def clique(ids: Seq[Long]): Unit =
      for (i <- ids.indices; j <- (i + 1) until ids.size) {
        en += 1; esa += math.min(ids(i), ids(j))
        esb += math.max(ids(i), ids(j))
      }
    clique(0L until big.toLong)
    clique(Seq(2000L, 2001L, 2002L))
    assert(agg.getAs[Long]("n") === en)
    assert(agg.getAs[Long]("nd") === en, "duplicate pair emitted")
    assert(agg.getAs[Long]("sa") === esa)
    assert(agg.getAs[Long]("sb") === esb)
    assert(agg.getAs[Double]("jmin") === 1.0)
    assert(agg.getAs[Double]("jmax") === 1.0)
    assert(agg.getAs[Long]("bad") === 0L, "canonical id_a < id_b broken")
  }
}
