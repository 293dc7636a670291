package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{Curation, Pipeline}
import graft.ml.SdgClassifier
import graft.operators._
import graft.schema.Warehouse.Step

/** Cache lifetime of every operator that keeps a cache past its call
  * through a [[ReleaseSlot]] (the adaptive Dedup pair emitters are
  * covered in AdaptivePairsSpec). Each case runs in a fresh
  * `newSession()`, so no earlier invocation of the slot is there to
  * release: the first call must pin something, and a second call must
  * release it, holding the pinned counts flat. */
class CacheLifetimeSpec extends SparkSuite {

  /** Cache-manager entries (a persist registers one at once, even when
    * the action meant to fill it fails) and persisted RDDs. */
  private def pinned(s: SparkSession): (Int, Int) =
    (org.apache.spark.sql.graft.CachedEntries.count(s),
      s.sparkContext.getPersistentRDDs.size)

  private val healthy = "the quick brown fox jumps over the lazy dog and " +
    "that should be quite enough words to pass every gate with " +
    "different content because each sentence here keeps adding " +
    "fresh vocabulary so neither the two gram mass nor the word " +
    "count rule can possibly object to this document at all "

  private def texts(s: SparkSession): DataFrame = {
    import s.implicits._
    val span = "shared span of words that repeats across documents"
    (Seq((1L, s"alpha beta $span gamma delta"),
      (2L, s"other words $span more words"),
      (3L, healthy + "closing words alpha beta gamma"),
      (4L, healthy + "closing words alpha beta gamma"),
      (5L, healthy + "closing words alpha beta delta")) ++
      (10L until 30L).map(i => (i, s"doc $i unique words u${i}a u${i}b " +
        s"u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h")))
      .toDF("doc_id", "text")
  }

  /** The PipelineSpec flow's inputs, built lazily in `s`. */
  private final class Flow(s: SparkSession) {
    import s.implicits._
    lazy val documents = Seq(
      ("d1", "https://x/1", "Doc One", "en",
        "Climate action matters. Poverty reduction is key. " * 5),
      ("d2", "https://x/2", "Doc Two", "fr",
        "Energy systems and health outcomes. Education for all. " * 5)
    ).toDF("id", "url", "title", "lang", "full_content")
    lazy val ledger0 = Seq(
      ("d1@1", "d1", Step.UrlRetrieved, 1L),
      ("d1@2", "d1", Step.DocumentScraped, 2L),
      ("d2@1", "d2", Step.UrlRetrieved, 3L),
      ("d2@2", "d2", Step.DocumentScraped, 4L)
    ).toDF("id", "document_id", "title", "operation_order")
      .withColumn("created_at", lit(null).cast("timestamp"))
      .select("id", "document_id", "title", "created_at", "operation_order")
    lazy val (slices, vStates) = Pipeline.vectorize(documents, ledger0,
      maxWordsPerSlice = 12)
    lazy val ledger1 = Pipeline.appendStates(ledger0, vStates)
    lazy val biModel = Seq(("bi-1",
      graft.ml.StubEmbedder.embed("climate action matters", 64), 0.0, 0.5))
      .toDF("model_id", "weights", "bias", "threshold")
    lazy val nModel =
      SdgClassifier.stubModelTable(s, "n-1", 64, threshold = 0.4)
    lazy val (sliceSdgs, cStates) = Pipeline.classify(slices, ledger1,
      biModel, nModel)
    lazy val ledger2 = Pipeline.appendStates(ledger1, cStates)
    lazy val emptyKw = s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("keyword",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType))))
    lazy val (_, _, kStates) = Pipeline.keywords(documents, ledger2, emptyKw)
    lazy val ledger3 = Pipeline.appendStates(ledger2, kStates)
  }

  /** Each case builds its inputs in the given session and returns the
    * invocation to run twice (operator call + an action over it; a
    * collect where a count would let the optimizer drop the join that
    * reads the cache). */
  private val holders: Seq[(String, SparkSession => () => Long)] = Seq(
    "unigramSurprisal" -> { s => () =>
      LanguageModel.unigramSurprisal(texts(s), "doc_id", "text").count() },
    "bigramSurprisalBackoff" -> { s => () =>
      LanguageModel.bigramSurprisalBackoff(texts(s), "doc_id", "text",
        minCount = 1L).count() },
    "kneserNeySurprisal" -> { s => () =>
      LanguageModel.kneserNeySurprisal(texts(s), "doc_id", "text",
        minCount = 1L).count() },
    "curateWithNearDup" -> { s => () =>
      Curation.curateWithNearDup(
        texts(s).withColumn("source", lit("src0")), "doc_id", "text",
        "source", rates = Map("src0" -> 1.0), nearDupThreshold = 0.5)
        .count() },
    "Pipeline.vectorize" -> { s =>
      val f = new Flow(s)
      () => Pipeline.vectorize(f.documents, f.ledger0,
        maxWordsPerSlice = 12)._1.count() },
    "Pipeline.classify" -> { s =>
      val f = new Flow(s)
      () => Pipeline.classify(f.slices, f.ledger1, f.biModel,
        f.nModel)._1.count() },
    "Pipeline.keywords" -> { s =>
      val f = new Flow(s)
      () => Pipeline.keywords(f.documents, f.ledger2, f.emptyKw)._2
        .count() },
    "Pipeline.sync" -> { s =>
      val f = new Flow(s)
      () => Pipeline.sync(f.slices, f.documents, f.ledger3,
        f.sliceSdgs)._1.count() },
    "SequencePack.packOrder" -> { s => () =>
      SequencePack.packOrder(texts(s).withColumn("toks",
        length(col("text")).cast("long")), "doc_id", "toks",
        seqLen = 64L, groupWidth = 4L).count() },
    "Mixing.quotaSamplePrefiltered" -> { s =>
      import s.implicits._
      val df = (0L until 400L).map(i => (i, if (i % 4 == 0) "a" else "b"))
        .toDF("id", "stratum")
      () => Mixing.quotaSamplePrefiltered(df, "stratum",
        Map("a" -> 9, "b" -> 25), "id").count() },
    "ScalableRank.ntileByKey" -> { s =>
      import s.implicits._
      val df = (0L until 200L).map(i => (s"k${i % 3}", i % 7, i))
        .toDF("k", "s", "id")
      () => ScalableRank.ntileByKey(df, "k", "s", "id", 3,
        ntileCol = "nt", partitions = 3).count() },
    "SubstringDedup.removeDuplicateWindows" -> { s => () =>
      SubstringDedup.removeDuplicateWindows(texts(s), "doc_id", "text", 5)
        .collect().length.toLong },
    "SemDedup.semDedup" -> { s =>
      import s.implicits._
      val emb = (0 until 40).map { i =>
        (i.toLong, Array(math.cos(0.1 * i).toFloat,
          math.sin(0.1 * i).toFloat, math.cos(0.07 * i + 1).toFloat,
          math.sin(0.07 * i + 1).toFloat))
      }.toDF("vec_id", "embedding")
      () => SemDedup.semDedup(emb, eps = 0.999, stride = 10, iters = 2)
        .count() },
    "Graph.pageRankFixed" -> { s =>
      import s.implicits._
      val nodes = (1L to 6L).toDF("node_id")
      val edges = Graph.undirect(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("a", "b"),
        "a", "b")
      () => Graph.pageRankFixed(s, nodes, edges, "node_id", "src", "dst",
        3).collect().length.toLong },
    "Decontaminate.contaminationPairsBloom" -> { s => () =>
      val docs = texts(s)
      Decontaminate.contaminationPairsBloom(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", n = 5)
        .count() },
    "EditDistanceJoin.selfJoin" -> { s =>
      import s.implicits._
      val df = Seq((1L, "kitten"), (2L, "kitten"), (3L, "sitting"),
        (4L, "mitten"), (5L, "kitten"), (6L, "unrelated"))
        .toDF("id", "s")
      () => EditDistanceJoin.selfJoin(df, "id", "s", 2).count() },
    "Dedup.minhashLshIncremental" -> { s => () =>
      val docs = texts(s)
      Dedup.minhashLshIncremental(docs.where(col("doc_id") >= 4L),
        docs.where(col("doc_id") < 4L), "doc_id", "text").count() }
  )

  holders.foreach { case (name, setup) =>
    test(s"$name pins its caches and releases them on the next call") {
      val s = initSpark().newSession()
      val run = setup(s)
      val before = pinned(s)
      run()
      val afterFirst = pinned(s)
      assert(afterFirst._1 > before._1, s"$name pinned nothing")
      run()
      assert(pinned(s) === afterFirst,
        s"$name must release its previous invocation's caches")
    }
  }

  // A training action that fails must not orphan what the call pinned
  // before it: the next call releases it like a completed call's.
  private val failing: Seq[(String, DataFrame => () => Long)] = Seq(
    "kneserNeySurprisal" -> { docs => () =>
      LanguageModel.kneserNeySurprisal(docs, "doc_id", "text",
        minCount = 1L).count() },
    "contaminationPairsBloom" -> { docs => () =>
      Decontaminate.contaminationPairsBloom(docs, docs, "doc_id", "text",
        n = 5).count() }
  )

  failing.foreach { case (name, call) =>
    test(s"$name: a failed training action leaves no orphaned cache") {
      val s = initSpark().newSession()
      val boom = udf((t: String) =>
        if (t != null && t.contains("BOOM"))
          throw new IllegalStateException("marker text")
        else t)
      val clean = texts(s)
      // repartitioned so the marker throws inside the action, not
      // while the optimizer folds the UDF over a local relation
      val bad = clean.union(s.createDataFrame(Seq((99L, "BOOM BOOM")))
          .toDF("doc_id", "text")).repartition(3)
        .select(col("doc_id"), boom(col("text")).as("text"))
      call(clean)()
      val oneClean = pinned(s)
      intercept[Exception](call(bad)())
      call(clean)()
      assert(pinned(s) === oneClean,
        s"$name orphaned the failed invocation's caches")
    }
  }
}
