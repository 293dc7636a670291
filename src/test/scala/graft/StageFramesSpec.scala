package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  RepartitionByExpression, Window}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.jobs.Pipeline
import graft.ledger.Ledger
import graft.ml.{ModelRegistry, SdgClassifier, StubEmbedder}
import graft.schema.Warehouse.Step
import graft.sinks.{CollectionRouter, Merge}

/** The workflow stages' shared frames: each stage's expensive column runs
  * once per row across its sink write and its ledger append, its
  * newStates equal Ledger.withNextOperationOrder, vectorize spreads
  * chunk+embed over every shuffle partition, and Merge.insertIfAbsent
  * evaluates its input once. */
class StageFramesSpec extends SparkSuite {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private val texts = Seq(
    "Climate action matters. Poverty reduction is key. ",
    "Energy systems and health outcomes. Education for all. ",
    "Clean water and sanitation for every town and village. ",
    "Unrouteable language document content here. ")

  /** Eight documents: two per text, routable and unroutable languages. */
  private def writeDocuments(dir: String): Unit = {
    val s = initSpark()
    import s.implicits._
    (1 to 8).map { i =>
      (s"d$i", s"https://x/$i", s"Doc $i", Seq("en", "fr", "de", "xx")(i % 4),
        texts(i % 4) * (3 + i))
    }.toDF("id", "url", "title", "lang", "full_content")
      .write.parquet(dir)
  }

  /** Several past states per document; d8 only reaches url_retrieved. */
  private def ledgerRows(s: org.apache.spark.sql.SparkSession): DataFrame = {
    import s.implicits._
    (1 to 8).flatMap { i =>
      val base = 10L * i
      Seq(
        (s"d$i@$base", s"d$i", Step.UrlRetrieved, base),
        (s"d$i@${base + 1}", s"d$i", Step.DocumentScraped, base + 1),
        (s"d$i@${base + 3}", s"d$i", Step.UrlRetrieved, base + 3)) ++
        (if (i == 8) Nil
         else Seq((s"d$i@${base + 5}", s"d$i", Step.DocumentScraped,
           base + 5)))
    }.toDF("id", "document_id", "title", "operation_order")
      .withColumn("created_at", lit(null).cast("timestamp"))
      .select("id", "document_id", "title", "created_at", "operation_order")
  }

  private def stateRows(states: DataFrame): DataFrame = states.select(
    concat(col("document_id"), lit("@"), col("operation_order")).as("id"),
    col("document_id"), col("title"),
    lit(null).cast("timestamp").as("created_at"), col("operation_order"))

  private def models(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    // threshold 0: every slice is SDG, so every document reaches keywords
    val bi = Seq(("bi-1", StubEmbedder.embed("climate action", 64), 0.0,
      0.0)).toDF("model_id", "weights", "bias", "threshold")
    (bi, SdgClassifier.stubModelTable(s, "n-1", 64, threshold = 0.4))
  }

  private val keywordSchema = StructType(Seq(
    StructField("keyword", StringType), StructField("id", StringType)))

  /** Nodes outside cached relations that compute a regexp_replace. */
  private def regexpOutsideCache(plan: LogicalPlan): Int = plan.collect {
    case p if !p.isInstanceOf[InMemoryRelation] &&
        p.expressions.exists(_.exists(_.isInstanceOf[RegExpReplace])) => p
  }.size

  test("each stage's expensive column runs once per row across its " +
      "sink write and its ledger append") {
    val s = initSpark()
    val base = tmp("stage_frames")
    val docsDir = s"$base/documents"
    val ledgerDir = s"$base/ledger"
    val slicesDir = s"$base/slices"
    writeDocuments(docsDir)
    ledgerRows(s).write.parquet(ledgerDir)
    def ledger = s.read.parquet(ledgerDir)
    def append(states: DataFrame): Long =
      Merge.insertIfAbsent(s, ledgerDir, stateRows(states), "id", "id")
    // pass-through counters, nondeterministic: evaluated eagerly, once
    // per input row per pass, never deferred past a join
    def counter(name: String) = s.sparkContext.longAccumulator(name)
    def counting(acc: org.apache.spark.util.LongAccumulator) =
      udf { (x: String) => acc.add(1); x }.asNondeterministic()
    val docs = s.read.parquet(docsDir)
    val nDocs = docs.count()

    // vectorize: one embedding per slice
    val embeds = new AtomicLong
    ModelRegistry.register("count-64",
      t => { embeds.incrementAndGet(); StubEmbedder.embed(t, 64) })
    val (slices, vStates) = Pipeline.vectorize(docs, ledger,
      maxWordsPerSlice = 12, modelName = "count-64")
    // written twice, as a retried write would: the second replace runs
    // two actions over the slices (touched buckets, then the rewrite)
    (1 to 2).foreach { _ =>
      Merge.replaceByKey(s, slicesDir,
        slices.select("id", "document_id", "order_sequence", "body",
          "embedding", "embedding_model_name"),
        "document_id", numBuckets = 4)
    }
    assert(append(vStates) === 7)
    val nSlices = s.read.parquet(slicesDir).count()
    assert(nSlices > 7)
    assert(embeds.get === nSlices)

    // classify: one binary score per slice
    val (biModel, nModel) = models(s)
    val cAcc = counter("classify")
    val countingBytes =
      udf { (x: Array[Byte]) => cAcc.add(1); x }.asNondeterministic()
    val (sliceSdgs, cStates) = Pipeline.classify(
      s.read.parquet(slicesDir).drop("__bucket")
        .withColumn("embedding", countingBytes(col("embedding"))),
      ledger, biModel, nModel)
    Merge.replaceByKey(s, s"$base/slice_sdgs", sliceSdgs, "document_id",
      numBuckets = 4)
    assert(append(cStates) === 7)
    assert(cAcc.value === nSlices)

    // keywords: one extraction per document
    val kAcc = counter("keywords")
    val (dim, _, kStates) = Pipeline.keywords(
      docs.withColumn("full_content", counting(kAcc)(col("full_content"))),
      ledger,
      s.createDataFrame(java.util.List.of[Row](), keywordSchema))
    assert(Merge.insertIfAbsent(s, s"$base/keywords", dim, "keyword",
      "keyword") > 0)
    assert(append(kStates) === 7)
    assert(kAcc.value === nDocs)

    // sync: routing once per slice, computed inside the shared frame
    val qAcc = counter("sync")
    val (routed, errors, qStates) = Pipeline.sync(
      s.read.parquet(slicesDir).drop("__bucket")
        .withColumn("embedding_model_name",
          counting(qAcc)(col("embedding_model_name"))),
      docs, ledger, s.read.parquet(s"$base/slice_sdgs").drop("__bucket"))
    Seq(routed, errors, qStates).foreach { df =>
      assert(regexpOutsideCache(df.queryExecution.optimizedPlan) === 0,
        df.queryExecution.optimizedPlan)
    }
    CollectionRouter.writeCollections(routed, s"$base/collections")
    errors.select("document_id", "id", "lang")
      .write.mode("append").parquet(s"$base/errors")
    assert(append(qStates) === 5) // d3 and d7 (lang xx) route nowhere
    assert(qAcc.value === nSlices)

    val latest = Ledger.latestState(ledger, Seq("document_id"),
        "operation_order", "operation_order")
      .select("document_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(latest === (1 to 8).map { i =>
      s"d$i" -> (if (i == 8) Step.UrlRetrieved
        else if (i % 4 == 3) Step.DocumentWithKeywords
        else Step.DocumentInQdrant)
    }.toMap)
  }

  test("each stage's newStates equals Ledger.withNextOperationOrder, " +
      "row for row, including a null order") {
    val s = initSpark()
    import s.implicits._
    val base = tmp("stage_states")
    writeDocuments(s"$base/documents")
    val docs = s.read.parquet(s"$base/documents")
    // d7's only scraped state has no order: prev = coalesce(null, 0)
    val ledger0 = ledgerRows(s).where(col("document_id") =!= "d7")
      .unionByName(Seq(("d7@x", "d7", Step.DocumentScraped))
        .toDF("id", "document_id", "title")
        .withColumn("created_at", lit(null).cast("timestamp"))
        .withColumn("operation_order", lit(null).cast("long")))
    def same(states: DataFrame, ledger: DataFrame): DataFrame = {
      val expected = Ledger.withNextOperationOrder(
        states.select("document_id", "title"), ledger)
      assert(states.schema === expected.schema)
      assert(states.collect().toSet === expected.collect().toSet)
      assert(states.count() > 0)
      Pipeline.appendStates(ledger, states)
    }
    val (slices, vStates) = Pipeline.vectorize(docs, ledger0,
      maxWordsPerSlice = 12)
    assert(vStates.where(col("document_id") === "d7")
      .select("operation_order").as[Long].collect().toSeq === Seq(1L))
    val ledger1 = same(vStates, ledger0)
    val (biModel, nModel) = models(s)
    val (sliceSdgs, cStates) = Pipeline.classify(slices, ledger1, biModel,
      nModel)
    val ledger2 = same(cStates, ledger1)
    val (_, _, kStates) = Pipeline.keywords(docs, ledger2,
      s.createDataFrame(java.util.List.of[Row](), keywordSchema))
    val ledger3 = same(kStates, ledger2)
    val (_, _, qStates) = Pipeline.sync(slices, docs, ledger3, sliceSdgs)
    same(qStates, ledger3)
  }

  test("vectorize repartitions the admitted batch with an explicit " +
      "count and runs chunk+embed on every shuffle partition") {
    val s = initSpark()
    val parts = s.sessionState.conf.numShufflePartitions
    val base = tmp("stage_parts")
    writeDocuments(s"$base/documents")
    val seen = ConcurrentHashMap.newKeySet[(Int, Int)]()
    ModelRegistry.register("parts-64", { t =>
      val tc = TaskContext.get()
      seen.add((tc.numPartitions(), tc.partitionId()))
      StubEmbedder.embed(t, 64)
    })
    val (slices, _) = Pipeline.vectorize(s.read.parquet(s"$base/documents"),
      ledgerRows(s), maxWordsPerSlice = 12, modelName = "parts-64")
    val reps = slices.queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r
    }
    assert(reps.size === 1)
    assert(reps.head.optNumPartitions === Some(parts))
    assert(reps.head.child.exists(_.isInstanceOf[Window]),
      "the repartition must sit above the admission window")
    slices.collect()
    val tasks = seen.toArray(Array.empty[(Int, Int)])
    assert(tasks.map(_._1).toSet === Set(parts))
    assert(tasks.map(_._2).toSet.size > 1)
  }

  test("insertIfAbsent evaluates its input once, returns the appended " +
      "count, sizes its files, and writes no file when nothing is new") {
    val s = initSpark()
    val dir = s"${tmp("insert_once")}/t"
    val acc = s.sparkContext.longAccumulator("incoming")
    val counted = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    def incoming(from: Long, to: Long) = s.range(from, to)
      .select(concat(lit("k"), col("id")).as("id"),
        counted(col("id")).as("v"))
    def files = Files.walk(java.nio.file.Paths.get(dir)).toArray
      .count(_.toString.endsWith(".parquet"))

    assert(Merge.insertIfAbsent(s, dir, incoming(0, 3), "id", "id") === 3)
    assert(acc.value === 3) // new table
    // rows cached over several partitions still make one small file
    assert(incoming(0, 3).rdd.getNumPartitions > 1)
    assert(files === 1)
    acc.reset()
    assert(Merge.insertIfAbsent(s, dir, incoming(1, 6), "id", "id") === 3)
    assert(acc.value === 5) // anti-join against the table
    val before = files
    acc.reset()
    assert(Merge.insertIfAbsent(s, dir, incoming(0, 6), "id", "id") === 0)
    assert(acc.value === 6)
    assert(files === before)
    assert(s.read.parquet(dir).count() === 6)

    // a frame the caller cached stays cached
    val mine = incoming(10, 12).persist()
    assert(Merge.insertIfAbsent(s, s"$dir-2", mine, "id", "id") === 2)
    assert(mine.storageLevel.useMemory)
    mine.unpersist()
  }
}
