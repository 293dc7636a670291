package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.jobs.{Curation, Pipeline}
import graft.ledger.Ledger
import graft.ml.TensorFileEmbedder
import graft.operators.LanguageModel
import graft.schema.Warehouse.Step
import graft.sinks.{CollectionRouter, Merge}

/** What one unit of work did: the documents it completed, the ids it
  * admitted, and counts the checks and metrics need. */
final case class UnitOutcome(idx: Int, docs: Long, admitted: Seq[String],
    counts: Map[String, Double] = Map.empty)

/** One benchmark workload. A unit runs only after the previous one has
  * finished (one closed-loop client). Inputs come from the generator's
  * tables under `input`; everything the program writes goes under
  * `work`. */
trait Workload {
  /** Program files derived from the inputs (not timed as set-up). */
  def prepare(): Unit = ()
  /** Per-session set-up beyond the session itself (timed). */
  def load(spark: SparkSession): Unit = ()
  def unit(spark: SparkSession, tr: Trace, idx: Int): UnitOutcome
  /** Checks that must run right after a unit. Returns failure reasons. */
  def checkNow(spark: SparkSession, out: UnitOutcome): Seq[String] = Nil
  /** Checks over the final tables, per unit index. */
  def checkAtEnd(spark: SparkSession,
      outs: Seq[UnitOutcome]): Map[Int, Seq[String]] = Map.empty
  /** Per-unit counts read from the final tables. */
  def unitCounts(spark: SparkSession,
      outs: Seq[UnitOutcome]): Map[Int, Map[String, Double]] = Map.empty
  /** Per-layer counts read from the final state. */
  def finalCounts(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, params: JsonNode, input: String,
      work: String): Workload = name match {
    case "workflow_batch" => new WorkflowBatch(params, input, work)
    case "corpus_curation" => new CorpusCuration(params, input, work)
  }

  /** Ledger rows for new states, keyed `<document>@<order>` as the
    * library's own appendStates does. */
  def stateRows(states: DataFrame): DataFrame =
    states.select(
      concat(col("document_id"), lit("@"), col("operation_order")).as("id"),
      col("document_id"), col("title"),
      lit(null).cast("timestamp").as("created_at"),
      col("operation_order"))

  /** Whether a table dir holds any data file (a write of no rows
    * leaves a dir without one, which cannot be read back). */
  def exists(dir: String): Boolean =
    new java.io.File(dir).isDirectory && parquetFiles(dir) > 0

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  def rowsPerDocument(spark: SparkSession, dir: String): Map[String, Long] =
    if (!exists(dir)) Map.empty
    else spark.read.parquet(dir).groupBy("document_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def parquetFiles(dir: String): Int =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".parquet"))
}

/** Span recording seen from a workload: `stage` wraps one call into
  * the library; it records only when tracing is on. */
final class Trace(tracer: Option[Tracer], spark: SparkSession, unit: Int,
    rootId: Int) {
  def stage[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name, unit, parent = rootId, Some(spark))(_ => body)
    case None => body
  }
}

/** One reference cron cycle over a parquet warehouse: vectorize,
  * classify, keywords and sync, each followed by its ledger append. */
final class WorkflowBatch(p: JsonNode, input: String, work: String)
    extends Workload {
  import Workload._

  private val prm = p.get("params")
  private val batch = prm.get("batch").asInt
  private val cap = p.get("truth").get("byte_cap").asLong
  private val wordsPerSlice = prm.get("max_words_per_slice").asInt
  private val dim = prm.get("embed_dim").asInt
  private val buckets = prm.get("slice_buckets").asInt
  private val routable = p.get("truth").get("routable_langs").elements()
    .asScala.map(_.asText).toSet
  private val wh = s"$work/warehouse"
  private val ledgerDir = s"$wh/ledger"
  private val slicesDir = s"$wh/slices"
  private val sdgsDir = s"$wh/slice_sdgs"
  private val keywordsDir = s"$wh/keywords"
  private val collectionsDir = s"$wh/collections"
  private val errorsDir = s"$wh/sync_errors"
  // a relative path: the router treats model names containing "mul" as
  // multilingual, so the name must not depend on where the run happens
  private val modelPath = s"$work/model/stack.safetensors"
  val modelName = s"safetensors:$modelPath"

  override def prepare(): Unit = {
    require(!modelName.contains("mul"), s"model name $modelName")
    copyDir(s"$input/ledger", ledgerDir)
    new java.io.File(modelPath).getParentFile.mkdirs()
    TensorFileEmbedder.writeTinyStackModel(modelPath,
      vocab = prm.get("stack_vocab").asInt, dModel = dim,
      layers = prm.get("stack_layers").asInt,
      heads = prm.get("stack_heads").asInt)
  }

  override def load(spark: SparkSession): Unit =
    TensorFileEmbedder.load(modelPath)

  private def keywordSchema = StructType(Seq(
    StructField("keyword", StringType), StructField("id", StringType)))

  def unit(spark: SparkSession, tr: Trace, idx: Int): UnitOutcome = {
    val read = spark.read
    val docs = read.parquet(s"$input/documents")
    def ledger = read.parquet(ledgerDir)
    def append(states: DataFrame): Long = tr.stage("ledger_append") {
      Merge.insertIfAbsent(spark, ledgerDir, stateRows(states), "id", "id")
    }

    val vStates = tr.stage("vectorize") {
      val (slices, states) = Pipeline.vectorize(docs, ledger,
        pickQtyMax = batch, byteCap = cap, maxWordsPerSlice = wordsPerSlice,
        modelName = modelName)
      Merge.replaceByKey(spark, slicesDir,
        slices.select("id", "document_id", "order_sequence", "body",
          "embedding", "embedding_model_name"),
        "document_id", numBuckets = buckets)
      states
    }
    append(vStates)

    // the reference's generate-batch step: this cycle's documents, by
    // their latest ledger state
    val batchIds = tr.stage("select_batch") {
      Ledger.selectByLastStep(ledger, Seq(Step.DocumentVectorized))
        .select("document_id").collect().map(_.getString(0)).toSeq
    }

    val (sliceSdgs, cStates) = tr.stage("classify") {
      val (sliceSdgs, states) = Pipeline.classify(
        read.parquet(slicesDir).drop("__bucket"), ledger,
        read.parquet(s"$input/bi_model"), read.parquet(s"$input/n_model"))
      Merge.replaceByKey(spark, sdgsDir, sliceSdgs, "document_id",
        numBuckets = buckets)
      (sliceSdgs, states)
    }
    append(cStates)

    val kStates = tr.stage("keywords") {
      val existing =
        if (exists(keywordsDir)) read.parquet(keywordsDir)
        else spark.createDataFrame(java.util.List.of[Row](), keywordSchema)
      val (dim_, _, states) = Pipeline.keywords(docs, ledger, existing, dim)
      Merge.insertIfAbsent(spark, keywordsDir, dim_, "keyword", "keyword")
      states
    }
    append(kStates)

    val qStates = tr.stage("sync") {
      import spark.implicits._
      val inBatch = batchIds.toDF("document_id")
      val slices = read.parquet(slicesDir).drop("__bucket")
        .join(inBatch, Seq("document_id"), "left_semi")
      // no slice has been classified SDG yet: nothing was written
      val sdgs = if (exists(sdgsDir))
        read.parquet(sdgsDir).drop("__bucket") else sliceSdgs.limit(0)
      val (routed, errors, states) = Pipeline.sync(slices, docs, ledger, sdgs)
      CollectionRouter.writeCollections(routed, collectionsDir)
      errors.select("document_id", "id", "lang")
        .write.mode("append").parquet(errorsDir)
      states
    }
    append(qStates)
    UnitOutcome(idx, batchIds.size.toLong, batchIds,
      Map("admitted" -> batchIds.size.toDouble))
  }

  override def checkAtEnd(spark: SparkSession,
      outs: Seq[UnitOutcome]): Map[Int, Seq[String]] = {
    val docs = spark.read.parquet(s"$input/documents")
      .select(col("id"), col("lang"),
        octet_length(col("full_content")).as("bytes"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    val routed = rowsPerDocument(spark, collectionsDir)
    val errored = rowsPerDocument(spark, errorsDir)
    val latest = Ledger.latestState(spark.read.parquet(ledgerDir),
        Seq("document_id"), "operation_order", "operation_order")
      .select("document_id", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dupDocs = spark.read.parquet(ledgerDir)
      .groupBy("document_id", "operation_order").count()
      .where(col("count") > 1).select("document_id").collect()
      .map(_.getString(0)).toSet
    val seen = scala.collection.mutable.HashSet[String]()
    outs.map { o =>
      val reasons = scala.collection.mutable.ArrayBuffer[String]()
      if (o.admitted.isEmpty) reasons += "no document admitted"
      val bytes = o.admitted.map(d => docs(d)._2.toLong).sum
      if (bytes > cap) reasons += s"admitted $bytes bytes > cap $cap"
      o.admitted.foreach { d =>
        if (!seen.add(d)) reasons += s"$d admitted twice"
        val shouldRoute = routable.contains(docs(d)._1)
        (routed.contains(d), errored.contains(d)) match {
          case (true, true) => reasons += s"$d both routed and in errors"
          case (false, false) => reasons += s"$d has no sync outcome"
          case (r, _) if r != shouldRoute =>
            reasons += s"$d routed=$r for lang ${docs(d)._1}"
          case _ =>
        }
        val inQdrant = latest.get(d).contains(Step.DocumentInQdrant)
        if (inQdrant != shouldRoute)
          reasons += s"$d latest state ${latest.get(d)}"
        if (dupDocs.contains(d)) reasons += s"$d duplicate ledger order"
      }
      o.idx -> reasons.toSeq
    }.toMap
  }

  /** Slices embedded, and slices routed to a collection, per unit. */
  override def unitCounts(spark: SparkSession, outs: Seq[UnitOutcome])
      : Map[Int, Map[String, Double]] = {
    val embedded = rowsPerDocument(spark, slicesDir)
    val routed = rowsPerDocument(spark, collectionsDir)
    outs.map(o => o.idx -> Map(
      "slices" -> o.admitted.map(embedded.getOrElse(_, 0L)).sum.toDouble,
      "routed_slices" -> o.admitted.map(routed.getOrElse(_, 0L)).sum.toDouble
    )).toMap
  }

  override def finalCounts(spark: SparkSession): Map[String, Double] = Map(
    "ledger.rows" -> spark.read.parquet(ledgerDir).count().toDouble,
    "ledger.files" -> parquetFiles(ledgerDir).toDouble)
}

/** One pass over a corpus with planted near-duplicate clusters:
  * quality gates, exact and near-dup dedup, mixing; then a Kneser-Ney
  * language model over the same input. */
final class CorpusCuration(p: JsonNode, input: String, work: String)
    extends Workload {
  private val truth = p.get("truth")
  private val expected = truth.get("survivors").elements().asScala
    .map(_.asText).toSet
  private val inputDocs = truth.get("input_docs").asLong
  private val threshold = p.get("params").get("near_dup_threshold").asDouble

  def unit(spark: SparkSession, tr: Trace, idx: Int): UnitOutcome = {
    val corpus = spark.read.parquet(s"$input/corpus")
    val survivors = tr.stage("curate") {
      Curation.curateWithNearDup(corpus, "id", "text", "stratum",
          Map("web" -> 1.0, "books" -> 1.0, "papers" -> 1.0),
          nearDupThreshold = threshold)
        .select("id", "split").collect().map(_.getString(0)).toSeq
    }
    val scored = tr.stage("lm") {
      LanguageModel.kneserNeySurprisal(corpus, "id", "text").collect()
    }
    val scoredIds = scored.map(_.getAs[String]("id"))
    UnitOutcome(idx, inputDocs, survivors, Map(
      "survivors" -> survivors.size.toDouble,
      "lm_rows" -> scored.length.toDouble,
      "lm_ids" -> scoredIds.distinct.size.toDouble))
  }

  override def checkNow(spark: SparkSession,
      out: UnitOutcome): Seq[String] = {
    val reasons = scala.collection.mutable.ArrayBuffer[String]()
    val got = out.admitted.toSet
    if (out.admitted.size != got.size) reasons += "duplicate survivors"
    if (got != expected)
      reasons += s"survivors: ${(got -- expected).size} unexpected, " +
        s"${(expected -- got).size} missing"
    if (out.counts("lm_rows") != inputDocs ||
        out.counts("lm_ids") != inputDocs)
      reasons += s"LM emitted ${out.counts("lm_rows")} rows " +
        s"(${out.counts("lm_ids")} ids) for $inputDocs documents"
    reasons.toSeq
  }
}
