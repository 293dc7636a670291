package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.VectorCodec
import graft.ledger.Ledger
import graft.ml.{Chunker, Keywords, ModelRegistry, SdgClassifier}
import graft.operators.ReleaseSlot
import graft.schema.Warehouse.Step
import graft.sinks.{CollectionRouter, Merge}

/** Composed pipeline stages as pure DataFrame transforms — the Spark
  * re-expression of the reference's Argo-fanned node workflow (SURVEY
  * §3.1-§3.3): every process boundary (batch CSV artifacts, pod fan-out,
  * per-row DB round trips) collapses into one declarative plan per stage;
  * the ledger append is the only stateful output.
  *
  * Each stage takes and returns DataFrames so the whole flow is testable
  * in-memory; Verify/production wire the same functions to parquet
  * tables.
  *
  * Shared stage frames: `vectorize`, `classify`, `keywords` and `sync`
  * each persist the one frame their outputs share (the embedded slices,
  * the binary-scored slices, the extracted keywords, the routed slices),
  * so a stage's sink write, its ledger append and any count over them
  * run the stage's lineage once. The frame stays cached until the next
  * call of the same stage, which releases it through a [[ReleaseSlot]]
  * (persist only, never a checkpoint: an output evaluated after the
  * release recomputes from its lineage). The frame carries each
  * selected document's latest `operation_order`, so the stage's
  * `newStates` is a projection of it — one state per document at
  * `prev + 1`, what [[Ledger.withNextOperationOrder]] gives for one new
  * state per document — instead of the stage lineage again plus two
  * shuffles over the whole ledger.
  */
object Pipeline {

  /** The selected document's latest ledger order, carried on a shared
    * stage frame. */
  private val PrevOrder = "__prev_order"

  private val vectorizeSlot = ReleaseSlot()
  private val classifySlot = ReleaseSlot()
  private val keywordsSlot = ReleaseSlot()
  private val syncSlot = ReleaseSlot()

  /** Pin `frame` for this call of a stage, releasing the frame the
    * stage's previous call pinned. */
  private def shared(slot: ReleaseSlot, frame: DataFrame): DataFrame =
    slot.pins(frame.sparkSession).pin(frame)

  /** Latest state per document among `steps`, with its order as
    * [[PrevOrder]]. */
  private def selectWithOrder(ledger: DataFrame,
      steps: Seq[String]): DataFrame =
    Ledger.selectByLastStep(ledger, steps)
      .select(col("document_id"), col("operation_order").as(PrevOrder))

  /** One new state per row of `perDocument` (one row per document), at
    * the document's latest order + 1 (`coalesce(prev, 0) + 1`, as
    * withNextOperationOrder). Columns: (document_id, title,
    * operation_order). */
  private def nextStates(perDocument: DataFrame, title: Column): DataFrame =
    perDocument.select(col("document_id"), title.as("title"),
      (coalesce(col(PrevOrder), lit(0L)) + 1L).as("operation_order"))

  /** Stage "generate_to_vectorize + document_vectorizer" (SURVEY §3.1,
    * reference DocumentVectorizer): select scraped docs (latest state ==
    * document_scraped), admit up to pickQtyMax docs / byteCap bytes of
    * content, chunk + embed each document, emit (slices, newStates).
    *
    * Scale: selection is one window over the ledger; admission bounds the
    * working set BEFORE the expensive chunk+embed; the admitted batch is
    * then spread over `spark.sql.shuffle.partitions` tasks (an explicit
    * count, so AQE cannot coalesce the small batch back to the one
    * partition the admission window leaves it in) and chunk+embed is
    * row-local (UDF + posexplode) — executors stream documents through
    * with no shuffle after that repartition. The embedded slices are the
    * stage's shared frame; newStates is one distinct over it.
    */
  def vectorize(documents: DataFrame, ledger: DataFrame,
      pickQtyMax: Int = 1000, byteCap: Long = 10000000000L,
      maxWordsPerSlice: Int = 128, embedDim: Int = 64,
      modelName: String = null): (DataFrame, DataFrame) = {
    // modelName keys the executor-side ModelRegistry (stub-<dim>,
    // safetensors:<path>, ...); null falls back to the stub at embedDim.
    val model = Option(modelName).getOrElse(s"stub-$embedDim")
    val selected = selectWithOrder(ledger, Seq(Step.DocumentScraped))
    val candidates = documents.join(selected,
        documents("id") === selected("document_id"))
      .withColumn("content_bytes", octet_length(col("full_content")))
    val admitted = Ledger.byteCapAdmit(
      candidates,
      Seq(col(PrevOrder).desc, col("document_id")),
      "content_bytes", byteCap, limitRows = pickQtyMax)
    val parts = documents.sparkSession.sessionState.conf.numShufflePartitions
    val frame = shared(vectorizeSlot, admitted
      .repartition(parts, col("id"))
      .select(col("id").as("document_id"), col(PrevOrder),
        posexplode(Chunker.slices(col("full_content"), maxWordsPerSlice))
          .as(Seq("order_sequence", "body")))
      .withColumn("embedding_vec",
        ModelRegistry.embedding(col("body"), model))
      .withColumn("embedding",
        VectorCodec.floatVectorToBytes(col("embedding_vec")))
      .withColumn("id",
        concat(col("document_id"), lit("#"), col("order_sequence")))
      .withColumn("embedding_model_name", lit(model)))
    val newStates = nextStates(frame.select("document_id", PrevOrder)
      .distinct(), lit(Step.DocumentVectorized))
    (frame.drop(PrevOrder), newStates)
  }

  /** Stage "document_classifier" (SURVEY §3, reference
    * DocumentClassifier): classify each vectorized document's slices,
    * split into sdg / non-sdg doc states (J6 anti-join semantics for the
    * non-sdg side). The binary-scored slices are the stage's shared
    * frame; the n-way scores and newStates both read it. */
  def classify(slices: DataFrame, ledger: DataFrame, biModel: DataFrame,
      nModel: DataFrame, forcedCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val vectorized = selectWithOrder(ledger, Seq(Step.DocumentVectorized))
    // an inner join keeps the semi-join's rows: one ledger row per doc
    val inScope = slices.join(vectorized, Seq("document_id"))
      .withColumn("embedding_vec",
        VectorCodec.bytesToFloatVector(col("embedding")))
    val bi = shared(classifySlot,
      SdgClassifier.classifyBinary(inScope, biModel, "embedding_vec"))
    // forced docs (M5) bypass the binary gate like the reference's
    // forced-corpus/external-sdg branch
    val nInput = forcedCol match {
      case Some(f) => bi.where(col("is_sdg") ||
        (col(f).isNotNull && size(col(f)) > 0))
      case None => bi.where(col("is_sdg"))
    }
    val n = SdgClassifier.classifyNWay(
      nInput, nModel, "embedding_vec", "id", forcedCol)
    val sliceSdgs = n.select(col("id").as("slice_id"), col("document_id"),
      col("sdg_number"), col("n_score"), col("n_model_id"))
    val docFlag = SdgClassifier.documentIsSdg(bi, carry = Seq(PrevOrder))
    val newStates = nextStates(docFlag,
      when(col("document_is_sdg"), lit(Step.DocumentClassifiedSdg))
        .otherwise(lit(Step.DocumentClassifiedNonSdg)))
    (sliceSdgs, newStates)
  }

  /** Stage "keywords_extractor" (reference
    * nodes_workflow/KeywordsExtractor/keywords_extractor.py): extract
    * MMR-diverse keywords for classified-sdg documents, upsert the
    * keyword dimension insert-if-absent (J9 semantics —
    * Merge.insertIfAbsentDf), link doc->keyword, advance to
    * document_with_keywords. The extracted keywords are the stage's
    * shared frame. Returns (keywordDim, docKeywordLinks, newStates). */
  def keywords(documents: DataFrame, ledger: DataFrame,
      existingKeywords: DataFrame, embedDim: Int = 64)
      : (DataFrame, DataFrame, DataFrame) = {
    val eligible = selectWithOrder(ledger, Seq(Step.DocumentClassifiedSdg))
    val extracted = shared(keywordsSlot, documents
      .join(eligible, documents("id") === eligible("document_id"))
      .select(col("id").as("document_id"), col(PrevOrder),
        explode(Keywords.extract(col("full_content"), embedDim, topN = 5))
          .as("kw"))
      .select(col("document_id"), col(PrevOrder),
        col("kw.keyword").as("keyword")))
    // J9: insert-if-absent into the keyword dim, then surrogate join
    val newKeywords = Merge.insertIfAbsentDf(existingKeywords,
      extracted.select("keyword").distinct()
        .withColumn("id", concat(lit("kw-"), col("keyword"))),
      "keyword", "keyword")
    val dim = existingKeywords.unionByName(newKeywords)
    val links = extracted.join(dim, "keyword")
      .select(col("document_id"), col("id").as("keyword_id"))
      .distinct()
    // every non-null extracted keyword is in `dim`, so these are the
    // documents with at least one link
    val newStates = nextStates(extracted.where(col("keyword").isNotNull)
      .select("document_id", PrevOrder).distinct(),
      lit(Step.DocumentWithKeywords))
    (dim, links, newStates)
  }

  /** Stage "qdrant_syncronizer" (SURVEY §3.3): route slices of synced-
    * eligible documents to per-(lang, model) collections with doc-level
    * top-2 SDG payload; rows that route nowhere go to the error channel
    * (reference None-collection bucket). Eligibility matches
    * generate_to_syncronize_batch.py:66-75: sdg docs arrive only AFTER
    * the keywords stage. The joined slices with their routed collection
    * are the stage's shared frame. */
  def sync(slices: DataFrame, documents: DataFrame, ledger: DataFrame,
      sliceSdgs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val eligible = selectWithOrder(ledger,
      Seq(Step.DocumentWithKeywords, Step.DocumentClassifiedNonSdg,
        Step.DocumentIsInvalid))
    val top2 = SdgClassifier.topKSdgsPerDocument(sliceSdgs, 2)
    val enriched = slices
      .join(eligible, Seq("document_id"))
      .join(broadcast(documents.select(col("id").as("document_id"),
        col("url"), col("title"), col("lang"))), Seq("document_id"))
      .join(top2, Seq("document_id"), "left")
    val routed = shared(syncSlot, enriched.withColumn("collection",
      CollectionRouter.collectionFor(col("lang"),
        col("embedding_model_name"))))
    val (routable, errors) = CollectionRouter.split(routed)
    val newStates = nextStates(routable.select("document_id", PrevOrder)
      .distinct(), lit(Step.DocumentInQdrant))
    (routable.drop(PrevOrder), errors.drop(PrevOrder), newStates)
  }

  /** Model-selection-as-data (reference J4/J5/M7:
    * retrieve_data_from_database.py:299-370): documents ⋈ corpus-model
    * association ⋈ model dim, language-consistent (P6: model lang equals
    * doc lang, or multilingual), latest association by used_since at or
    * before `asOf` (J5 as-of, partitioned per document). Output:
    * (document_id, model_name) — the column that keys the executor-side
    * ModelRegistry (R7). */
  def resolveEmbeddingModel(documents: DataFrame, corpusModels: DataFrame,
      models: DataFrame, asOf: org.apache.spark.sql.Column): DataFrame = {
    val joined = documents
      .select(col("id").as("document_id"), col("corpus_id"), col("lang"))
      .join(broadcast(corpusModels), "corpus_id")
      .join(broadcast(models.select(col("id").as("model_id"),
        col("title").as("model_name"), col("lang").as("model_lang"))),
        "model_id")
      .where(col("model_lang") === col("lang") ||
        col("model_lang") === "mul")
    Ledger.asOfLatest(joined, Seq("document_id"), "used_since", asOf,
        "model_id")
      .select("document_id", "model_id", "model_name")
  }

  /** Stage "URLCollectors" (reference S16 +
    * nodes_helpers/collect.py:11-34): union the per-source url feeds,
    * keep https, dedup within the batch, insert-if-absent against the
    * existing document table, and append `url_retrieved` states for the
    * genuinely-new urls. The reference's per-row IntegrityError rollback
    * becomes one left-anti join. Returns (newDocuments, newStates). */
  def urlCollect(sourceUrls: Seq[DataFrame], existingDocs: DataFrame,
      ledger: DataFrame): (DataFrame, DataFrame) = {
    val unioned = sourceUrls.map(_.select(col("url")))
      .reduce(_.unionByName(_))
      .where(col("url").startsWith("https://"))
    val incoming = unioned
      .withColumn("id", concat(lit("doc-"), md5(col("url"))))
    val fresh = Merge.insertIfAbsentDf(
      existingDocs.select("id", "url"), incoming, "url", "url")
    val newStates = Ledger.withNextOperationOrder(
      fresh.select(col("id").as("document_id"))
        .withColumn("title", lit(Step.UrlRetrieved)),
      ledger)
    (fresh, newStates)
  }

  /** Stage "url_sanitary_crawler" (reference
    * nodes_workflow/URLSanitaryCrawler/url_sanitary_crawler.py:61-103 +
    * retrieve_random_documents_ids... :264-296): deterministically
    * sample synced documents, probe their urls (pluggable `statusOf`
    * column — production wires an HTTP HEAD in mapPartitions, tests a
    * stub), map status to action class (P12), and — reference-exact —
    * append `url_retrieved` for TO_UPDATE (3xx: re-queue the document)
    * and `document_is_irretrievable` for TO_DELETE (4xx), each with an
    * error-retrieval row carrying the status code; VALID/UNKNOWN write
    * nothing. Returns (probeReport, newStates, errorRetrievals). */
  def sanitaryCrawl(documents: DataFrame, ledger: DataFrame,
      statusOf: org.apache.spark.sql.Column, sampleModulus: Int = 97,
      sampleCol: String = "trace")
      : (DataFrame, DataFrame, DataFrame) = {
    val synced = Ledger
      .selectByLastStep(ledger, Seq(Step.DocumentInQdrant))
      .select(col("document_id"))
    val sampled = Ledger.deterministicSample(
      documents.join(synced, documents("id") === synced("document_id")),
      sampleCol, sampleModulus)
    val probed = sampled
      .withColumn("status", statusOf)
      .withColumn("status_class",
        graft.operators.UrlChecker.statusClass(col("status")))
    val report = probed.select(col("document_id"), col("url"),
      col("status"), col("status_class"))
    val flagged = probed
      .where(col("status_class").isin("TO_UPDATE", "TO_DELETE"))
    val newStates = Ledger.withNextOperationOrder(
      flagged.select(col("document_id"),
        when(col("status_class") === "TO_UPDATE", lit(Step.UrlRetrieved))
          .otherwise(lit(Step.DocumentIsIrretrievable)).as("title")),
      ledger)
    val errors = flagged.select(col("document_id"),
      col("status").as("http_error_code"),
      when(col("status_class") === "TO_UPDATE",
        concat(col("url"), lit(" gonna be updated soon")))
        .otherwise(concat(col("url"), lit(" gonna be deleted soon")))
        .as("error_info"))
    (report, newStates, errors)
  }

  /** Stage "wikipedia_updater" (reference
    * nodes_workflow/WikipediaUpdater/wikipedia_updater.py:57-109):
    * compare stored wiki documents with their online version. `probe`
    * carries the comparison inputs per document_id (production fills it
    * from the wiki API in mapPartitions; tests stub it):
    * is_redirection, online_size (nullable), http_error_code (nullable).
    * Rules, matching the reference loop exactly:
    *  - http error        -> error-retrieval row only, no state change
    *  - redirection       -> document_is_invalid state + error row (307)
    *  - size drift > 5%   -> url_retrieved state (re-queue for scrape)
    * Returns (newStates, errorRetrievals). */
  def wikipediaUpdate(documents: DataFrame, ledger: DataFrame,
      probe: DataFrame): (DataFrame, DataFrame) = {
    val joined = documents
      .select(col("id").as("document_id"),
        octet_length(col("full_content")).as("stored_size"))
      .join(probe, Seq("document_id"))
    val httpErrors = joined.where(col("http_error_code").isNotNull)
      .select(col("document_id"), col("http_error_code"),
        lit("HTTPError in wikipedia_updater").as("error_info"))
    val ok = joined.where(col("http_error_code").isNull)
    val redirects = ok.where(col("is_redirection"))
    val redirectErrors = redirects.select(col("document_id"),
      lit(307).as("http_error_code"),
      lit("Wikipedia updater determine this document is a redirection, " +
        "not a content page").as("error_info"))
    // signed growth, not abs: the reference's `diffsize > 0.05*fromsize`
    // (wikipedia_updater.py:122) never re-queues a SHRUNK page
    val drifted = ok.where(!col("is_redirection") &&
      col("online_size").isNotNull &&
      (col("online_size") - col("stored_size")).cast("double") >
        lit(0.05) * col("stored_size"))
    val newStates = Ledger.withNextOperationOrder(
      redirects.select(col("document_id"),
          lit(Step.DocumentIsInvalid).as("title"))
        .unionByName(drifted.select(col("document_id"),
          lit(Step.UrlRetrieved).as("title"))),
      ledger)
    (newStates, httpErrors.unionByName(redirectErrors))
  }

  /** Append states and return the updated ledger (pure; disk persistence
    * is Merge.insertIfAbsent on the ledger table). */
  def appendStates(ledger: DataFrame, newStates: DataFrame): DataFrame =
    ledger.unionByName(
      newStates.select(
        concat(col("document_id"), lit("@"), col("operation_order"))
          .as("id"),
        col("document_id"), col("title"),
        lit(null).cast("timestamp").as("created_at"),
        col("operation_order")),
      allowMissingColumns = false)
}
