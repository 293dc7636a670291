package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.TopK

/** SDG classification re-expressed as coefficients-as-data (reference
  * M3/M4: modules/sdgs_classifiers.py — joblib sklearn linear models over
  * slice embeddings; here the model IS a DataFrame of weights, and
  * scoring is a broadcast join + matmul, which is how a linear model
  * should run at 100 TB: no Python workers, no model files on executors,
  * pure codegen'd arithmetic).
  *
  * Model table shape: (model_id, sdg_number, weights: array<float>,
  * bias: double, threshold: double). Binary classifier = single row with
  * sdg_number null; 17-way = 17 rows per model.
  */
object SdgClassifier {

  import graft.expr.VectorOps.dotF32

  private def sigmoid(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z))

  /** Binary SDG gate (reference M3: sdgs_classifiers.py:31-45): slice is
    * SDG-relevant iff sigmoid(w·x + b) >= threshold. `model` must be a
    * single-row frame (already as-of-resolved per corpus/lang, J5).
    * Output: slices + is_sdg + bi_score. */
  def classifyBinary(slices: DataFrame, model: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val m = model.select(col("model_id").as("bi_model_id"),
      col("weights").as("bi_w"), col("bias").as("bi_b"),
      col("threshold").as("bi_t"))
    slices.crossJoin(broadcast(m))
      .withColumn("bi_score",
        sigmoid(dotF32(col(vecCol), col("bi_w")) + col("bi_b")))
      .withColumn("is_sdg", col("bi_score") >= col("bi_t"))
      .drop("bi_w", "bi_b", "bi_t")
  }

  /** 17-way SDG scoring (reference M4: sdgs_classifiers.py:48-122):
    * per-slice probability for each sdg_number; keep the argmax if it
    * clears the threshold — unless `forcedSdgs` (from corpus allow-list
    * or details.external_sdg, reference M5 document_classifier.py:79-148)
    * restricts the candidate set, in which case argmax over the forced
    * set with no threshold. Output: one row per slice with sdg_number
    * (null = non-sdg), n_score, model provenance. */
  def classifyNWay(slices: DataFrame, model: DataFrame,
      vecCol: String = "embedding", sliceId: String = "id",
      forcedCol: Option[String] = None): DataFrame = {
    val m = model.select(col("model_id").as("n_model_id"),
      col("sdg_number"), col("weights").as("n_w"), col("bias").as("n_b"),
      col("threshold").as("n_t"))
    val scored = slices.crossJoin(broadcast(m))
      .withColumn("n_score",
        sigmoid(dotF32(col(vecCol), col("n_w")) + col("n_b")))
    val forced = forcedCol.map(c => col(c)).getOrElse(
      lit(null).cast("array<int>"))
    val candidate = scored.withColumn("__forced", forced)
      .where(col("__forced").isNull || size(col("__forced")) === 0 ||
        array_contains(col("__forced"), col("sdg_number")))
    // argmax per slice with threshold semantics: forced set -> no
    // threshold (reference sdgs_classifiers.py:74-82 forced shortcut)
    TopK.perKey(candidate, Seq(col(sliceId)),
        Seq(col("n_score").desc, col("sdg_number").asc), lit(1))
      .withColumn("sdg_number",
        when((col("__forced").isNotNull && size(col("__forced")) > 0) ||
          col("n_score") >= col("n_t"), col("sdg_number"))
          .otherwise(lit(null)))
      .drop("__forced", "n_w", "n_b", "n_t")
  }

  /** Reference M5 forced-classification set (document_classifier.py:
    * 79-148): `details.external_sdg` restricts candidates to the
    * externally-declared SDGs; membership in a forced corpus
    * (FORCED_CORPUS_CLASSIFIED, constants.py:359 — ["uved"]) forces
    * classification over ALL 17; otherwise null (normal thresholded
    * path). */
  def forcedSdgColumn(corpus: Column, details: Column,
      forcedCorpora: Seq[String] = Seq("uved")): Column = {
    val external = from_json(
      get_json_object(coalesce(details, lit("{}")), "$.external_sdg"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType))
    when(external.isNotNull && size(external) > 0, external)
      .when(corpus.isin(forcedCorpora.map(x => x: Any): _*),
        sequence(lit(1), lit(17)))
      .otherwise(lit(null).cast("array<int>"))
  }

  /** Doc-level SDG flag: a document is SDG iff ANY slice is (reference
    * A8: sdgs_classifiers.py:16-28, doc-level union
    * document_classifier.py:129-155). `carry` columns are kept
    * alongside the key; they must be constant per document. */
  def documentIsSdg(slicesClassified: DataFrame,
      docId: String = "document_id",
      carry: Seq[String] = Nil): DataFrame =
    slicesClassified.groupBy((docId +: carry).map(col): _*)
      .agg(max(when(col("is_sdg"), 1).otherwise(0)).cast("boolean")
        .as("document_is_sdg"))

  /** Per-document top-k SDGs by slice frequency (reference A4/O6:
    * qdrant_syncronizer.py:164-171 Counter.most_common(2)). */
  def topKSdgsPerDocument(sliceSdgs: DataFrame, k: Int,
      docId: String = "document_id"): DataFrame = {
    val counts = sliceSdgs.where(col("sdg_number").isNotNull)
      .groupBy(col(docId), col("sdg_number"))
      .agg(count(lit(1)).as("cnt"))
    TopK.perKey(counts, Seq(col(docId)),
        Seq(col("cnt").desc, col("sdg_number").asc), lit(k), Some("rnk"))
      .groupBy(docId)
      .agg(sort_array(collect_list(struct(col("rnk"), col("sdg_number"))))
        .as("ranked"))
      .select(col(docId),
        transform(col("ranked"), r => r.getField("sdg_number"))
          .as("document_sdgs"))
  }

  /** CROSS-ENGINE-portable SDG scoring — the oracle-able form of M3/M4
    * (q40's promotion out of the rows-only tier; the q44/q92 contract-
    * pinning move applied to the linear-classifier family). Every
    * decision is EXACT integer algebra:
    *
    *   embedding   xq[d] = floor(x[d] * 1e6) — float32 parquet values
    *               widen to double exactly, the multiply is one
    *               correctly-rounded IEEE op, and floor of identical
    *               doubles is engine-identical
    *   weights     w(sdg, d) = md5Top60("sdgw_" + sdg + "_" + d) mod 9
    *               - 4, integers in [-4, 4]; sdg 0 is the binary gate,
    *               1..17 the n-way heads — hash-derived, so the oracle
    *               rebuilds the exact matrix from the same strings
    *   logit       dot(xq, w) — exact BIGINT
    *   decisions   in LOGIT space: sigmoid is monotone, so
    *               score >= t  <=>  dot >= TQ with TQ a pinned integer
    *               literal; the n-way pick is integer argmax with the
    *               smallest-sdg tie-break. No float op anywhere near a
    *               decision boundary.
    *
    * Same scale shape as the float path: the 18-head model is a literal
    * (equivalently a broadcast 18-row dim) and scoring is codegen'd
    * row-local arithmetic — no shuffle. The float sigmoid operators
    * above remain the production sklearn-parity surface (spec-covered);
    * this is the verification tier. Output: (id, is_sdg, bi_logit_q,
    * sdg_number) with sdg_number = -1 when no head clears TQ. */
  def classifyPortableQ(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      biThresholdQ: Long = 2000000L, nThresholdQ: Long = 3000000L)
      : DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def weights(sdg: Int): Seq[Long] = (0 until dim).map(d =>
      graft.operators.Dedup.md5Top60(md, s"sdgw_${sdg}_$d") % 9 - 4)
    val xq = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    def dotW(sdg: Int): Column =
      aggregate(
        zip_with(col("__xq"), typedLit(weights(sdg)), (x, w) => x * w),
        lit(0L), (acc, p) => acc + p)
    val heads = (1 to 17).map(sdg =>
      struct(dotW(sdg).as("dot"), lit(-sdg).as("negsdg")))
    emb.select(col(idCol).cast("string").as("id"), xq.as("__xq"))
      .withColumn("__bi", dotW(0))
      .withColumn("__best", array_max(array(heads: _*)))
      .select(col("id"),
        (col("__bi") >= biThresholdQ).as("is_sdg"),
        col("__bi").as("bi_logit_q"),
        when(col("__best.dot") >= nThresholdQ, -col("__best.negsdg"))
          .otherwise(lit(-1)).cast("int").as("sdg_number"))
  }

  /** Deterministic stub model table for tests/pipelines without trained
    * weights: weight vectors derived from the stub embedder so scores are
    * reproducible. */
  def stubModelTable(spark: org.apache.spark.sql.SparkSession,
      modelId: String, dim: Int, nSdgs: Int = 17,
      threshold: Double = 0.6): DataFrame = {
    // threshold must exceed sigmoid(0)=0.5: a zero-bias linear model gives
    // exactly 0.5 on orthogonal embeddings, which must NOT classify
    import spark.implicits._
    (1 to nSdgs).map { sdg =>
      (modelId, sdg, StubEmbedder.embed(s"sdg topic $sdg", dim),
        0.0, threshold)
    }.toDF("model_id", "sdg_number", "weights", "bias", "threshold")
  }
}
