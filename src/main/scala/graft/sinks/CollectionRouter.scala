package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-collection routing (reference S19:
  * modules/qdrant_handler.py:16-65): each (lang, model) pair maps to a
  * named collection — `collection_welearn_mul_<model>` when the model is
  * multilingual, else `collection_welearn_<lang>_<model>`; rows whose
  * (lang, model) resolve to no collection land in an error bucket (the
  * reference's None-collection branch).
  *
  * The router is a pure column expression; the sink writes one parquet
  * dir per collection (the test stand-in for a vector-store upsert,
  * FIXTURES.md) partitioned so each collection's write is independent.
  */
object CollectionRouter {

  private val Upper = ('A' to 'Z').mkString
  private val LowerAscii = ('a' to 'z').mkString

  /** Routing expression. `multilingualModels` mirrors the reference's
    * model-name convention (models with "mul" in their lang tag).
    *
    * An all-ASCII name (as many UTF-8 bytes as characters) is lowercased
    * with `translate(A-Z -> a-z)`, which is what `lower` does to ASCII;
    * only other names go through `lower`, whose first call in a JVM
    * initialises the ICU case mapping (over a second). */
  def collectionFor(lang: Column, modelName: Column,
      knownLangs: Seq[String] = Seq("en", "fr", "es", "de", "it", "pt"),
      multilingualMarker: String = "mul"): Column = {
    val lowered = when(octet_length(modelName) === length(modelName),
        translate(modelName, Upper, LowerAscii))
      .otherwise(lower(modelName))
    val sanitizedModel = regexp_replace(lowered, "[^a-z0-9]+", "_")
    when(modelName.contains(multilingualMarker),
        concat(lit("collection_welearn_mul_"), sanitizedModel))
      .when(lang.isin(knownLangs.map(x => x: Any): _*),
        concat(lit("collection_welearn_"), lang, lit("_"), sanitizedModel))
      .otherwise(lit(null)) // error bucket, reference qdrant_handler None
  }

  /** Reference-exact routing against a known collection catalog
    * (qdrant_handler.py:44-59): the MULTILINGUAL collection wins if it
    * exists, else the mono-lingual one, else the error bucket — the
    * existence check against `existingCollections` is the reference's
    * get_collections() lookup, broadcast as a literal list here. */
  def collectionForCatalog(lang: Column, modelName: Column,
      existingCollections: Seq[String]): Column = {
    val mul = concat(lit("collection_welearn_mul_"), modelName)
    val mono = concat(lit("collection_welearn_"), lang, lit("_"),
      modelName)
    when(mul.isin(existingCollections.map(x => x: Any): _*), mul)
      .when(mono.isin(existingCollections.map(x => x: Any): _*), mono)
      .otherwise(lit(null))
  }

  /** Split a routed frame into (routable, errorBucket). */
  def route(df: DataFrame, langCol: String, modelCol: String)
      : (DataFrame, DataFrame) =
    split(df.withColumn("collection",
      collectionFor(col(langCol), col(modelCol))))

  /** Split a frame that already carries its `collection` column into
    * (routable, errorBucket). */
  def split(routed: DataFrame): (DataFrame, DataFrame) =
    (routed.where(col("collection").isNotNull),
      routed.where(col("collection").isNull).drop("collection"))

  /** Write one parquet dir per collection under `baseDir` (delete-then-
    * insert per document id happens upstream via Merge.replaceByKey; this
    * writer partitions by collection so each collection's upsert batch is
    * an independent file group — the reference's per-collection chunked
    * upsert, qdrant_syncronizer.py:79). */
  def writeCollections(routable: DataFrame, baseDir: String): Unit =
    routable.write.mode("append").partitionBy("collection").parquet(baseDir)
}
