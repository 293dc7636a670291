package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.HadoopFs

/** Deterministic sharded JSONL export — the tail of a curation
  * pipeline: training frameworks consume size-bounded JSONL shards
  * plus a manifest, and REPRODUCIBILITY of the export is part of the
  * dataset's identity (a re-run over the same curated frame must
  * produce byte-identical shards, or downstream training is not
  * reproducible either).
  *
  * Determinism by construction, not hope:
  *   - shard assignment = md5 hash bucket of the id (content-stable:
  *     the same row lands in the same shard on every engine/rerun —
  *     the [[graft.operators.Mixing]] discipline, never a partitioner
  *     accident);
  *   - rows sort by id within each shard, and each shard's rows are
  *     co-located in ONE task (`repartition(numShards, shard)` then
  *     `partitionBy(shard)` splits by value within the task), so each
  *     shard directory holds exactly one part file with a
  *     deterministic row order;
  *   - JSONL (not parquet) for the bytes: text serialization of
  *     sorted rows is byte-stable across reruns, which the manifest
  *     md5 certifies (parquet footers make byte-equality an
  *     implementation accident).
  *
  * The manifest (one row per shard: files, rows, bytes, md5) is both
  * the integrity record and the determinism proof — two exports of
  * the same frame produce identical manifests. Scale: the manifest
  * pass reads the written shards distributed (binaryFile, one task
  * per shard file); manifest size = numShards rows.
  */
object ShardedExport {

  /** Write `df` as `numShards` JSONL shard directories under `dir`
    * (`shard=K/part-*.json`), one file per shard, rows sorted by
    * `idCol`; returns the manifest frame (shard, files, rows, bytes,
    * md5) after writing it to `dir/_manifest` as a single JSON file. */
  def exportJsonl(df: DataFrame, idCol: String, dir: String,
      numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val spark = df.sparkSession
    df.withColumn("shard",
        graft.operators.Mixing.hashBucket(col(idCol), numShards))
      // range-partition on the shard value: ~one shard per task.
      // repartition(n, shard) hash-partitions the ALREADY-hashED shard
      // id — murmur3 over n distinct values leaves ~1/e of the tasks
      // empty and stacks 2-3 shards on the unlucky ones, gating the
      // export on the slowest stack. Shard FILE BYTES are independent
      // of the shard->task mapping (partitionBy splits by value, rows
      // sorted within each value), so range boundaries need not be
      // reproducible — only the parallelism changes.
      .repartitionByRange(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .json(s"$dir/data")
    // ONE manifest pass: the scan re-reads and re-hashes every shard
    // byte, so materialize it once (numShards rows — driver-bounded by
    // construction) and serve both the _manifest file and the returned
    // frame from that copy
    val rows = manifestOf(spark, s"$dir/data").collect().toIndexedSeq
    import spark.implicits._
    val manifest = rows.map(r => (r.getInt(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getString(4)))
      .toDF("shard", "files", "rows", "bytes", "md5")
    manifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .json(s"$dir/_manifest")
    manifest
  }

  /** (shard, files, rows, bytes, md5) per shard directory — md5 is
    * over the concatenated file bytes in filename order (one file per
    * shard in this sink's own layout; the filename sort makes the
    * definition total for externally-written multi-file shards). */
  def manifestOf(spark: SparkSession, dataDir: String): DataFrame = {
    // an EMPTY export writes no shard directories at all; binaryFile
    // on a glob matching nothing throws path-not-found instead of
    // returning an empty frame, so probe the glob first
    val (fs, glob) = HadoopFs(spark, s"$dataDir/shard=*/part-*")
    val matched = Option(fs.globStatus(glob)).exists(_.nonEmpty)
    if (!matched) {
      import spark.implicits._
      return Seq.empty[(Int, Long, Long, Long, String)]
        .toDF("shard", "files", "rows", "bytes", "md5")
    }
    val files = spark.read.format("binaryFile")
      .load(s"$dataDir/shard=*/part-*")
    files
      .withColumn("shard",
        regexp_extract(col("path"), "shard=(\\d+)", 1).cast("int"))
      .select(col("shard"), col("path"), col("length"), col("content"))
      .withColumn("lines", when(length(col("content")) === 0, 0L)
        .otherwise(size(split(col("content").cast("string"), "\n")) - 1))
      .groupBy("shard")
      .agg(count(lit(1)).as("files"),
        sum(col("lines")).as("rows"),
        sum(col("length")).as("bytes"),
        md5(concatBytesOrdered(col("path"), col("content")))
          .as("md5"))
      .orderBy("shard")
  }

  /** Aggregate the (path-ordered) concatenation of per-file bytes.
    * One file per shard in this sink's layout, so the sort_array is a
    * no-op there — it exists to keep the md5 well-defined on foreign
    * multi-file shard dirs. */
  private def concatBytesOrdered(path: org.apache.spark.sql.Column,
      content: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      transform(array_sort(collect_list(struct(path, content))),
        s => s.getField("content")),
      lit(Array.emptyByteArray),
      (acc, c) => concat(acc, c))
}
