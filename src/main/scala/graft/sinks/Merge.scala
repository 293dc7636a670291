package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

import graft.HadoopFs
import graft.expr.TopK

/** Warehouse writers with the reference's idempotency semantics
  * (SURVEY R9/S16-S18), re-expressed as set operations + partitioned
  * parquet instead of per-row IntegrityError handling:
  *
  *  - S16 insert-new-urls: the reference inserts row-by-row and rolls
  *    back on unique-violation (nodes_helpers/collect.py:11-34). Here:
  *    dropDuplicates on the key + left_anti against existing, then
  *    append — one shuffle, no per-row round trips, same end state.
  *  - S18 delete-then-insert: the reference deletes a document's slices/
  *    sdgs/keyword-links then bulk-inserts replacements
  *    (document_vectorizer.py:91-95 etc.). Here: overwrite-by-key =
  *    anti-join the old table against the incoming keys, union the new
  *    rows, rewrite — or with partitioned layout, dynamic partition
  *    overwrite so only touched partitions rewrite.
  *
  * All functions also come in a pure DataFrame form (suffix `Df`) so the
  * merge semantics are testable without filesystem I/O.
  *
  * Every filesystem operation (existence probe, staging swap, cleanup)
  * goes through `org.apache.hadoop.fs.FileSystem`, resolved from the
  * table path itself — NOT `java.io.File`. Spark writes the data through
  * the Hadoop FS layer, so an HDFS/S3A table dir with `java.io.File`
  * bookkeeping would probe a bogus LOCAL path: `exists()` would return
  * false for a real remote table and `insertIfAbsent` would append
  * duplicates without the anti-join — a silent correctness failure.
  */
object Merge {

  /** S16 semantics, pure form: rows from `incoming` whose `key` is not
    * already in `existing`, de-duplicated within the batch (first by
    * `orderCol` wins, deterministic). The existing side needs no
    * distinct: a left-anti join ignores duplicate keys. */
  def insertIfAbsentDf(existing: DataFrame, incoming: DataFrame,
      key: String, orderCol: String): DataFrame =
    TopK.perKey(incoming, Seq(col(key)), Seq(col(orderCol)), lit(1))
      .join(existing.select(key), Seq(key), "left_anti")

  /** S18 semantics, pure form: `table` with every row whose `key` appears
    * in `replacement` swapped out for the replacement rows. */
  def replaceByKeyDf(table: DataFrame, replacement: DataFrame,
      key: String): DataFrame = {
    val keys = replacement.select(key).distinct()
    table.join(keys, Seq(key), "left_anti")
      .unionByName(replacement)
  }

  /** Disk form of insert-if-absent against a parquet table dir. Creates
    * the table if missing. Returns the number of appended rows.
    *
    * One evaluation per append: the rows to write (the anti-join, or
    * `incoming` for a new table) are persisted, counted, written only
    * when there are any (so a no-new-rows append adds no file), and
    * released before returning. A frame the caller already cached is
    * used as is and left cached. The cached rows keep the partitioning
    * they were computed with, which AQE cannot coalesce, so the write
    * coalesces them to about one file per advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) of cached data,
    * as AQE would have. */
  def insertIfAbsent(spark: SparkSession, tableDir: String,
      incoming: DataFrame, key: String, orderCol: String): Long = {
    val (fs, tablePath) = HadoopFs(spark, tableDir)
    val toWrite = if (fs.exists(tablePath)) {
      insertIfAbsentDf(spark.read.parquet(tableDir), incoming, key, orderCol)
    } else incoming
    val owned = toWrite.storageLevel == StorageLevel.NONE
    if (owned) toWrite.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = toWrite.count()
      if (n > 0) {
        val qe = toWrite.queryExecution
        val bytes = spark.sharedState.cacheManager
          .lookupCachedData(qe.sparkSession, qe.analyzed)
          .map(_.cachedRepresentation.stats.sizeInBytes)
          .getOrElse(BigInt(Long.MaxValue))
        val advisory = spark.sessionState.conf
          .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val files = (bytes / advisory + 1).min(Int.MaxValue).toInt
        toWrite.coalesce(files).write.mode(SaveMode.Append).parquet(tableDir)
      }
      n
    } finally if (owned) toWrite.unpersist()
  }

  /** Disk form of delete-then-insert, keyed overwrite. The table is
    * partitioned by `pmod(xxhash64(key), numBuckets)` so only the
    * partitions containing replaced keys rewrite — at 100 TB a full-table
    * rewrite per micro-batch is not viable, partition-scoped rewrite is.
    *
    * Touched partitions are first written to a STAGING dir (so the job
    * never reads and overwrites the same path in one commit — a
    * mid-commit failure with in-place dynamic overwrite can lose the
    * retained rows of touched partitions), then swapped in
    * partition-directory-at-a-time. No session conf is mutated.
    *
    * The swap uses `FileSystem.rename`, atomic per directory on HDFS
    * and posix; on S3A rename is copy+delete (not atomic), so there a
    * reader can observe one bucket mid-swap — the versioned-publish
    * pattern (IvfIndex.buildVersioned / TxnLog) is the stronger
    * object-store answer when that window matters. */
  def replaceByKey(spark: SparkSession, tableDir: String,
      replacement: DataFrame, key: String, numBuckets: Int = 64): Unit = {
    val (fs, tablePath) = HadoopFs(spark, tableDir)
    val withBucket = replacement
      .withColumn("__bucket", pmod(xxhash64(col(key)), lit(numBuckets)))
    if (!fs.exists(tablePath)) {
      withBucket.write.partitionBy("__bucket").parquet(tableDir)
      return
    }
    val staging = tableDir + ".staging"
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    fs.delete(stagingPath, true)
    val old = spark.read.parquet(tableDir)
    val touched = withBucket.select("__bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    val keep = old
      .where(col("__bucket").isin(touched.toSeq.map(x => x: Any): _*))
      .join(replacement.select(key).distinct(), Seq(key), "left_anti")
    keep.unionByName(withBucket)
      .write.partitionBy("__bucket").parquet(staging)
    // swap staged partition dirs into place, one touched bucket at a time
    touched.foreach { b =>
      val src = new org.apache.hadoop.fs.Path(s"$staging/__bucket=$b")
      val dst = new org.apache.hadoop.fs.Path(s"$tableDir/__bucket=$b")
      if (fs.exists(src)) {
        fs.delete(dst, true)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"swap failed for bucket $b")
      }
    }
    fs.delete(stagingPath, true)
  }
}
