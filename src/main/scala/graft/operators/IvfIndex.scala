package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.Path

import graft.HadoopFs
import graft.sinks.TxnLog

/** PERSISTED IVF index — the Spark-native form of "build the ANN index
  * once, probe it many times". FAISS keeps an inverted-list file per
  * centroid; the lakehouse translation is a parquet table PARTITIONED BY
  * centroid_id, because then bucket pruning is not operator logic at
  * all — it is Spark's own dynamic partition pruning (DPP): the probe
  * join's (small, broadcast) query side feeds a runtime filter into the
  * vectors scan, and only the probed buckets' FILES are ever read. At
  * 100 TB that is the difference between scanning the corpus per query
  * batch and scanning nProbe/nCentroids of it — and it composes with
  * every other scan optimization (column pruning keeps only id+vector,
  * min/max stats, etc.) for free.
  *
  * Layout under `dir`:
  *   centroids/   — (centroid_id, centroid_vec) plain parquet (small)
  *   vectors/     — corpus + centroid_id, partitionBy(centroid_id)
  *
  * Determinism: centroids come from the fixed-point-deterministic
  * kMeansCentroids, so rebuilding the index from the same corpus gives
  * byte-identical routing (ApproxQualitySpec pins that property).
  */
object IvfIndex {

  /** Build (or overwrite) the index. One pass to refine centroids
    * (bounded driver state, see kMeansCentroids), one pass to assign +
    * write. Buckets are also range-clustered WITHIN each partition by
    * vec_id so the per-bucket files carry tight min/max id stats. */
  def build(corpus: DataFrame, dir: String, stride: Int,
      iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCentroids: Int = Similarity.MaxCentroids): Unit = {
    val cents = Similarity.kMeansCentroids(corpus, stride, iters,
      idCol, vecCol, maxCentroids)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.assignToCentroids(corpus, cents, idCol, vecCol)
      .where(col("centroid_id").isNotNull)
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col(idCol))
      .write.mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$dir/vectors")
  }

  /** Probe the persisted index: top-k by cosine among the `nProbe`
    * nearest buckets per query. The vectors scan is pruned by DPP from
    * the broadcast probe side — assert `isDppPruned` in tests/ops to
    * prove the plan, not just the result. Ranked by
    * [[Similarity.rankNeighbors]], the contract of Similarity.ivfTopK. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val vectors = spark.read.parquet(s"$dir/vectors")
    val probes = Similarity.probeCentroids(queries, cents, nProbe,
        idCol, vecCol)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        col("centroid_id"))
    Similarity.rankNeighbors(
      vectors
        .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
          col("centroid_id"))
        .join(broadcast(probes), "centroid_id"),
      graft.expr.VectorOps.cosineF32(col("q_vec"), col("c_vec")), k)
  }

  /** True when the executed plan pruned the vectors scan with a runtime
    * (dynamic) partition filter — the property that makes the persisted
    * index an index. Call AFTER an action has run the plan. */
  def isDppPruned(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("dynamicpruning")

  /** INCREMENTAL add — FAISS's `IndexIVF.add()` semantics, lakehouse
    * form: new vectors are assigned against the FROZEN centroid model
    * and appended as new bucket files; the routing model itself never
    * changes on add. Probe correctness is unaffected (a probe scans
    * whole buckets); routing QUALITY drifts as the data distribution
    * shifts away from the trained centroids — re-train on a cadence
    * with [[buildVersioned]], exactly as FAISS re-trains.
    *
    * Concurrency: a parquet append creates new files only — a probe
    * planned before the append keeps its file list (no invalidation,
    * the IvfIndex immutability argument), later probes see the new
    * vectors. Cost: one scan of the NEW vectors + one bucket-clustered
    * write; the existing index is never read or rewritten. */
  def append(newVectors: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    Similarity.assignToCentroids(newVectors, cents, idCol, vecCol)
      .where(col("centroid_id").isNotNull)
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col(idCol))
      .write.mode("append")
      .partitionBy("centroid_id")
      .parquet(s"$dir/vectors")
  }

  /** [[append]] into a committed version (the current one by default).
    * Returns the version appended to. */
  def appendVersioned(newVectors: DataFrame, dir: String,
      asOf: Option[Long] = None, idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val v = asOf.orElse(currentVersion(dir)).getOrElse(
      throw new IllegalStateException(
        s"no committed index version under $dir"))
    val (fs, _) = HadoopFs(SparkSession.active, dir)
    require(fs.exists(markerPath(dir, v)),
      s"index version $v under $dir is not committed")
    append(newVectors, s"$dir/v_$v", idCol, vecCol)
    v
  }

  // ---- versioned rebuilds (atomic publish; TxnLog-style claims).
  // All version bookkeeping goes through the Hadoop FileSystem API so
  // the index works wherever the parquet does (HDFS/S3A/local) —
  // java.io.File bookkeeping would silently track a bogus LOCAL path
  // while Spark wrote the data to the real store. ----

  private def markerPath(dir: String, v: Long) =
    new Path(s"$dir/v_$v/_COMMITTED")

  /** Committed index versions under `dir`, ascending. A version exists
    * only once its `_COMMITTED` marker does — a crashed or in-flight
    * build is invisible to readers. */
  def committedVersions(dir: String): Seq[Long] = {
    val (fs, p) = HadoopFs(SparkSession.active, dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .flatMap(s => s.getPath.getName.stripPrefix("v_").toLongOption)
      .filter(v => fs.exists(markerPath(dir, v)))
      .sorted
  }

  def currentVersion(dir: String): Option[Long] =
    committedVersions(dir).lastOption

  /** Rebuild the index WITHOUT disturbing concurrent probes: claim the
    * next version's `_CLAIM` file through `TxnLog.claim` (a hard link
    * on local paths, a fail-if-exists rename on the HDFS family, refused
    * elsewhere), so two racing builders get distinct versions —
    * `create(overwrite = false)` is not atomic on `file:` (an exists
    * check, then an open); write centroids+vectors fully, then publish
    * with the `_COMMITTED` marker. Readers resolve the highest committed
    * version at plan time; versions already being probed are
    * immutable, so a rebuild never invalidates a running query (the
    * same reasoning as TxnLog snapshots). Returns the published
    * version. */
  def buildVersioned(corpus: DataFrame, dir: String, stride: Int,
      iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCentroids: Int = Similarity.MaxCentroids): Long = {
    val (fs, root) = HadoopFs(SparkSession.active, dir)
    fs.mkdirs(root)
    // start above every claimed OR committed version
    var v = fs.listStatus(root).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v_"))
      .flatMap(_.stripPrefix("v_").toLongOption)
      .maxOption.getOrElse(-1L) + 1
    val tmp = new Path(root,
      s".claim-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
    fs.create(tmp, false).close()
    try {
      while ({
        fs.mkdirs(new Path(s"$dir/v_$v"))
        !TxnLog.claim(fs, tmp, new Path(s"$dir/v_$v/_CLAIM"))
      }) v += 1
    } finally fs.delete(tmp, false)
    build(corpus, s"$dir/v_$v", stride, iters, idCol, vecCol,
      maxCentroids)
    fs.create(markerPath(dir, v), false).close()
    v
  }

  /** Probe the current (or a pinned) committed version. */
  def topKVersioned(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int, asOf: Option[Long] = None,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val v = asOf.orElse(currentVersion(dir)).getOrElse(
      throw new IllegalStateException(
        s"no committed index version under $dir"))
    val (fs, _) = HadoopFs(SparkSession.active, dir)
    require(fs.exists(markerPath(dir, v)),
      s"index version $v under $dir is not committed")
    topK(spark, s"$dir/v_$v", queries, k, nProbe, idCol, vecCol)
  }
}
