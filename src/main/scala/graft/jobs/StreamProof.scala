package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.{Dedup, EditDistanceJoin}
import graft.streaming.{EditDistanceStream, NearDupStream, SimHashStream}

/** Streaming-curation bounded-state proof, run as `Bench stream`:
  * drives `Curation.curateStream` over a replicated documents corpus
  * split into per-batch parquet files (`maxFilesPerTrigger=1` ⇒ one
  * micro-batch per replica, `Trigger.AvailableNow` ⇒ drain-and-stop),
  * and records the dedup state store's row count per micro-batch from
  * `StreamingQueryProgress`. The contract being proven: with a
  * watermark of W batch-intervals, `dropDuplicatesWithinWatermark`
  * state holds ~W batches' distinct fingerprints and then EXPIRES —
  * state stays flat across an arbitrarily long ingest instead of
  * growing with the corpus (the q107/q112 incremental tier's streaming
  * face). A cumulative-state regression shows up as a monotone
  * numRowsTotal ramp and fails the flatness check loudly.
  *
  * Batch layout: replica b of the base corpus gets event time
  * t0 + b·5min and shifted doc ids, so replicas are exact-dup
  * fingerprint collisions for as long as they sit inside the
  * watermark — the worst case for dedup state. Watermark 12 min ⇒
  * steady state ≈ 3 batches of fingerprints.
  *
  * The same run then proves the stateful pair matchers (near-dup LSH,
  * PassJoin edit distance, SimHash) on mutated and replica corpora:
  * pair parity with each one's batch operator, state within its bound,
  * and no truncation at the production entry's derived cap. Every
  * tier records its state store's bytes (`memoryUsedBytes`, the store's
  * own estimate; RocksDB accounts differently, so bytes compare within
  * a store, not across).
  */
object StreamProof {

  /** Left in a work dir by a run: only a dir that carries it is wiped. */
  private[graft] val Marker = ".graft_streamproof"

  /** Empties `workDir` for a fresh run and marks it. Memory-sink
    * streaming queries cannot recover from a previous run's checkpoints
    * (a reused workDir failed with "does not support recovering from
    * checkpoint location"), and nothing under workDir is an input. The
    * recursive delete refuses a workDir that contains or equals the
    * input baseDir, and wipes an EXISTING non-empty directory only if it
    * carries the marker: a mistyped path pointing at real data fails
    * loudly instead of being destroyed. The checks and the delete agree
    * on path semantics: all go through the Hadoop FileSystem on fully
    * qualified URIs (a java.nio comparison would mangle a
    * scheme-qualified baseDir like file:///… into a relative path and
    * wave the guard through). */
  private[graft] def prepareWorkDir(spark: SparkSession, baseDir: String,
      workDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val workP = new Path(workDir)
    val fs = workP.getFileSystem(conf)
    val root = fs.makeQualified(workP)
    val baseP = new Path(baseDir)
    val baseQ = baseP.getFileSystem(conf).makeQualified(baseP)
    def within(child: Path, parent: Path): Boolean = {
      val cu = child.toUri; val pu = parent.toUri
      java.util.Objects.equals(cu.getScheme, pu.getScheme) &&
        java.util.Objects.equals(cu.getAuthority, pu.getAuthority) &&
        (cu.getPath.stripSuffix("/") + "/")
          .startsWith(pu.getPath.stripSuffix("/") + "/")
    }
    require(!within(baseQ, root),
      s"refusing to wipe $root: it contains the input $baseQ")
    if (fs.exists(root) && fs.listStatus(root).nonEmpty) {
      require(fs.exists(new Path(root, Marker)),
        s"refusing to wipe $root: no $Marker from a previous stream " +
          "proof run — pass a dedicated (or empty) work dir")
      fs.delete(root, true)
    }
    fs.mkdirs(root)
    fs.create(new Path(root, Marker)).close()
  }

  /** Throws once, naming every violated contract: the artifact is
    * written first, and one failure must not hide the others. */
  private[graft] def enforce(contracts: Seq[(Boolean, String)]): Unit = {
    val violated = contracts.collect { case (false, msg) => msg }
    if (violated.nonEmpty) throw new IllegalStateException(
      s"${violated.size} stream contract(s) violated:\n  " +
        violated.mkString("\n  "))
  }

  /** A pair tier against its batch reference. */
  private final case class Parity(markers: Long, stream: Long, batch: Long,
      onlyStream: Long, onlyBatch: Long) {
    def ok: Boolean = stream == batch && onlyStream == 0L && onlyBatch == 0L
    def json: String = s""""stream_pairs":$stream,"batch_pairs":$batch""" +
      s""","only_stream":$onlyStream,"only_batch":$onlyBatch,"parity":$ok"""
  }

  /** The pairs in parquet sink directory `sink` against `batch`.
    * Overflow markers (`mark` < 0) are a disjoint channel: counted,
    * kept out of parity. The rest is canonicalized by `canon`,
    * deduplicated, and compared with `batch` by count and `exceptAll`
    * both ways; `measure` runs on the persisted stream pairs before
    * they are released. The sink is deleted at the end. A file sink,
    * not a memory sink: a memory sink holds every emitted pair in the
    * driver heap and ships them inside the comparison's tasks (100 MB
    * tasks at sf0.1 with 10 batches, then an OutOfMemoryError in a
    * 4 GB heap). */
  private def parity(spark: SparkSession, sink: String, mark: String,
      batch: DataFrame, canon: DataFrame => DataFrame,
      measure: DataFrame => String = _ => ""): (Parity, String) = {
    val raw = spark.read.parquet(sink)
    val markers = raw.where(col(mark) < 0).count()
    val s = canon(raw.where(col(mark) >= 0)).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
    val p = Parity(markers, s.count(), b.count(), s.exceptAll(b).count(),
      b.exceptAll(s).count())
    val measured = measure(s)
    s.unpersist(); b.unpersist()
    val path = new org.apache.hadoop.fs.Path(sink)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(path, true)
    (p, measured)
  }

  /** (id_new, id_old) as the canonical (id_a < id_b) pair, with `c`. */
  private def canonical(c: String)(df: DataFrame): DataFrame =
    df.select(least(col("id_new"), col("id_old")).as("id_a"),
      greatest(col("id_new"), col("id_old")).as("id_b"), col(c))

  /** Max state rows AND bytes across a query's progress reports:
    * `memoryUsedBytes` is the state store's own memory estimate, so
    * bytes per retained doc is a measured number per tier, and the
    * projection to a larger stream is division. */
  private def stateStats(q: StreamingQuery): (Long, Long) = {
    val sos = q.recentProgress.toSeq.flatMap(_.stateOperators.headOption)
    (sos.map(_.numRowsTotal).foldLeft(0L)(math.max),
      sos.map(_.memoryUsedBytes).foldLeft(0L)(math.max))
  }

  /** Per micro-batch with a state operator: (index, input rows, state
    * rows, state rows removed, output rows, state bytes). */
  private def stateRows(q: StreamingQuery) = q.recentProgress.toSeq
    .filter(p => p.numInputRows > 0 || p.stateOperators.nonEmpty)
    .zipWithIndex.flatMap { case (p, i) =>
      p.stateOperators.headOption.map(so => (i, p.numInputRows,
        so.numRowsTotal, so.numRowsRemoved, p.sink.numOutputRows,
        so.memoryUsedBytes))
    }

  /** Bytes per doc over the docs a tier ingested; -1.0 when the store
    * reports no estimate. */
  private def perDoc(bytes: Long, docs: Long): String =
    if (bytes <= 0L || docs <= 0L) "-1.0"
    else f"${bytes.toDouble / docs}%.1f"

  /** Per band bucket, member rows AND distinct signature classes (the
    * unit the contracted caps bound), from the same (bucket, signature)
    * pairs, the signature stringified injectively so one row shape
    * serves both signers: (buckets, max occupancy, max classes). */
  private def bucketOccupancy(spark: SparkSession, docs: DataFrame,
      keyed: String => Seq[(String, String)]): (Long, Long, Long) = {
    import spark.implicits._
    val r = docs.select(col("text")).as[String]
      .flatMap(keyed).toDF("bkey", "sig")
      .groupBy("bkey")
      .agg(count(lit(1)).as("c"), count_distinct(col("sig")).as("k"))
      .agg(count(lit(1)), coalesce(max(col("c")), lit(0L)),
        coalesce(max(col("k")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One scan of the PassJoin block entries of (id, s) rows: (entries
    * = distinct (block, role, id) summed, blocks, max members and max
    * distinct strings — the classes the derived cap bounds — per
    * (block, role)). */
  private def blockOccupancy(spark: SparkSession, strs: DataFrame,
      tau: Int): (Long, Long, Long, Long) = {
    import spark.implicits._
    val r = strs.as[EditDistanceStream.StreamStr]
      .flatMap(EditDistanceStream.entriesFor(_, tau))
      .groupBy("bkey", "isIndex")
      .agg(count_distinct(col("id")).as("m"),
        count_distinct(col("s")).as("k"))
      .agg(coalesce(sum(col("m")), lit(0L)), count_distinct(col("bkey")),
        coalesce(max(col("m")), lit(0L)), coalesce(max(col("k")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The generated test corpus fails Curation's Gopher gate by
    * construction (no English stopwords), which would starve the dedup
    * operator of state. Every curated text gets this fixed, varied,
    * stopword-bearing suffix — text-independent and identical across
    * replicas, so fingerprints still collide exactly as the dedup worst
    * case requires, while the FULL production gate stays in the
    * measured path instead of being bypassed. */
  private val pad = Seq(
    "the story of rivers and stones that have kept with be to cross",
    "of light and the shadow that morning have brought with be to see",
    "and the wind of autumn that have turned with leaves be to fall",
    "that the course of years have settled and with time be to pass",
    "have the makers of tools and that wisdom with care be to build",
    "with the of and that have voices be to carry over distant hills",
    "be the of and that have quiet with rooms to hold every echo",
    "to the of and that have roads with bridges be spanning the vale")
    .mkString(" ")

  /** Runs every tier over `batches` replicas of `baseDir`'s documents
    * under `workDir`; returns the artifact rows and every contract as
    * (held, message). `store` names the state store the session runs. */
  def run(spark: SparkSession, baseDir: String, workDir: String,
      batches: Int, store: String): (Seq[String], Seq[(Boolean, String)]) = {
    import spark.implicits._
    prepareWorkDir(spark, baseDir, workDir)
    val rawBase = SparkEntry.table(spark, baseDir, "documents")
    val off = ScaleProof.keyOffset(rawBase, "doc_id")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def shifted(df: DataFrame, b: Int) =
      df.withColumn("doc_id", col("doc_id") + lit(b.toLong * off))
    def padded(df: DataFrame) =
      df.withColumn("text", concat_ws(" ", col("text"), lit(pad)))
    def stamped(df: DataFrame, b: Int) = df.withColumn("ts",
      lit(t0).cast("timestamp") + expr(s"INTERVAL ${b * 5} MINUTES"))
    def edited(b: Int, edit: UserDefinedFunction) = shifted(rawBase
      .withColumn("text", edit(col("text"), col("doc_id"), lit(b))), b)
    def window24(df: DataFrame) = df.select(col("doc_id").as("id"),
      substring(col("text"), 1, 24).as("s"))
    def docs(df: DataFrame) = df.select(col("doc_id").as("id"), col("text"))
    // n one-file batches under workDir/name: coalesce(1), so
    // maxFilesPerTrigger=1 maps exactly one replica to one micro-batch
    def writeBatches(name: String, n: Int = batches)(
        batch: Int => DataFrame): String = {
      val dir = s"$workDir/$name"
      (0 until n).foreach(b => batch(b).coalesce(1).write
        .mode(if (b == 0) "overwrite" else "append").parquet(dir))
      dir
    }
    // the parquet sink directory of the pair stream named `name`
    def sinkDir(name: String) = s"$workDir/sink_$name"
    // streams dir one file per micro-batch through `query` into `sink`
    // ("noop", else the parquet directory sinkDir(sink)) and drains it
    def drain(dir: String, ckpt: String, sink: String)(
        query: DataFrame => Dataset[_]): StreamingQuery = {
      val src = spark.readStream.schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val w = query(src).writeStream
        .option("checkpointLocation", s"$workDir/$ckpt")
        .trigger(Trigger.AvailableNow())
      val q = (if (sink == "noop") w.format("noop")
        else w.format("parquet").option("path", sinkDir(sink))).start()
      q.awaitTermination()
      q
    }
    val curate: DataFrame => DataFrame = Curation.curateStream(_, "doc_id",
      "text", "ts", watermarkDelay = "12 minutes")

    // ---- v1: curateStream over exact replicas
    val base = padded(rawBase)
    val rows = stateRows(drain(writeBatches("in")(b =>
      stamped(shifted(base, b), b)), "ckpt", "noop")(curate))
    val lines = rows.map { case (i, in, state, removed, out, bytes) =>
      s"""{"batch":$i,"input_rows":$in,"state_rows":$state""" +
        s""","state_removed":$removed,"output_rows":$out""" +
        s""","state_bytes":$bytes}"""
    }
    val perBatchDistinct = base.select("text").distinct().count()
    // flatness: steady-state is bounded by watermark-window batches
    // (3) x per-batch distinct fingerprints, NOT cumulative
    val maxState = rows.map(_._3).foldLeft(0L)(math.max)
    val maxStateBytes = rows.map(_._6).foldLeft(0L)(math.max)
    val bound = 4L * perBatchDistinct
    // bytes-per-row from the SAME batch (max over per-batch ratios):
    // max-bytes / max-rows across DIFFERENT batches would be a mixed
    // quotient when the store's accounting ramps while rows stay flat
    // (RocksDB does exactly that)
    val bytesPerRow = rows.collect {
      case (_, _, r, _, _, b) if r > 0 && b > 0 => b.toDouble / r
    }
    val maxBytesPerRow = if (bytesPerRow.isEmpty) "-1.0"
      else f"${bytesPerRow.max}%.1f"
    val v1 =
      s"""{"metric":"stream_proof","batches":${rows.length}""" +
        s""","state_store":"$store"""" +
        s""","per_batch_distinct":$perBatchDistinct""" +
        s""","max_state_rows":$maxState""" +
        s""","max_state_bytes":$maxStateBytes""" +
        s""","state_bytes_per_row":$maxBytesPerRow""" +
        s""","flat_bound":$bound""" +
        s""","state_flat":${maxState <= bound && maxState > 0}}"""

    // ---- v2: the same contracts under MUTATION — replica b's text is
    // per-token edited at 2b% (ScaleProof.mutateUdf), so batches carry
    // NEAR-dup cliques instead of exact fingerprint collisions.
    //  (a) curateStream flatness: mutated docs have DISTINCT
    //      fingerprints, so dedup state is ~watermark-window batches of
    //      rows and must still expire (flat), not ramp;
    //  (b) NearDupStream: its distinct pair set must equal the batch
    //      portable-LSH pass over the same documents, its bucket state
    //      stays within bands x docs, and its candidate recall vs the
    //      EXACT pair graph is bucketed by true Jaccard — banding CAN
    //      miss on mutated cliques, so the S-curve is the honest number.
    val mutated = edited(_: Int, ScaleProof.mutateUdf)
    val mutCur = writeBatches("mut_cur")(b => stamped(padded(mutated(b)), b))
    val mutNd = writeBatches("mut_nd")(mutated)
    val mcRows = stateRows(drain(mutCur, "ckpt_mut", "noop")(curate))
    val mcPerBatch = rawBase.count()
    val mcMax = mcRows.map(_._3).foldLeft(0L)(math.max)
    val mcMaxBytes = mcRows.map(_._6).foldLeft(0L)(math.max)
    // mutated fingerprints are DISTINCT, so steady state is a full
    // retention window of rows: 12min/5min delay-to-interval (2.4
    // batches) + the one-batch watermark lag (watermark derives from
    // the PREVIOUS batch's max event time) + commit-timing slack —
    // measured plateau is ~6 batches (ramp to b5, then removals track
    // inputs: 4992/3073/4099/4475/4702/4802/4898). Bound 7x per-batch
    // rows separates that plateau from a cumulative ramp (12x), and
    // expiry must actually be OBSERVED (removed > 0), not inferred.
    val mcBound = 7L * mcPerBatch
    val mcRemoved = mcRows.map(_._4).sum
    val mcFlat = mcMax > 0 && mcMax <= mcBound && mcRemoved > 0
    // the LSH wiring's own signer + banding (NearDupStream defaults)
    val lshKeys: String => Seq[(String, String)] = { t =>
      val s = Dedup.portableSignature(t, 3).toSeq
      NearDupStream.bandKeysFor(s, 4).map(k => (k, s.mkString(",")))
    }
    // the production entry point at its own DERIVED cap: the caller
    // states the corpus scale, classes ≤ docs makes the derived cap
    // untruncatable within it, and the artifact records the measured
    // class skew a constant would have had to survive
    val ndDocs = mcPerBatch * batches
    val ndCap = NearDupStream.maxBucketFor(ndDocs)
    val (ndState, ndBytes) = stateStats(drain(mutNd, "ckpt_nd", "ndpairs")(
      s => NearDupStream.nearDupPairsFor(
        docs(s).as[NearDupStream.StreamDoc], ndDocs)(spark)))
    val ndBound = 4L * ndDocs // bands x docs admitted
    val mutAll = spark.read.parquet(mutNd)
    val (_, ndOccupancy, ndClasses) = bucketOccupancy(spark, mutAll, lshKeys)
    // recall vs the exact pair graph: the SAME accounting as the batch
    // and incremental tiers (ScaleProof.recallJson), so the S-curves
    // are comparable by construction
    val (nd, recallFields) = parity(spark, sinkDir("ndpairs"), "est_jaccard",
      Dedup.minhashLshPairsPortable(mutAll, "doc_id", "text", n = 3,
        bands = 4),
      _.select(col("id_old").as("id_a"), col("id_new").as("id_b"),
        col("est_jaccard")),
      pairs => {
        val exact = Dedup.jaccardPairs(mutAll, "doc_id", "text", n = 3,
          threshold = 0.2).persist(StorageLevel.MEMORY_AND_DISK)
        try ScaleProof.recallJson(exact,
          pairs.select(col("id_a"), col("id_b"), lit(1).as("hit")))
        finally exact.unpersist()
      })
    val v2 =
      s"""{"metric":"neardup_stream_proof","batches":$batches""" +
        s""","state_store":"$store"""" +
        s""","mutation":"2% per replica index"""" +
        s""","mutated_curate_max_state":$mcMax""" +
        s""","mutated_curate_max_state_bytes":$mcMaxBytes""" +
        s""","mutated_curate_bound":$mcBound""" +
        s""","mutated_curate_flat":$mcFlat,${nd.json}""" +
        s""","nd_state_rows_final":$ndState""" +
        s""","nd_state_bytes_final":$ndBytes""" +
        s""","nd_state_bytes_per_doc":${perDoc(ndBytes, ndDocs)}""" +
        s""","nd_state_bound":$ndBound""" +
        s""","nd_max_bucket_occupancy":$ndOccupancy""" +
        s""","nd_max_bucket_classes":$ndClasses""" +
        s""","nd_class_floor":${NearDupStream.MaxBucket}""" +
        s""","nd_docs":$ndDocs,"nd_derived_cap":$ndCap""" +
        s""","nd_derived_cap_would_truncate":${ndClasses > ndCap}""" +
        s""","nd_overflow_markers":${nd.markers},$recallFields}"""

    def tierRow(metric: String, tierBatches: Int, mutation: String,
        param: String, p: Parity, state: (Long, Long), docs: Long,
        occupancy: String, cap: Int, classes: Long): String =
      s"""{"metric":"$metric","state_store":"$store"""" +
        s""","batches":$tierBatches,"mutation":"$mutation"$param""" +
        s""",${p.json},"state_rows_final":${state._1}""" +
        s""","state_bytes_final":${state._2}""" +
        s""","state_bytes_per_doc":${perDoc(state._2, docs)}$occupancy""" +
        s""","docs":$docs,"derived_cap":$cap""" +
        s""","derived_cap_would_truncate":${classes > cap}""" +
        s""","overflow_markers":${p.markers}}"""

    // ---- v3: the streaming PassJoin fuzzy matcher over an
    // EDIT-mutated corpus — replica b's text gets ONE deterministic
    // character substitution inside q115's 24-char join window
    // (ScaleProof.editMutateUdf), so clique members are 1-2 edits apart
    // (inside tau=2) but never byte-identical: no census contraction
    // anywhere, the segment blocking itself carries both the batch
    // reference and the stream. Contracts: distinct (id_a, id_b, dist)
    // parity with EditDistanceJoin.selfJoin over the same strings, and
    // state bounded by the corpus's distinct (block, role, id) entries.
    val edTau = 2
    val edBatches = math.min(batches, 6)
    val edDocs = mcPerBatch * edBatches
    val edCap = EditDistanceStream.maxBlockFor(edDocs)
    val editPairs: DataFrame => Dataset[_] = s => EditDistanceStream
      .editPairsFor(s.as[EditDistanceStream.StreamStr], edTau, edDocs)(spark)
    val edDir = writeBatches("mut_ed", edBatches)(b =>
      window24(edited(b, ScaleProof.editMutateUdf)))
    val edState = stateStats(drain(edDir, "ckpt_ed", "edpairs")(editPairs))
    val edAll = spark.read.parquet(edDir)
    val (edEntries, _, _, edClasses) = blockOccupancy(spark, edAll, edTau)
    val (ed, _) = parity(spark, sinkDir("edpairs"), "dist",
      EditDistanceJoin.selfJoin(edAll, "id", "s", edTau), identity)
    val v3 = tierRow("editdist_stream_proof", edBatches,
      "1 char per replica inside the join window", s""","tau":$edTau""",
      ed, edState, edDocs, s""","state_entry_bound":$edEntries""" +
        s""","max_role_classes":$edClasses""" +
        s""","class_floor":${EditDistanceStream.MaxBlock}""", edCap, edClasses)

    // ---- v4: the streaming SimHash matcher over the SAME
    // token-substitution-mutated corpus as the LSH tier — replicas are
    // near-dups whose signatures differ in a few bits, the regime the
    // hamming radius exists for. It runs the production entry point at
    // its own DERIVED cap, and this corpus is the hard shape: ~28% of
    // all docs land in one band bucket whose signatures are genuinely
    // DISTINCT (12,618 distinct signatures among its ~14k members), a
    // shape no duplication contraction can absorb and that falsified
    // every occupancy MODEL tried. maxBucketFor derives the cap as the
    // stated corpus size, which distinct-signature classes cannot
    // exceed, so parity at the derived cap is the claim; the occupancy
    // fields record the measured skew. State is bounded by the corpus's
    // distinct (band, bucket) count, enumerated by the stream's OWN
    // banding (an inline re-derivation would desync when the radius
    // changes the band width).
    val shMaxHamming = 7
    val shKeys: String => Seq[(String, String)] = { t =>
      val s = Dedup.simhashSignature(t)
      SimHashStream.bandKeys(s, shMaxHamming).map(k => (k, s.toString))
    }
    def simhashTier(dir: String, all: DataFrame, tag: String)
        : (Parity, (Long, Long), Long, Int, (Long, Long, Long)) = {
      val docCount = all.count()
      val state = stateStats(drain(dir, s"ckpt_$tag", s"${tag}pairs")(s =>
        SimHashStream.hammingPairsFor(docs(s).as[SimHashStream.StreamDoc],
          docCount, shMaxHamming)(spark)))
      val occupancy = bucketOccupancy(spark, all, shKeys)
      val (p, _) = parity(spark, sinkDir(s"${tag}pairs"), "hamming",
        Dedup.simhashPairs(all, "doc_id", "text", shMaxHamming),
        canonical("hamming"))
      (p, state, docCount,
        SimHashStream.maxBucketFor(docCount, shMaxHamming), occupancy)
    }
    def bucketFields(o: (Long, Long, Long)) =
      s""","state_bucket_bound":${o._1},"max_bucket_occupancy":${o._2}""" +
        s""","max_bucket_classes":${o._3}"""
    val (sh, shState, shDocs, shCap, shOcc) = simhashTier(mutNd, mutAll, "sh")
    val v4 = tierRow("simhash_stream_proof", batches, "2% per replica index",
      s""","max_hamming":$shMaxHamming""", sh, shState, shDocs,
      bucketFields(shOcc) + s""","cap_floor":${SimHashStream.MaxBucket}""",
      shCap, shOcc._3)

    // ---- v5: the REPLICA corpus — byte-identical replicas of every
    // document, the mass-duplication shape all batch emitters contract
    // — through the production entry point at its own DERIVED cap. The
    // contracted bucket state is distinct-signature-bound, and a
    // replica corpus adds NO distinct signatures over its base: the hot
    // bucket of 15,980 members contracts to 1,586 classes. Contracts:
    // exact pair parity with batch simhashPairs (every clique member
    // re-expands, cross-batch), ZERO overflow markers at the derived
    // cap, and measured class occupancy under the cap, because
    // classes ≤ docs is the theorem the derivation rests on.
    val repDir = writeBatches("rep_nd")(shifted(rawBase, _))
    val repAll = spark.read.parquet(repDir)
    val (rep, repState, repDocs, repCap, repOcc) =
      simhashTier(repDir, repAll, "rep")
    val v5 = tierRow("simhash_replica_stream_proof", batches,
      "none (exact replicas)", s""","max_hamming":$shMaxHamming""", rep,
      repState, repDocs, bucketFields(repOcc), repCap, repOcc._3)

    // ---- v6: NearDupStream over the SAME replica corpus — the LSH
    // tier's contraction proof. Byte-identical texts produce
    // byte-identical minhash signatures, so every replica clique is ONE
    // class per shared bucket: measured class occupancy must sit at the
    // BASE corpus's diversity (under the 64 floor) regardless of
    // replication depth. Contracts: exact pair parity with the batch
    // portable-LSH pass, ZERO markers at the derived cap, class
    // occupancy under the floor, and state rows within the corpus's
    // distinct (band, bucket) count via the wiring's own bandKeysFor.
    val rnCap = NearDupStream.maxBucketFor(repDocs)
    val rnState = stateStats(drain(repDir, "ckpt_rn", "rnpairs")(s =>
      NearDupStream.nearDupPairsFor(docs(s).as[NearDupStream.StreamDoc],
        repDocs)(spark)))
    val rnOcc = bucketOccupancy(spark, repAll, lshKeys)
    val (rn, _) = parity(spark, sinkDir("rnpairs"), "est_jaccard",
      Dedup.minhashLshPairsPortable(repAll, "doc_id", "text", n = 3,
        bands = 4).select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("est_jaccard")),
      canonical("est_jaccard"))
    val v6 = tierRow("neardup_replica_stream_proof", batches,
      "none (exact replicas)", "", rn, rnState, repDocs,
      bucketFields(rnOcc) + s""","class_floor":${NearDupStream.MaxBucket}""",
      rnCap, rnOcc._3)

    // ---- v7: EditDistanceStream over a byte-identical replica corpus —
    // the PassJoin tier's contraction proof in its cleanest form: with
    // class-contracted state, replication adds NO distinct strings, so
    // replica class occupancy must stay within the BASE corpus's bound.
    // Contracts: exact pair parity with batch selfJoin (whose census
    // contraction handles the cliques on its side), ZERO markers at the
    // derived cap, and replica class occupancy within the base bound.
    val erDir = writeBatches("rep_ed", edBatches)(b =>
      window24(shifted(rawBase, b)))
    val erAll = spark.read.parquet(erDir)
    val (_, _, _, baseClasses) =
      blockOccupancy(spark, window24(rawBase), edTau)
    val erState = stateStats(drain(erDir, "ckpt_er", "erpairs")(editPairs))
    val (_, erBlocks, erMembers, erClasses) =
      blockOccupancy(spark, erAll, edTau)
    val (er, _) = parity(spark, sinkDir("erpairs"), "dist",
      EditDistanceJoin.selfJoin(erAll, "id", "s", edTau), identity)
    val v7 = tierRow("editdist_replica_stream_proof", edBatches,
      "none (exact replicas)", s""","tau":$edTau""", er, erState, edDocs,
      s""","state_block_bound":$erBlocks,"max_role_members":$erMembers""" +
        s""","max_role_classes":$erClasses""" +
        s""","base_class_bound":$baseClasses""", edCap, erClasses)

    // per pair tier: parity, no overflow marker at the derived cap (one
    // means the classes ≤ docs theorem or the contraction broke), class
    // occupancy within its bound, and state within its bound
    def tier(name: String, p: Parity, cap: Int, state: Long,
        stateBound: Long, classes: Long, classBound: Long,
        classWhat: String): Seq[(Boolean, String)] = Seq(
      p.ok -> (s"$name stream/batch parity broken: ${p.stream} vs " +
        s"${p.batch} (+${p.onlyStream}/-${p.onlyBatch})"),
      (p.markers == 0L) ->
        s"$name run truncated: ${p.markers} overflow markers at cap $cap",
      (classes <= classBound) ->
        s"$name class occupancy $classes exceeds $classWhat $classBound",
      (state > 0L && state <= stateBound) ->
        s"$name stream state out of bounds: $state vs $stateBound")
    val derived = "the derived cap (classes exceeded the stated corpus size)"
    val contracts = Seq(
      (maxState > 0 && maxState <= bound) ->
        s"state not flat: max $maxState vs bound $bound",
      mcFlat -> (s"mutated-curate state not flat: max $mcMax vs bound " +
        s"$mcBound, $mcRemoved rows expired")) ++
      tier("near-dup", nd, ndCap, ndState, ndBound, ndClasses, ndCap,
        derived) ++
      tier("edit-distance", ed, edCap, edState._1, edEntries, edClasses,
        edCap, derived) ++
      tier("simhash", sh, shCap, shState._1, shOcc._1, shOcc._3, shCap,
        derived) ++
      tier("replica simhash", rep, repCap, repState._1, repOcc._1,
        repOcc._3, repCap, derived) ++
      tier("replica near-dup", rn, rnCap, rnState._1, rnOcc._1, rnOcc._3,
        NearDupStream.MaxBucket, "the floor (byte-identical replicas " +
          "added distinct signatures)") ++
      tier("replica edit-distance", er, edCap, erState._1, erBlocks,
        erClasses, baseClasses, "the base bound (byte-identical " +
          "replicas added distinct strings)")
    (lines ++ Seq(v1, v2, v3, v4, v5, v6, v7), contracts)
  }
}
