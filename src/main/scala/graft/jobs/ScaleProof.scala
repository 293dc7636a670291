package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** Scale-up proof harness (round-9 brief item 9): no sf1 testdata
  * exists in this environment, so the scaled corpus is derived from
  * the largest driver-generated scale (sf0.1) by REFERENTIALLY
  * CONSISTENT replication — each fact/entity table is unioned
  * `factor` times with every key column in a foreign-key domain
  * shifted by the same per-replica offset (max(key)+1 of the base).
  * Join fan-out therefore scales LINEARLY like a real larger corpus
  * (each orders replica joins exactly its customer replica), never
  * quadratically like naive duplication would (10 copies x 10 copies
  * per key). Dimension tables (region, nation) stay 1x, as they would
  * at any real scale factor.
  *
  * Content columns are byte-identical across replicas — deliberately:
  * the dedup tier then sees every document in a 10-member exact-dup
  * cluster, which exercises the pair generators, LSH banding, and
  * connected components under maximal duplication pressure (the
  * worst realistic case for those operators).
  *
  * Output: one JSON line per query with base and scaled wall seconds
  * and the scaled/base ratio, plus a summary line; also written to
  * SPARK_GRAFT_SCALE_OUT (default scale_proof.json). Queries are run
  * under a per-query job group with a watchdog cancel so a
  * superlinear operator shows up as "timeout" evidence instead of
  * hanging the harness.
  */
object ScaleProof {

  /** Key domains: (table, key columns in that domain). A domain's
    * offset is max(key)+1 over the base table that OWNS the domain. */
  private val keyDomains: Seq[(String, String, Seq[(String, String)])] =
    Seq(
      // (owner table, owner key, all (table, column) members)
      ("customer", "c_custkey",
        Seq("customer" -> "c_custkey", "orders" -> "o_custkey")),
      ("orders", "o_orderkey",
        Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")),
      ("part", "p_partkey",
        Seq("part" -> "p_partkey", "lineitem" -> "l_partkey")),
      ("supplier", "s_suppkey",
        Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey")),
      ("documents", "doc_id", Seq("documents" -> "doc_id")),
      ("embeddings", "vec_id", Seq("embeddings" -> "vec_id")),
      ("events", "event_id", Seq("events" -> "event_id")),
      ("events", "user_id", Seq("events" -> "user_id")))

  private val dims = Seq("region", "nation")
  private val facts = Seq("customer", "orders", "lineitem", "part",
    "supplier", "documents", "embeddings", "events")

  /** Materialize the scaled corpus under `outDir` (one `<table>
    * .parquet` directory per table, the layout SparkEntry.t reads). */
  def scaleTables(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    require(factor >= 1, s"factor must be >=1, got $factor")
    // one pass over each owner table for the offsets (tiny: one agg row)
    val offsets: Map[(String, String), Long] = keyDomains.map {
      case (owner, key, members) =>
        val maxKey = SparkEntry.table(spark, baseDir, owner)
          .agg(coalesce(max(col(key)), lit(0L))).head().getLong(0)
        members.map(m => m -> (maxKey + 1L))
    }.flatten.toMap
      .map { case ((t, c), off) => (t, c) -> off }
    dims.foreach { name =>
      SparkEntry.table(spark, baseDir, name).write
        .mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    facts.foreach { name =>
      val base = SparkEntry.table(spark, baseDir, name)
      val shifted = offsets.collect {
        case ((t, c), off) if t == name => c -> off
      }
      val replicated = base
        .withColumn("__rep",
          explode(sequence(lit(0L), lit(factor - 1L))))
      val out = shifted.foldLeft(replicated) { case (df, (c, off)) =>
        df.withColumn(c, col(c) + col("__rep") * off)
      }.drop("__rep")
      // spread the write so the scaled table is multi-file (a single
      // 10x row group would serialize every downstream scan)
      out.repartition(spark.sessionState.conf.numShufflePartitions)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
  }

  // ---- mutated near-dup tier (round-11 brief item 3) ----
  //
  // The identical-replica construction above is the worst case for
  // pair OUTPUT but the easiest case for shingling: every replica
  // signs identically, so LSH banding cannot miss. The mutated tier
  // replicates `documents` with per-replica deterministic token
  // edits (replica r gets a 2r% substitution rate, r in 1..factor-1;
  // replica 0 stays byte-identical), producing NEAR-dup cliques whose
  // pairwise Jaccard spans ~0.35..1.0 — the regime where banding can
  // actually miss — and then MEASURES MinHash-LSH recall against the
  // exact q21 pair graph per Jaccard bucket, alongside wall times for
  // the capped verify under the same pressure.

  /** Deterministic per-token substitution: replica `rep`'s token `i`
    * of doc `docId` flips iff a seeded murmur3 uniform clears the
    * replica's rate — no RNG state, identical corpus on every run. */
  private[jobs] def mutateUdf = udf { (text: String, docId: Long, rep: Int) =>
    if (text == null || rep == 0) text
    else {
      val rate = 0.02 * rep
      val toks = text.split(" ")
      var i = 0
      while (i < toks.length) {
        val h = scala.util.hashing.MurmurHash3
          .productHash((docId, rep, i))
        if ((h & 0x7fffffff) / 2147483648.0 < rate)
          toks(i) = "mut" + ((h >>> 8) & 0xffff)
        i += 1
      }
      toks.mkString(" ")
    }
  }

  /** Shared replicated-documents materializer: factor× rows, shifted
    * ids, replica text produced by `mutation(text, doc_id, rep)` —
    * ONE implementation so the token-substitution and char-edit tiers
    * can't drift on the offset/replica/write mechanics. */
  private def writeMutatedDocuments(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int,
      mutation: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Unit = {
    val base = SparkEntry.table(spark, baseDir, "documents")
    val off = base.agg(coalesce(max(col("doc_id")), lit(0L)))
      .head().getLong(0) + 1L
    base
      .withColumn("__rep",
        explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("text",
        mutation(col("text"), col("doc_id"), col("__rep")))
      .withColumn("doc_id", col("doc_id") + col("__rep").cast("long") * off)
      .drop("__rep")
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Materialize factor× `documents` with shifted ids and mutated
    * replica text under `outDir` (only table the near-dup tier reads). */
  def scaleDocumentsMutated(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit =
    writeMutatedDocuments(spark, baseDir, outDir, factor,
      (t, id, rep) => mutateUdf(t, id, rep))

  /** LSH candidate recall against the exact q21 pair graph, bucketed
    * by exact Jaccard (0.2 steps). Since round 13, BOTH MinHash
    * signers ride the same exact graph: the portable q93 form
    * (unchanged fields, artifact-compatible) and the q22 fast xxhash
    * signer (q22_-prefixed fields) — the round-12 verdict's gap was
    * that q22's own miss rate was only ever inferred from q93's.
    * Returns the JSON fragment. */
  def nearDupRecall(spark: SparkSession, dir: String): String = {
    import org.apache.spark.storage.StorageLevel
    import graft.operators.Dedup
    val docs = SparkEntry.table(spark, dir, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = Dedup.minhashLshPairsPortable(docs, "doc_id", "text",
        n = 3, bands = 4)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    val candFast = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    val json = recallJson(exact, cand) + "," +
      recallJson(exact, candFast, keyPrefix = "q22_")
    exact.unpersist()
    json
  }

  /** q25 IVF recall against the exact q24 brute-force top-k on the
    * BASE embeddings (round-12 verdict item 5's ANN half). The ANN
    * operators are vector-space, so the text mutation doesn't apply —
    * what CAN miss is the nProbe bucket pruning, and that miss rate
    * is measured here directly: the fraction of exact top-5
    * (query, neighbor) pairs the IVF probe set reproduces, with the
    * q24/q25 query parameters verbatim. */
  def annRecall(spark: SparkSession, baseDir: String): String = {
    import graft.operators.Similarity
    val emb = SparkEntry.table(spark, baseDir, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, probes, k = 5)
      .select(col("q_id"), col("c_id"))
    val ivf = Similarity.ivfTopK(emb, probes, k = 5,
        stride = 20, nProbe = 3)
      .select(col("q_id"), col("c_id"), lit(1).as("hit"))
    val r = brute.join(ivf, Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("pairs"), count(col("hit")).as("recalled"))
      .head()
    val p = r.getLong(0); val c = r.getLong(1)
    s""""q25_ann_pairs_total":$p,"q25_ann_recalled_total":$c""" +
      s""","q25_ann_recall_at_5":${fmt(if (p > 0) c.toDouble / p else 0.0)}"""
  }

  /** q125 survivor accounting on the mutated corpus: dedupNearDup's
    * survivor set (spanning-edge contraction -> components ->
    * semi-join) against survivors derived independently from the
    * ALL-PAIRS capped graph — the round-11 identity proof, re-measured
    * where cliques are NEAR-dup (mutated), not byte-identical, so the
    * census contraction cannot help and the thresholded pair stage
    * carries the selection. Parameters mirror q125
    * (threshold 0.2, df cap 4096, maxRounds 18). */
  def survivorParity(spark: SparkSession, dir: String): String = {
    import org.apache.spark.storage.StorageLevel
    import graft.operators.Dedup
    val docs = SparkEntry.table(spark, dir, "documents")
    val engine = Dedup.dedupNearDup(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = 4096, maxRounds = 18)
      .select(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.jaccardPairsCapped(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = 4096)
      .select("id_a", "id_b")
    val exact = Dedup.keepClusterSurvivors(docs,
        Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", maxRounds = 18, idsCoverEndpoints = true,
          pairsCanonical = true),
        "doc_id", repsPresent = true)
      .select(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEngine = engine.count()
    val nExact = exact.count()
    val agree = engine.intersect(exact).count()
    engine.unpersist(); exact.unpersist()
    s""""q125_survivors_engine":$nEngine""" +
      s""","q125_survivors_allpairs":$nExact""" +
      s""","q125_survivors_agree":$agree"""
  }

  /** q112 recall on the mutated corpus: incremental-LSH candidates
    * against the exact cross-stratum pair graph (J >= 0.2), bucketed
    * by exact Jaccard — banding CAN miss here, so the S-curve is the
    * measured evidence for the streaming ingest shape. */
  def incrementalRecall(spark: SparkSession, dir: String): String = {
    import org.apache.spark.storage.StorageLevel
    import graft.operators.Dedup
    val docs = SparkEntry.table(spark, dir, "documents")
    val strata = docs.select(col("doc_id"),
      (length(col("source")) === 5).as("isBatch"))
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2)
      .join(strata.select(col("doc_id").as("id_a"),
        col("isBatch").as("ba")), "id_a")
      .join(strata.select(col("doc_id").as("id_b"),
        col("isBatch").as("bb")), "id_b")
      .where(col("ba") =!= col("bb")) // cross-stratum only
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = Dedup.minhashLshIncremental(
        docs.where(length(col("source")) === 5),
        docs.where(length(col("source")) === 4), "doc_id", "text")
      .select(least(col("id_new"), col("id_old")).as("id_a"),
        greatest(col("id_new"), col("id_old")).as("id_b"),
        lit(1).as("hit"))
    val json = recallJson(exact, cand, keyPrefix = "q112_")
    exact.unpersist()
    json
  }

  /** Single-character edit per replica INSIDE q115's 24-char join
    * window: position (rep-1) mod 20, replacement drawn from a
    * per-band two-letter alphabet so no two replicas of one doc can
    * produce the same string (bands are disjoint letter pairs;
    * within a band the position differs). Distances: each replica is
    * exactly 1 substitution from the base, replica pairs are <= 2 —
    * all inside q115's tau = 2, so every intra-clique pair must
    * VERIFY, but no clique member is byte-identical, so the census
    * contraction that carries the identical-replica tiers cannot
    * help: this corpus exercises the PassJoin blocking itself. */
  private[graft] def editMutateUdf = udf { (text: String, docId: Long,
      rep: Int) =>
    if (text == null || rep == 0) text
    else {
      val pos = (rep - 1) % 20
      if (text.length <= pos) text // short doc: recorded by the tier's
      // rows-vs-distinct_keys census, never asserted away
      else {
        // non-wrapping band: every replica index gets a distinct
        // (pos, letter-pair) cell, so two replicas of one doc can
        // never coincide at ANY factor (a band wrap would alias
        // replica r with r + 20*13*2). Bands past 'z' walk into
        // adjacent printable codepoints — determinism and
        // distinctness are the contract here, not prettiness.
        val band = (rep - 1) / 20
        val cand = ('a' + band * 2).toChar
        val c = if (text.charAt(pos) == cand) (cand + 1).toChar else cand
        text.substring(0, pos) + c + text.substring(pos + 1)
      }
    }
  }

  /** Materialize factor× `documents` with shifted ids and one-char
    * edited replica text (see [[editMutateUdf]]). */
  def scaleDocumentsEditMutated(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int): Unit =
    writeMutatedDocuments(spark, baseDir, outDir, factor,
      (t, id, rep) => editMutateUdf(t, id, rep))

  /** q115 on the edit-mutated corpus (round-12 verdict item 6): the
    * identical-replica tiers are contraction's BEST case, so they
    * prove the census bypass, not the blocking. Here replicas differ
    * by 1-2 edits (inside tau), the join keys are ~95% distinct
    * (only the base corpus's naturally-repeated 24-prefixes contract
    * — reported as rows vs distinct_keys so the artifact shows which
    * path carried the volume), and the intra-clique pair volume all
    * flows through segment blocking + banded verify. */
  private def q115EditTier(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int, timeoutSec: Int): String = {
    System.err.println(s"[scaleproof] q115 edit-mutated ${factor}x " +
      s"under $outDir")
    val t0 = System.nanoTime()
    scaleDocumentsEditMutated(spark, baseDir, outDir, factor)
    val matSec = (System.nanoTime() - t0) / 1e9
    // the exact key census q115's operator runs: how much of the
    // corpus could contraction absorb at all?
    val cens = SparkEntry.table(spark, outDir, "documents")
      .select(substring(col("text"), 1, 24).as("s"))
      .agg(count(lit(1)).as("n"),
        count_distinct(xxhash64(col("s"))).as("nd")).head()
    val fn = SparkEntry.queries("q115_edit_distance_join")
    val base = timed(spark, "q115_editmut_base", fn, baseDir, timeoutSec)
    val scaled = timed(spark, "q115_editmut", fn, outDir, timeoutSec)
    val ratio = for (b <- base; s <- scaled)
      yield if (b > 0.001) s / b else -1.0
    s"""{"query":"q115_edit_distance_join_editmut"""" +
      s""","factor":$factor,"materialize_sec":${fmt(matSec)}""" +
      s""","rows":${cens.getLong(0)},"distinct_keys":${cens.getLong(1)}""" +
      s""","base_sec":${base.fold(e => "\"" + e + "\"", fmt)}""" +
      s""","scaled_sec":${scaled.fold(e => "\"" + e + "\"", fmt)}""" +
      s""","ratio":${ratio.fold(_ => "null", fmt)}}"""
  }

  /** The mutated tier's driver: materialize, time the near-dup
    * queries base-vs-mutated, measure recall, write the artifact. */
  private def runMutated(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int, timeoutSec: Int): Unit = {
    System.err.println(s"[scaleproof] mutated ${factor}x of " +
      s"$baseDir under $outDir (rate = 2% * replica)")
    val t0 = System.nanoTime()
    scaleDocumentsMutated(spark, baseDir, outDir, factor)
    val matSec = (System.nanoTime() - t0) / 1e9
    val names = Seq("q21_jaccard_pairs", "q70_jaccard_capped",
      "q93_minhash_lsh_portable", "q83_dup_clusters",
      "q119_leakage_split", "q112_incremental_neardup",
      "q125_neardup_survivors")
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      val base = timed(spark, name, fn, baseDir, timeoutSec)
      val scaled = timed(spark, name, fn, outDir, timeoutSec)
      val ratio = for (b <- base; s <- scaled)
        yield if (b > 0.001) s / b else -1.0
      val line = s"""{"query":"$name"""" +
        s""","base_sec":${base.fold(e => "\"" + e + "\"", fmt)}""" +
        s""","scaled_sec":${scaled.fold(e => "\"" + e + "\"", fmt)}""" +
        s""","ratio":${ratio.fold(_ => "null", fmt)}}"""
      System.err.println(s"[scaleproof] $line")
      line
    }
    System.err.println("[scaleproof] measuring LSH recall vs exact " +
      "pairs on the mutated corpus")
    val tR = System.nanoTime()
    val recall = nearDupRecall(spark, outDir)
    System.err.println("[scaleproof] q112 incremental recall vs exact " +
      "cross-stratum pairs")
    val incr = incrementalRecall(spark, outDir)
    System.err.println("[scaleproof] q125 survivor parity vs the " +
      "all-pairs graph")
    val parity = survivorParity(spark, outDir)
    System.err.println("[scaleproof] q25 IVF recall vs q24 brute force")
    val ann = annRecall(spark, baseDir)
    val recallSec = (System.nanoTime() - tR) / 1e9
    System.err.println("[scaleproof] q115 edit-mutated tier (30x)")
    val editRow = q115EditTier(spark, baseDir, outDir + "_edit30", 30,
      timeoutSec)
    System.err.println(s"[scaleproof] $editRow")
    val summary =
      s"""{"metric":"neardup_scale_proof","factor":$factor""" +
        s""","mutation":"2% per replica index"""" +
        s""","materialize_sec":${fmt(matSec)}""" +
        s""","recall_measure_sec":${fmt(recallSec)},$recall""" +
        s""",$incr,$parity,$ann}"""
    println(summary)
    val body = (rows :+ editRow :+ summary).mkString("[", ",\n", "]")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "scale_proof_neardup.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scaleproof] write failed: $e") }
  }

  /** IVF recall on a CLUSTERED fixture (round-14 verdict item 3): the
    * i.i.d.-random testdata embeddings have no cluster structure to
    * prune by, so r13's recall@5 = 0.26 was the honest floor but said
    * nothing about the operator's value claim. This fixture is a
    * deterministic mixture of Gaussians — 25 cluster means, unit-scale
    * coordinates, within-cluster σ = 0.05, every draw derived from
    * murmur3 Box-Muller so the corpus is identical on every run — and
    * recall@5 vs brute force is recorded at nProbe 1/2/4 plus
    * nProbe = centroid count, which must recover brute force exactly
    * (no bucket left unprobed). */
  def annRecallClustered(spark: SparkSession): String = {
    import graft.operators.Similarity
    val clusters = 25
    val dim = 64
    val n = 20000
    val stride = 200 // n/stride = 100 sampled centroids, ~4 per cluster
    def unif(h: Int): Double = ((h & 0x7fffffff) + 0.5) / 2147483648.0
    def gauss(seed: (Int, Int, Int)): Double = {
      val h1 = scala.util.hashing.MurmurHash3.productHash(seed)
      val h2 = scala.util.hashing.MurmurHash3.productHash((seed, 7))
      math.sqrt(-2.0 * math.log(unif(h1))) *
        math.cos(2.0 * math.Pi * unif(h2))
    }
    val mkVec = udf { (id: Long) =>
      val c = (id % clusters).toInt
      Array.tabulate(dim) { j =>
        (gauss((c, j, 1)) + 0.05 * gauss((id.toInt, j, 2))).toFloat
      }
    }
    val emb = spark.range(n).select(col("id").as("vec_id"),
      mkVec(col("id")).as("embedding"))
    val probes = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, probes, k = 5)
      .select(col("q_id"), col("c_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = brute.count()
    val points = Seq(1, 2, 4, n / stride).map { nProbe =>
      val ivf = Similarity.ivfTopK(emb, probes, k = 5,
          stride = stride, nProbe = nProbe)
        .select(col("q_id"), col("c_id"), lit(1).as("hit"))
      val c = brute.join(ivf, Seq("q_id", "c_id"), "left")
        .agg(count(col("hit"))).head().getLong(0)
      s"""{"nprobe":$nProbe,"recall":${
        fmt(if (total > 0) c.toDouble / total else 0.0)}}"""
    }
    brute.unpersist()
    s"""{"metric":"ann_recall_clustered","clusters":$clusters""" +
      s""","dim":$dim,"rows":$n,"stride":$stride""" +
      s""","pairs_total":$total,"points":${
        points.mkString("[", ",", "]")}}"""
  }

  /** Round-15 capped-centroid curve (verdict items 1-2, 5): the cap
    * claim — index-build cost ≈ linear in n once k is a constant —
    * is invisible at a single factor, so this mode measures the two
    * stages the r14 decomposition blamed (k-means build, map-side
    * assignment) at factors 1, 30 AND 100 over scaled `embeddings`
    * tables, with the q91/q76 parameters (stride 20). Each row records
    * (factor, rows, eff_stride, centroids, kmeans_sec, assign_sec).
    * Also: an UNCAPPED k-means A/B at 30× (quantifies what the cap
    * buys without re-paying the known 100× blow-up — r14 measured
    * that at 43.3+21.0 s) and an IVF-PQ probe row at 100× (the
    * memory-bounded composite a 100-TB deployment would actually run,
    * now on the same capped centroid path). */
  def runIvfCurve(spark: SparkSession, baseDir: String,
      workRoot: String): Unit = {
    import graft.operators.{ProductQuantizer, Similarity}
    val iters = 2
    def embeddingsOnly(outDir: String, factor: Int): DataFrame = {
      val base = SparkEntry.table(spark, baseDir, "embeddings")
      val off = base.agg(coalesce(max(col("vec_id")), lit(0L)))
        .head().getLong(0) + 1L
      base.withColumn("__rep",
          explode(sequence(lit(0L), lit(factor - 1L))))
        .withColumn("vec_id", col("vec_id") + col("__rep") * off)
        .drop("__rep")
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      SparkEntry.table(spark, outDir, "embeddings")
    }
    def stages(emb: DataFrame, maxCentroids: Int): (Long, Long, Long,
        Double, Double) = {
      val n = emb.count()
      val es = Similarity.effectiveStride(n, 20, maxCentroids)
      val t0 = System.nanoTime()
      val cents = Similarity.kMeansCentroids(emb, stride = 20,
        iters = iters, maxCentroids = maxCentroids)
      val k = cents.count()
      val tK = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      Similarity.assignToCentroids(emb, cents)
        .where(col("centroid_id").isNotNull).count()
      val tA = (System.nanoTime() - t1) / 1e9
      (n, es, k, tK, tA)
    }
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    val dirs = Seq(1, 30, 100).map { f =>
      val dir = s"$workRoot/ivf_x$f"
      val emb = embeddingsOnly(dir, f)
      val (n, es, k, tK, tA) = stages(emb, Similarity.MaxCentroids)
      val line = s"""{"metric":"ivf_capped_curve","factor":$f""" +
        s""","rows":$n,"eff_stride":$es,"centroids":$k""" +
        s""","kmeans_sec":${fmt(tK)},"assign_sec":${fmt(tA)}}"""
      System.err.println(s"[scaleproof] $line")
      rows += line
      (f, dir, emb)
    }
    // uncapped A/B at 30x: the pre-cap design's cost at the same data
    val emb30 = dirs.find(_._1 == 30).get._3
    val (n30, es30, k30, tK30, tA30) = stages(emb30, Int.MaxValue)
    val ab = s"""{"metric":"ivf_uncapped_ab","factor":30""" +
      s""","rows":$n30,"eff_stride":$es30,"centroids":$k30""" +
      s""","kmeans_sec":${fmt(tK30)},"assign_sec":${fmt(tA30)}}"""
    System.err.println(s"[scaleproof] $ab")
    rows += ab
    // IVF-PQ at 100x: train (driver-bounded sample), encode + probe
    val emb100 = dirs.find(_._1 == 100).get._3
    val tP0 = System.nanoTime()
    val pq = ProductQuantizer.train(emb100, "embedding", m = 16,
      k = 16, sampleStride = 20)
    val tTrain = (System.nanoTime() - tP0) / 1e9
    val tP1 = System.nanoTime()
    val pqRows = Similarity.ivfPqTopK(emb100,
      emb100.where(col("vec_id") < 10), k = 5, stride = 20,
      nProbe = 3, pq).count()
    val tPq = (System.nanoTime() - tP1) / 1e9
    val pqLine = s"""{"metric":"ivfpq_capped_100x","rows_out":$pqRows""" +
      s""","train_sec":${fmt(tTrain)},"probe_sec":${fmt(tPq)}}"""
    System.err.println(s"[scaleproof] $pqLine")
    rows += pqLine
    val body = rows.mkString("[", ",\n", "]")
    println(body)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "scale_proof_ivf.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scaleproof] write failed: $e") }
  }

  /** Diagnostics driver: q91 decomposition + q23 variance + the
    * q125/q119 steady-state probe over an ALREADY-MATERIALIZED scaled
    * dir (pass the factor-less main's outDir), plus the clustered ANN
    * fixture (corpus-independent). */
  /** Fresh-JVM warm probe (round 17): min-of-N full-query reps over
    * an already-materialized scaled dir, for the named query
    * prefixes, with the bench calibration row — the third tier of the
    * warm-band attribution (stage sum ≤ fresh-JVM warm ≤ in-sweep
    * warm ≤ sweep). This JVM has run nothing else, so the bound it
    * records is free of the sweep JVM's accumulated debt — with the
    * honest caveat that in a MULTI-query probe the later queries
    * carry the earlier ones' residue (far less than the sweep's 126,
    * but nonzero): for the strictest single-query bound, probe one
    * prefix per invocation. */
  private def runProbe(spark: SparkSession, outDir: String,
      timeoutSec: Int, prefixes: Seq[String],
      sourceJson: String): Unit = {
    System.err.println(
      s"[scaleproof] fresh-JVM probe over $outDir: " +
        prefixes.mkString(","))
    val reps = sys.env.get("SPARK_GRAFT_SCALE_PROBE_REPS")
      .flatMap(_.trim.toIntOption).getOrElse(4)
    def minOfN(name: String, n: Int): (Seq[Either[String, Double]],
        Double) = {
      val rs = (1 to n).map(_ => timed(spark, s"probe_$name",
        SparkEntry.queries(name), outDir, timeoutSec))
      val good = rs.collect { case Right(s) => s }
      (rs, if (good.nonEmpty) good.min else -1.0)
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    val rows = names.map { name =>
      val (rs, best) = minOfN(name, reps)
      val line = s"""{"query":"$name"""" +
        s""","probe_reps_sec":${rs.map(_.fold(_ => "-1.0", fmt))
          .mkString("[", ",", "]")}""" +
        s""","probe_reps_err":${errArr(rs)}""" +
        s""","probe_min_sec":${fmt(best)}}"""
      System.err.println(s"[scaleproof] $line")
      line
    }
    val calibNames = Seq("q12_octet_len", "q13_normalize_ws",
      "q14_word_count", "q16_reading_duration", "q19_fingerprint")
    val calibMins = calibNames.map(minOfN(_, 3)._2).filter(_ >= 0)
      .sorted
    val calib = if (calibMins.isEmpty) -1.0
      else calibMins(calibMins.size / 2)
    val summary =
      s"""{"metric":"scale_proof_probe","reps":$reps""" +
        s""","queries":${names.length}$sourceJson""" +
        s""","calibration_sec":${fmt(calib)}}"""
    System.err.println(s"[scaleproof] $summary")
    val body = (rows :+ summary).mkString("[", ",\n", "]")
    println(body)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "scale_proof_probe.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scaleproof] write failed: $e") }
  }

  /** The probe set for `SPARK_GRAFT_SCALE_PROBE=auto`: the top-N
    * queries of a prior sweep artifact, ranked by its own warm
    * min-of-3 (`warm_min_sec` rows — the fenced in-sweep warm pass)
    * where that succeeded, by the raw `scaled_sec` sweep time
    * otherwise — a PER-QUERY fallback, not a whole-artifact one: a
    * query whose three fenced warm reps all failed (warm -1) is
    * exactly the outlier the probe must not drop, so it ranks by its
    * sweep time instead of vanishing (review finding, round 18).
    * Line-oriented regex extraction, deliberately: the artifact is
    * this binary's own one-row-per-line output, and a JSON library
    * is not on the classpath. Entries with no successful timing
    * anywhere (quoted reasons / -1 sentinels on both rows) never
    * rank. */
  private[graft] def autoProbeTargets(sweepFile: String,
      topN: Int): Seq[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sweepFile)), "UTF-8")
    def extract(re: scala.util.matching.Regex): Map[String, Double] =
      re.findAllMatchIn(text)
        .map(m => (m.group(1), m.group(2).toDouble))
        .filter(_._2 >= 0).toMap
    val warm = extract(
      """"query":"([^"]+)",.*"warm_min_sec":(-?[0-9.]+)""".r)
    val sweep = extract(
      """"query":"([^"]+)",.*"scaled_sec":(-?[0-9.]+)""".r)
    (warm.keySet ++ sweep.keySet).toSeq
      .map(q => (q, warm.getOrElse(q, sweep.getOrElse(q, -1.0))))
      .filter(_._2 >= 0)
      .sortBy(-_._2).take(topN).map(_._1)
  }

  private def runDiagnostics(spark: SparkSession): Unit = {
    val body = "[" + annRecallClustered(spark) + "]"
    println(body)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "scale_proof_diag.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scaleproof] write failed: $e") }
  }

  /** Monotonic suffix for watchdog job-group names: reusing one name
    * across back-to-back reps lets a STALE watchdog (its rep finished
    * right at the deadline, the `!done` check raced the finally) fire
    * cancelJobGroup into the NEXT rep's jobs and record a healthy rep
    * as failed (review finding, round 18) — a unique group per
    * invocation makes the stale cancel a no-op. */
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Watchdog-guarded action: run `body` under a cancellable job
    * group; Right((result, sec)) or Left("timeout" | exception name).
    * The single watchdog implementation behind the full-query sweep
    * ([[timed]]) and graft.Bench's reps. */
  private[graft] def timedBody(spark: SparkSession, name: String,
      timeoutSec: Int)(body: => Long): Either[String, (Long, Double)] = {
    val group = s"scaleproof-$name-${groupSeq.incrementAndGet()}"
    spark.sparkContext.setJobGroup(group, name,
      interruptOnCancel = true)
    @volatile var done = false
    val watchdog = new Thread(() => {
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(200)
      if (!done) spark.sparkContext.cancelJobGroup(group)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val t0 = System.nanoTime()
    try {
      val n = body
      Right((n, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: Throwable =>
        val timedOut = (System.nanoTime() - t0) / 1e9 >= timeoutSec
        Left(if (timedOut) "timeout" else e.getClass.getSimpleName)
    } finally {
      done = true
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Time one query under a watchdog; Right(sec) or Left(reason). */
  private def timed(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String,
      timeoutSec: Int): Either[String, Double] =
    timedBody(spark, name, timeoutSec)(fn(spark, dir).count())
      .map(_._2)

  private[jobs] def fmt(v: Double) = f"$v%.3f"

  /** Parallel failure-reason array for a -1.0-sentineled timing array
    * (ADVICE r16): "timeout"/exception-class per failed entry, null
    * per success — timings stay homogeneous doubles, causes stay
    * attributable. */
  private def errArr(xs: Seq[Either[String, Double]]): String =
    xs.map(_.fold(e => "\"" + e + "\"", _ => "null"))
      .mkString("[", ",", "]")

  /** Shared recall accounting: the exact thresholded pair graph
    * LEFT-joined with candidate hits, bucketed by exact Jaccard
    * (0.2 steps, top bucket J >= 0.8), rendered as the four
    * `keyPrefix`-ed JSON fields every recall artifact carries.
    * `candHits` must be (id_a, id_b, hit) with id_a < id_b in the
    * same canonical order as `exact`. ONE implementation — the
    * S-curve's bucket edges, the zero-pair guard, and the rounding
    * must never drift between the batch, incremental, and streaming
    * proofs. */
  private[graft] def recallJson(exact: DataFrame, candHits: DataFrame,
      keyPrefix: String = ""): String = {
    val perBucket = exact
      .join(candHits, Seq("id_a", "id_b"), "left")
      .groupBy(least(floor(col("jaccard") * 5), lit(4L)).as("b"))
      .agg(count(lit(1)).as("pairs"), count(col("hit")).as("recalled"))
      .orderBy("b")
      .collect()
    val buckets = perBucket.map { r =>
      val b = r.getLong(0); val p = r.getLong(1); val c = r.getLong(2)
      s"""{"j_lo":${fmt(b * 0.2)},"pairs":$p,"recalled":$c""" +
        s""","recall":${fmt(if (p > 0) c.toDouble / p else 0.0)}}"""
    }.mkString("[", ",", "]")
    val tp = perBucket.map(_.getLong(1)).sum
    val tc = perBucket.map(_.getLong(2)).sum
    s""""${keyPrefix}recall_buckets":$buckets""" +
      s""","${keyPrefix}pairs_total":$tp""" +
      s""","${keyPrefix}recalled_total":$tc""" +
      s""","${keyPrefix}recall_overall":${
        fmt(if (tp > 0) tc.toDouble / tp else 0.0)}"""
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption
      .getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1)
      else "/tmp/graft_scaleproof/sfx"
    val factor = if (args.length > 2) args(2).toInt else 10
    val timeoutSec = sys.env.get("SPARK_GRAFT_SCALE_TIMEOUT")
      .flatMap(_.toIntOption).getOrElse(180)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (sys.env.get("SPARK_GRAFT_SCALE_MUTATED").contains("1")) {
      runMutated(spark, baseDir, outDir, factor, timeoutSec)
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_DOCSONLY=1 (round 19, verdict item 6):
    // materialize ONLY the mutated-replica documents table at `factor`
    // under outDir and exit — the core-ratio probes need a text corpus
    // large enough that the single-table text queries (q77/q84/q88/
    // q103) hold every core busy for tens of seconds, and replicating
    // the other seven tables at that factor would cost 10-20x the disk
    // and time for queries that never read them. Mutated text (not
    // byte-identical) so gram/shingle work per replica is real.
    if (sys.env.get("SPARK_GRAFT_SCALE_DOCSONLY").contains("1")) {
      System.err.println(s"[scaleproof] materializing ${factor}x " +
        s"documents-only of $baseDir under $outDir")
      val t0 = System.nanoTime()
      scaleDocumentsMutated(spark, baseDir, outDir, factor)
      System.err.println(f"[scaleproof] done in ${
        (System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_PROBE=q119,q125: FRESH-JVM warm probe over an
    // ALREADY-MATERIALIZED scaled dir (outDir) — round 17's JVM-debt
    // finding made mechanical: the in-sweep warm pass measures a JVM
    // carrying 126 queries of code-cache/cleaner/heap debt (q119
    // in-sweep 18.0 s vs 9.8 s in a fresh JVM on the same dir and
    // binary), so plan-term attribution needs a fresh-process bound
    // too. Per named query prefix: SPARK_GRAFT_SCALE_PROBE_REPS reps
    // (default 4 — rep 1 doubles as codegen warm-up), min over reps,
    // plus the calibration row; writes to SPARK_GRAFT_SCALE_OUT.
    // SPARK_GRAFT_SCALE_PROBE=auto (round 18, verdict item 5): the
    // probe set used to be hand-named prefixes, which can silently
    // drift from the actual outlier set as rounds move the warm
    // band. `auto` reads the prior sweep artifact
    // (SPARK_GRAFT_SCALE_SWEEP, default the committed 100x
    // all-queries file) and probes its top-N warm queries
    // (SPARK_GRAFT_SCALE_PROBE_TOPN, default 6) mechanically; the
    // probe artifact records the source so a reader can verify the
    // set was derived, not picked.
    val probePrefixes = sys.env.get("SPARK_GRAFT_SCALE_PROBE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    if (probePrefixes.isDefined) {
      if (probePrefixes.get == Seq("auto")) {
        val sweepFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_SWEEP",
          "scale_proof_x100_all.json")
        val topN = sys.env.get("SPARK_GRAFT_SCALE_PROBE_TOPN")
          .flatMap(_.trim.toIntOption).getOrElse(6)
        val targets = autoProbeTargets(sweepFile, topN)
        require(targets.nonEmpty,
          s"auto probe found no timed queries in $sweepFile")
        // the path is operator input — escape it so a quote or
        // backslash cannot corrupt the artifact's JSON
        val sweepJson = sweepFile.replace("\\", "\\\\")
          .replace("\"", "\\\"")
        runProbe(spark, outDir, timeoutSec, targets,
          s""","probe_source":"auto","sweep_file":"$sweepJson"""" +
            s""","top_n":$topN""")
      } else runProbe(spark, outDir, timeoutSec, probePrefixes.get,
        ""","probe_source":"named"""")
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_DIAG=1: the clustered-fixture ANN recall row
    // instead of the timing sweep
    if (sys.env.get("SPARK_GRAFT_SCALE_DIAG").contains("1")) {
      runDiagnostics(spark)
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_IVF=1: the round-15 capped-centroid curve
    // (factors 1/30/100 over embeddings-only scaled dirs under outDir)
    if (sys.env.get("SPARK_GRAFT_SCALE_IVF").contains("1")) {
      runIvfCurve(spark, baseDir, outDir)
      spark.stop()
      return
    }

    System.err.println(s"[scaleproof] materializing ${factor}x of " +
      s"$baseDir under $outDir")
    val tMat0 = System.nanoTime()
    scaleTables(spark, baseDir, outDir, factor)
    val matSec = (System.nanoTime() - tMat0) / 1e9
    System.err.println(f"[scaleproof] materialized in $matSec%.1f s")

    // SPARK_GRAFT_SCALE_ONLY=q70,q83 restricts to named prefixes — for
    // higher-factor runs over a subset (e.g. the dedup tier at 30x)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val rows = ordered.map { case (name, fn) =>
      // base first: its execution doubles as the codegen/JIT warm-up
      // for the scaled run, so the ratio compares warm against warm-ish
      val base = timed(spark, name, fn, baseDir, timeoutSec)
      val scaled = timed(spark, name, fn, outDir, timeoutSec)
      val ratio = for (b <- base; s <- scaled)
        yield if (b > 0.001) s / b else -1.0
      val line = s"""{"query":"$name"""" +
        s""","base_sec":${base.fold(e => "\"" + e + "\"", fmt)}""" +
        s""","scaled_sec":${scaled.fold(e => "\"" + e + "\"", fmt)}""" +
        s""","ratio":${ratio.fold(_ => "null", fmt)}}"""
      System.err.println(s"[scaleproof] $line")
      (name, base, scaled, ratio, line)
    }
    val ok = rows.collect { case (_, _, Right(s), _, _) => s }
    val summary =
      s"""{"metric":"scale_proof","factor":$factor""" +
        s""","queries_total":${rows.length}""" +
        s""","queries_completed_scaled":${ok.length}""" +
        s""","scaled_total_sec":${fmt(ok.sum)}""" +
        s""","materialize_sec":${fmt(matSec)}""" +
        s""","timeout_sec":$timeoutSec}"""
    println(summary)
    // Warm min-of-3 pass (round-16 verdict item 3): the sweep's
    // one-shot scaled numbers carry cold/GC tail over small plans —
    // attributing "cold tail, not a plan term" used to need hand-run
    // probes for whichever queries someone picked (q76 was the r16
    // gap). Now the N slowest completed scaled queries mechanically
    // get three more scaled reps each (first rep already warm: the
    // sweep itself ran them), recorded per query with the bench
    // protocol's window calibration (median min-of-3 of the five
    // constant-cost scan queries, on the SCALED dir) so warm bounds
    // compare across windows by ratio. SPARK_GRAFT_SCALE_WARM sets N
    // (default 10; 0 disables).
    val warmN = sys.env.get("SPARK_GRAFT_SCALE_WARM")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    val warmRows = if (warmN <= 0) Nil else {
      def minOf3(name: String): (Seq[Either[String, Double]], Double) = {
        // cache-clear + GC fence BEFORE each query's rep block (the
        // bench protocol's fence): the pass runs straight after the
        // 126-query sweep in the same JVM, and without the fence the
        // sweep's lingering persists inflated warm bounds up to 2.6x
        // over the same queries probed standalone (round 17: q119
        // un-fenced warm 25.8 s; fenced 18.0 s; fresh-JVM standalone
        // min-of-4 on the same dir and binary 9.8 s). The fenced
        // number is therefore an IN-SWEEP-JVM warm upper bound — the
        // residual above a fresh-JVM probe is accumulated JVM debt
        // (code cache, cleaner backlog, heap shape), not a plan term;
        // cross-round comparisons go through the calibration row
        // below, which carries the same debt. Reps after the first
        // re-read whatever the query itself caches — that re-warming
        // IS the warm band being measured.
        spark.catalog.clearCache()
        System.gc()
        val reps = (1 to 3).map(_ => timed(spark, s"warm_$name",
          SparkEntry.queries(name), outDir, timeoutSec))
        val good = reps.collect { case Right(s) => s }
        (reps, if (good.nonEmpty) good.min else -1.0)
      }
      val slowest = rows
        .collect { case (name, _, Right(s), _, _) => (name, s) }
        .sortBy(-_._2).take(warmN)
      val perQuery = slowest.map { case (name, sweepSec) =>
        val (reps, best) = minOf3(name)
        val line = s"""{"query":"$name","sweep_sec":${fmt(sweepSec)}""" +
          s""","warm_reps_sec":${reps.map(_.fold(_ => "-1.0", fmt))
            .mkString("[", ",", "]")}""" +
          s""","warm_reps_err":${errArr(reps)}""" +
          s""","warm_min_sec":${fmt(best)}}"""
        System.err.println(s"[scaleproof] $line")
        line
      }
      val calibNames = Seq("q12_octet_len", "q13_normalize_ws",
        "q14_word_count", "q16_reading_duration", "q19_fingerprint")
      val calibMins = calibNames.map(minOf3(_)._2).filter(_ >= 0).sorted
      val calib = if (calibMins.isEmpty) -1.0
        else calibMins(calibMins.size / 2)
      val warmSummary =
        s"""{"metric":"scale_proof_warm","factor":$factor""" +
          s""","warm_top_n":${slowest.length}""" +
          s""","calibration_sec":${fmt(calib)}}"""
      System.err.println(s"[scaleproof] $warmSummary")
      perQuery :+ warmSummary
    }
    val body = (rows.map(_._5) ++ warmRows :+ summary)
      .mkString("[", ",\n", "]")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "scale_proof.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (body + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[scaleproof] write failed: $e") }
    spark.stop()
  }
}
