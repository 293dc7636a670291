package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Statistical cross-validation of the approximate (rows-only) operators
  * against their exact counterparts on the driver's sf0.001 testdata —
  * the internal quality gate for queries the DuckDB oracle can't check
  * (q22 minhash, q25 ivf): approximation error and recall are pinned,
  * deterministically, not just row counts. */
class ApproxQualitySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("minhash LSH recovers every exact-jaccard pair, small est error") {
    val s = initSpark()
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.2)
      .withColumnRenamed("jaccard", "exact_j")
    val est = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4)
    val nExact = exact.count()
    val joint = exact.join(est, Seq("id_a", "id_b"))
    val (n, meanErr, maxErr) = {
      val r = joint.agg(count(lit(1)),
        avg(abs(col("exact_j") - col("est_jaccard"))),
        max(abs(col("exact_j") - col("est_jaccard")))).head()
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    // 4 bands x 4 rows: recall for J>=0.2 is not guaranteed 1.0 in
    // general, but on this corpus every exact pair IS recovered —
    // pin it so a banding regression surfaces
    assert(n === nExact, s"LSH recovered $n of $nExact exact pairs")
    assert(meanErr <= 0.10, s"mean |est-exact| = $meanErr")
    assert(maxErr <= 0.20, s"max |est-exact| = $maxErr")
  }

  test("IVF top-k recall vs brute force on uniform vectors") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("q_id"), col("c_id"))
    val ivf = Similarity.ivfTopK(emb, q, k = 5, stride = 20, nProbe = 3)
      .select(col("q_id").as("q2"), col("c_id").as("c2"))
    val hits = bf.join(ivf,
      col("q_id") === col("q2") && col("c_id") === col("c2")).count()
    val total = bf.count()
    // uniform random vectors are IVF's worst case (no cluster
    // structure); measured deterministic recall is 0.39 — pin a floor
    // so a centroid-assignment regression surfaces
    assert(hits >= (total * 0.30).toLong,
      s"ivf recall@5 = $hits/$total below 30% floor")
    // and probing every bucket must recover brute force exactly
    val all = Similarity.ivfTopK(emb, q, k = 5, stride = 20, nProbe = 25)
      .select(col("q_id").as("q2"), col("c_id").as("c2"))
    val allHits = bf.join(all,
      col("q_id") === col("q2") && col("c_id") === col("c2")).count()
    assert(allHits === total,
      s"full-probe IVF diverged from brute force: $allHits/$total")
  }

  test("full-probe IVF equals brute force row-for-row on a CLUSTERED " +
      "fixture (round 14: raw-double ranking diverged from brute at " +
      "4-dp-tied rank boundaries — the regime uniform vectors never " +
      "enter; one rounded-rank contract now)") {
    val s = initSpark()
    import s.implicits._
    // deterministic mixture of Gaussians: 5 tight clusters whose
    // members tie at 4 dp near the rank-k boundary
    def unif(h: Int): Double = ((h & 0x7fffffff) + 0.5) / 2147483648.0
    def gauss(seed: (Int, Int, Int)): Double = {
      val h1 = scala.util.hashing.MurmurHash3.productHash(seed)
      val h2 = scala.util.hashing.MurmurHash3.productHash((seed, 7))
      math.sqrt(-2.0 * math.log(unif(h1))) *
        math.cos(2.0 * math.Pi * unif(h2))
    }
    val emb = (0L until 500L).map { id =>
      val c = (id % 5).toInt
      (id, Array.tabulate(16)(j =>
        (gauss((c, j, 1)) + 0.02 * gauss((id.toInt, j, 2))).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val all = Similarity.ivfTopK(emb, q, k = 5, stride = 50, nProbe = 10)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(all === bf,
      s"full-probe IVF must equal brute force exactly;\n ivf=${
        all.take(10).toSeq}\n bf=${bf.take(10).toSeq}")
  }

  test("product quantization: 16x compression holds a recall floor") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val model = graft.operators.ProductQuantizer.train(
      emb, "embedding", m = 16, k = 64, sampleStride = 2)
    // compression: 16 one-byte codes vs 64 float32s
    val codeLen = emb.select(
      graft.operators.ProductQuantizer.encode(model)(col("embedding"))
        .as("c")).head().getAs[Array[Byte]](0).length
    assert(codeLen === 16)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("q_id"), col("c_id"))
    val pq = graft.operators.ProductQuantizer.pqTopK(emb, q, model, 5)
      .select(col("q_id").as("q2"), col("c_id").as("c2"))
    val hits = bf.join(pq,
      col("q_id") === col("q2") && col("c_id") === col("c2")).count()
    // measured deterministic recall on uniform vectors (PQ's worst
    // case — no cluster structure): 50%. Pin a 40% floor.
    assert(hits >= 40, s"pq recall@5 = $hits/100 under 40% floor")
  }

  test("IVF-PQ composite: bucket pruning over coded vectors holds a " +
      "recall floor near plain PQ") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val model = graft.operators.ProductQuantizer.train(
      emb, "embedding", m = 16, k = 64, sampleStride = 2)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("q_id"), col("c_id"))
    val ivfpq = Similarity.ivfPqTopK(emb, q, k = 5, stride = 10,
      nProbe = 8, model)
    assert(ivfpq.groupBy("q_id").count().collect()
      .forall(_.getLong(1) === 5L), "every query returns k rows")
    val hits = bf.join(
      ivfpq.select(col("q_id").as("q2"), col("c_id").as("c2")),
      col("q_id") === col("q2") && col("c_id") === col("c2")).count()
    // uniform vectors are the worst case for both tiers; plain PQ
    // measured 50% here — the IVF cut on top loses some candidates.
    // Measured deterministic: pin a 30% floor.
    assert(hits >= 30, s"ivf-pq recall@5 = $hits/100 under 30% floor")
  }

  test("k-means-refined centroids do not lose recall vs stride sample") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("q_id"), col("c_id"))
    def recall(ivf: org.apache.spark.sql.DataFrame): Long =
      bf.join(ivf.select(col("q_id").as("q2"), col("c_id").as("c2")),
        col("q_id") === col("q2") && col("c_id") === col("c2")).count()
    val strideHits = recall(
      Similarity.ivfTopK(emb, q, k = 5, stride = 20, nProbe = 3))
    val refinedHits = recall(Similarity.ivfTopKRefined(
      emb, q, k = 5, stride = 20, nProbe = 3, iters = 3))
    assert(refinedHits >= strideHits,
      s"refined recall $refinedHits < stride recall $strideHits")
  }

  test("persisted IVF index: results equal the in-memory refined IVF, " +
      "and the vectors scan is DYNAMICALLY PARTITION-PRUNED (only " +
      "probed buckets read) — the index property, plan-asserted") {
    val s = initSpark()
    import graft.operators.IvfIndex
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfIndex.build(emb, idx, stride = 20, iters = 3)
    val q = emb.where(col("vec_id") < 20)
    val fromIndex = IvfIndex.topK(s, idx, q, k = 5, nProbe = 3)
    val inMemory = Similarity.ivfTopKRefined(emb, q, k = 5,
      stride = 20, nProbe = 3, iters = 3)
    val a = fromIndex.orderBy("q_id", "rank").collect().toSeq
    val b = inMemory.orderBy("q_id", "rank").collect().toSeq
    assert(a === b, "persisted index must rank exactly like in-memory")
    // the plan property that makes it an index: runtime partition
    // pruning from the broadcast probe side
    assert(IvfIndex.isDppPruned(fromIndex),
      "vectors scan must carry a dynamicpruning partition filter:\n" +
        fromIndex.queryExecution.executedPlan.toString.take(2000))
  }

  test("versioned index rebuild: atomic publish, pinned probes survive " +
      "a rebuild, uncommitted builds invisible") {
    val s = initSpark()
    import graft.operators.IvfIndex
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivfv").toString
    val q = emb.where(col("vec_id") < 10)
    val v0 = IvfIndex.buildVersioned(emb, idx, stride = 20)
    assert(v0 === 0L && IvfIndex.currentVersion(idx) === Some(0L))
    val before = IvfIndex.topKVersioned(s, idx, q, k = 3, nProbe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    // rebuild over a CHANGED corpus: current moves, v0 stays probe-able
    val v1 = IvfIndex.buildVersioned(emb.where(col("vec_id") < 400),
      idx, stride = 20)
    assert(v1 === 1L && IvfIndex.currentVersion(idx) === Some(1L))
    val pinned = IvfIndex.topKVersioned(s, idx, q, k = 3, nProbe = 2,
      asOf = Some(0L)).orderBy("q_id", "rank").collect().toSeq
    assert(pinned === before, "pinned version must be immutable")
    val current = IvfIndex.topKVersioned(s, idx, q, k = 3, nProbe = 2)
      .select(max(col("c_id"))).head().getLong(0)
    assert(current < 400L, "current version reflects the new corpus")
    // a claimed-but-uncommitted build directory is invisible
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$idx/v_7"))
    assert(IvfIndex.currentVersion(idx) === Some(1L))
  }

  test("versioned index builds claim atomically: racing builds get " +
      "distinct committed versions, a claimed version is skipped, and " +
      "probes read committed versions only") {
    val s = initSpark()
    import graft.operators.IvfIndex
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") < 200)
    val idx = java.nio.file.Files.createTempDirectory("ivfc").toString
    // a builder that claimed v_2 and never committed
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$idx/v_2"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$idx/v_2/_CLAIM"))
    val built = Await.result(Future.sequence(Seq.fill(3)(Future(
      IvfIndex.buildVersioned(emb, idx, stride = 20, iters = 1)))),
      10.minutes)
    assert(built.sorted === Seq(3L, 4L, 5L), built)
    assert(IvfIndex.committedVersions(idx) === Seq(3L, 4L, 5L))
    // no claim's temporary file is left behind
    assert(new java.io.File(idx).list().sorted.toSeq ===
      Seq("v_2", "v_3", "v_4", "v_5"))
    val q = emb.where(col("vec_id") < 5)
    assert(IvfIndex.topKVersioned(s, idx, q, k = 3, nProbe = 2)
      .count() === 15L)
    val refused = intercept[IllegalArgumentException](
      IvfIndex.topKVersioned(s, idx, q, k = 3, nProbe = 2,
        asOf = Some(2L)))
    assert(refused.getMessage.contains("not committed"))
  }

  test("IVF append: adds route through the FROZEN centroid model " +
      "(equals a bulk assign over the same model), appended vectors " +
      "are probe-able, DPP still prunes") {
    val s = initSpark()
    import graft.operators.IvfIndex
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val part = emb.where(col("vec_id") >= 100)
    val rest = emb.where(col("vec_id") < 100)
    val idxA = java.nio.file.Files.createTempDirectory("ivfa").toString
    IvfIndex.build(part, idxA, stride = 20, iters = 3)
    IvfIndex.append(rest, idxA)
    val q = emb.where(col("vec_id") < 10)
    val fromAppended = IvfIndex.topK(s, idxA, q, k = 5, nProbe = 3)
    val a = fromAppended.orderBy("q_id", "rank").collect().toSeq
    // reference: an index with the SAME (deterministic) part-trained
    // centroids whose vectors were bulk-assigned in one pass — append
    // must be indistinguishable from it
    val idxB = java.nio.file.Files.createTempDirectory("ivfb").toString
    IvfIndex.build(part, idxB, stride = 20, iters = 3)
    val cents = s.read.parquet(s"$idxB/centroids")
    Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
      .where(col("centroid_id").isNotNull)
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col("vec_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$idxB/vectors")
    val b = IvfIndex.topK(s, idxB, q, k = 5, nProbe = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(a === b,
      "append must equal bulk assignment over the frozen model")
    // the appended vectors really are in the index (neighbors < 100
    // surface — vec ids 0..99 cluster with their own label class)
    assert(a.exists(_.getLong(1) < 100L),
      s"no appended vector surfaced in the top-k: ${a.take(10)}")
    assert(IvfIndex.isDppPruned(fromAppended),
      "append must not break dynamic partition pruning")
  }

  test("k-means mean recompute is ONE agg expression at dim=256 " +
      "(single-buffer vector sum, not 2xdim columns) and matches avg()") {
    val s = initSpark()
    import s.implicits._
    val dim = 256
    // deterministic synthetic vectors: v(id)(i) = ((id*31 + i) % 97)/97
    val rows = (0L until 200L).map { id =>
      (id, Seq.tabulate(dim)(i => (((id * 31 + i) % 97) / 97.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("embedding"))
    val cents = Similarity.kMeansCentroids(df, stride = 50, iters = 2)
    val got = cents.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(got.nonEmpty && got.values.forall(_.length == dim))
    // the aggregation plans as a single ObjectHashAggregate expression —
    // the property that keeps dim=768 inside a sane plan (the 2xdim
    // column form fell back out of codegen with 1,536 agg expressions)
    val agg = df.groupBy(pmod(col("vec_id"), lit(3)).as("g"))
      .agg(graft.expr.VectorAgg
        .quantizedSumCount(col("embedding"), (1L << 24).toDouble).as("sc"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate, got:\n$plan")
    // numerics: quantized mean equals float avg to quantization error
    val sc = agg.where(col("g") === 0)
      .select(col("sc.sums"), col("sc.counts")).head()
    val (sums, counts) = (sc.getSeq[Long](0), sc.getSeq[Long](1))
    val members = rows.filter(_._1 % 3 == 0).map(_._2)
    (0 until dim).foreach { i =>
      val expect = members.map(_(i).toDouble).sum / members.size
      val gotMean = sums(i) / (1L << 24).toDouble / counts(i)
      assert(math.abs(gotMean - expect) < 1e-6,
        s"coordinate $i: $gotMean vs $expect")
    }
  }

  test("quantized vector sum: ragged vectors divide by per-coordinate " +
      "support; null arrays contribute nothing") {
    val s = initSpark()
    import s.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f, 4.0f))),
      (2L, Some(Seq(3.0f))), // ragged: only coordinate 0
      (3L, None: Option[Seq[Float]])
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("embedding"))
    val sc = df.groupBy(lit(1).as("g"))
      .agg(graft.expr.VectorAgg
        .quantizedSumCount(col("embedding"), (1L << 24).toDouble).as("sc"))
      .select(col("sc.sums"), col("sc.counts")).head()
    val scale = (1L << 24).toDouble
    assert(sc.getSeq[Long](1) === Seq(2L, 1L, 1L),
      "counts = per-coordinate non-null support")
    assert(sc.getSeq[Long](0).map(_ / scale) === Seq(4.0, 2.0, 4.0))
    // a NULL embedding assigns to no bucket; the null centroid_id
    // group must be dropped before the driver collect (was an NPE)
    val withNull = Seq(
      (0L, Some(Seq(1.0f, 2.0f))), (20L, Some(Seq(3.0f, 4.0f))),
      (21L, None: Option[Seq[Float]]))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("embedding"))
    val cents2 = Similarity.kMeansCentroids(withNull, stride = 20,
      iters = 2)
    assert(cents2.count() === 2L, "null embeddings must not crash or " +
      "create a phantom cluster")
  }

  test("k-means centroids are BITWISE identical across partitionings " +
      "(fixed-point integer sums make the mean order-independent)") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    def centroids(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
      Similarity.kMeansCentroids(df, stride = 20, iters = 3)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
    val a = centroids(emb.repartition(3))
    val b = centroids(emb.repartition(17, col("vec_id")))
    val c = centroids(emb.coalesce(1))
    assert(a === b, "3-way vs 17-way partitioning must agree bitwise")
    assert(a === c, "distributed vs single-partition must agree bitwise")
  }

  // ---- round 15: the centroid cap (k independent of corpus size) ----

  test("effectiveStride: exact-integer ceil-div, floor at the plain " +
      "stride — the formula the oracle CTE replays") {
    // cap not binding: plain stride wins
    assert(Similarity.effectiveStride(500, 20, 1000) === 20L)
    // cap binding: ceil(500/16) = 32
    assert(Similarity.effectiveStride(500, 1, 16) === 32L)
    // exact divisor: no off-by-one (ceil(480/16) = 30)
    assert(Similarity.effectiveStride(480, 1, 16) === 30L)
    // the 100x shape that motivated the cap: 200k rows, stride 20,
    // cap 1000 -> stride 200, k bounded at ~1000 instead of 10,000
    assert(Similarity.effectiveStride(200000, 20, 1000) === 200L)
    // empty corpus degenerates to the plain stride (no div-by-zero)
    assert(Similarity.effectiveStride(0, 20, 1000) === 20L)
  }

  test("capped sampleCentroids == plain sampleCentroids at the " +
      "effective stride, and the count respects the cap") {
    val s = initSpark()
    val emb = s.read.parquet(s"$dir/embeddings.parquet") // 500 rows
    val capped = Similarity.sampleCentroids(emb, stride = 1,
        maxCentroids = 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val plain = Similarity.sampleCentroids(emb, stride = 32)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(capped === plain,
      "cap must reduce to a plain stride of effectiveStride(n)")
    assert(capped.length <= 16,
      s"dense-id centroid count ${capped.length} exceeds the cap")
    assert(capped.nonEmpty)
  }

  test("capped k-means: centroid count bounded, bitwise deterministic " +
      "across partitionings, and capped full-probe IVF still equals " +
      "brute force row-for-row") {
    val s = initSpark()
    import s.implicits._
    // the clustered fixture from the rank-contract test: ties at 4 dp
    // are exactly where a capped-vs-uncapped contract drift would show
    def unif(h: Int): Double = ((h & 0x7fffffff) + 0.5) / 2147483648.0
    def gauss(seed: (Int, Int, Int)): Double = {
      val h1 = scala.util.hashing.MurmurHash3.productHash(seed)
      val h2 = scala.util.hashing.MurmurHash3.productHash((seed, 7))
      math.sqrt(-2.0 * math.log(unif(h1))) *
        math.cos(2.0 * math.Pi * unif(h2))
    }
    val emb = (0L until 500L).map { id =>
      val c = (id % 5).toInt
      (id, Array.tabulate(16)(j =>
        (gauss((c, j, 1)) + 0.02 * gauss((id.toInt, j, 2))).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    def km(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
      Similarity.kMeansCentroids(df, stride = 1, iters = 2,
          maxCentroids = 10)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
    val a = km(emb.repartition(7))
    val b = km(emb.coalesce(1))
    assert(a === b, "capped k-means must stay bitwise deterministic")
    assert(a.length <= 10, s"k-means kept ${a.length} centroids, cap 10")
    // capped IVF at full probe = brute force (the unified rank
    // contract survives the cap)
    val q = emb.where(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, k = 5)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val capIvf = Similarity.ivfTopK(emb, q, k = 5, stride = 1,
        nProbe = 10, maxCentroids = 10)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(capIvf === bf,
      "capped full-probe IVF must equal brute force exactly")
  }

  test("weighted quantizedSumCount equals the unweighted aggregate " +
      "over the expanded multiset (the contraction lemma, unit form)") {
    val s = initSpark()
    import s.implicits._
    val rnd = new scala.util.Random(42)
    // ragged vectors with nulls, negatives, exact halves (the
    // half-away-from-zero rounding edge), and multiplicities 1..5
    val distinctRows = (0 until 25).map { i =>
      val dim = 1 + rnd.nextInt(6)
      val vec = Seq.tabulate(dim) { j =>
        if (rnd.nextInt(8) == 0) None
        else Some((rnd.nextInt(2001) - 1000) / 128.0f) // exact halves at scale
      }
      (vec, 1L + rnd.nextInt(5))
    }
    val weighted = distinctRows.toDF("v", "w")
      .agg(graft.expr.VectorAgg
        .quantizedSumCountWeighted(col("v"), (1L << 24).toDouble,
          col("w")).as("sc"))
      .select(col("sc.sums"), col("sc.counts")).head()
    val expanded = distinctRows
      .flatMap { case (v, w) => Seq.fill(w.toInt)(Tuple1(v)) }
      .toDF("v").repartition(5)
      .agg(graft.expr.VectorAgg
        .quantizedSumCount(col("v"), (1L << 24).toDouble).as("sc"))
      .select(col("sc.sums"), col("sc.counts")).head()
    assert(weighted.getSeq[Long](0) === expanded.getSeq[Long](0))
    assert(weighted.getSeq[Long](1) === expanded.getSeq[Long](1))
  }

  test("duplication-contracted k-means is bit-identical to the raw-row " +
      "Lloyd (weighted fixed-point sums = m copies exactly)") {
    val s = initSpark()
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    def unif(h: Int): Double = ((h & 0x7fffffff) + 0.5) / 2147483648.0
    // 40 distinct directions, each replicated 1..7 times (ids dense so
    // the stride sampling picks a deterministic mix of replicas), plus
    // a ragged short vector and a null-element vector — the per-
    // coordinate-support semantics must survive contraction too
    val rows = (0L until 160L).map { id =>
      val dir = (id % 40).toInt
      (id, Array.tabulate(8)(j => (unif(
        scala.util.hashing.MurmurHash3.productHash((dir, j))) - 0.5)
        .toFloat).toSeq.map(Option(_)))
    } ++ Seq(
      (200L, Seq(Option(0.3f), Option(-0.2f))), // short vector
      (201L, Seq(Option(0.3f), Option(-0.2f))), // its exact duplicate
      (202L, Seq(Option(0.1f), None, Option(0.4f))) // null element
    )
    val emb = rows.toDF("vec_id", "embedding")
    val (stride, iters, maxC) = (3, 2, 12)
    val got = Similarity.kMeansCentroids(emb, stride, iters,
        maxCentroids = maxC)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    // the raw-row Lloyd, inlined with the pre-round-16 plan's exact
    // algebra: assignment via the public assignToCentroids, unweighted
    // quantized sums, the same empty-cluster / per-coordinate-support
    // retention and descale order
    val scale = (1L << 24).toDouble
    var cents: Seq[(Long, Seq[Float])] =
      Similarity.sampleCentroids(emb, stride, maxCentroids = maxC)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val dim = cents.head._2.length
    (0 until iters).foreach { _ =>
      val centsDf = cents.toDF("centroid_id", "centroid_vec")
        .select(col("centroid_id"), col("centroid_vec")
          .cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)).as("centroid_vec"))
      val centMap = cents.toMap
      val means = Similarity.assignToCentroids(emb, centsDf)
        .where(col("centroid_id").isNotNull)
        .groupBy("centroid_id")
        .agg(graft.expr.VectorAgg
          .quantizedSumCount(col("embedding"), scale).as("sc"))
        .select(col("centroid_id"), col("sc.sums"), col("sc.counts"))
        .collect()
        .map { r =>
          val cid = r.getLong(0)
          val sums = r.getSeq[Long](1); val counts = r.getSeq[Long](2)
          val old = centMap.getOrElse(cid, Seq.fill(dim)(0.0f))
          (cid, (0 until dim).map { i =>
            if (i >= counts.length || counts(i) == 0L) old(i)
            else (sums(i) / scale / counts(i)).toFloat
          }: Seq[Float])
        }.toMap
      cents = cents.map { case (cid, old) =>
        (cid, means.getOrElse(cid, old)) }
    }
    val legacy = cents.sortBy(_._1)
    assert(got === legacy,
      "contracted k-means diverged from the raw-row Lloyd")
    // the census verdict is ROUTING-ONLY (round 17: the public entry
    // self-censuses via a free-rider observation on the init sampling
    // scan, and this corpus's 74% duplicated mass clears the
    // contraction floor): forcing either path on the same duplicated
    // corpus must be bit-identical — a wrong/stale/approximate
    // verdict may cost iteration-input shape, never centroids
    def forced(dups: Option[Long]) =
      Similarity.kMeansCentroidsCensused(emb, stride, iters,
          "vec_id", "embedding", maxC, knownDupRows = dups)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
    assert(forced(Some(0L)) === got, "forced raw path diverged")
    assert(forced(Some(99L)) === got, "forced contracted path diverged")
  }

  test("k-means self-census rides the init sampling scan: the stride " +
      "filter stays above CollectMetrics, so the observation sees " +
      "every row, not the sample") {
    val s = initSpark()
    import s.implicits._
    val emb = (0L until 97L).map(id => (id, Seq(id.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val obs = org.apache.spark.sql.Observation()
    val watched = emb.observe(obs,
      count(when(col("embedding").isNotNull, lit(1))).as("nb"),
      approx_count_distinct(when(col("embedding").isNotNull,
        xxhash64(col("embedding"))), 0.02).as("andg"))
    val sampled = Similarity.sampleCentroidsOver(
      watched, emb, stride = 10, "vec_id", "embedding", 1000)
    // 0,10,...,90 pass the stride filter
    assert(sampled.collect().length === 10)
    // if Catalyst pushed the filter below CollectMetrics, the census
    // would read 10 — the zero-job contraction verdict depends on it
    // seeing the FULL corpus
    assert(obs.get("nb") === 97L)
    // dup-free corpus: the distinct estimate sits within the HLL band
    // of nb, far under the contraction floor (nb/10 + 64)
    val andg = obs.get("andg").asInstanceOf[Long]
    assert(97L - andg <= 97L / 10L + 64L)
  }

  test("capped SemDedup: duplicate recall unchanged by the cap " +
      "(planted near-identical pairs are found at capped k)") {
    val s = initSpark()
    import s.implicits._
    // 200 base vectors + 20 planted eps-duplicates of the first 20
    def unif(h: Int): Double = ((h & 0x7fffffff) + 0.5) / 2147483648.0
    val base = (0L until 200L).map { id =>
      (id, Array.tabulate(16)(j => (unif(
        scala.util.hashing.MurmurHash3.productHash((id, j))) - 0.5)
        .toFloat).toSeq)
    }
    val dups = (0L until 20L).map { id =>
      (1000L + id, base(id.toInt)._2.map(v => v * 1.000001f).toSeq)
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val keep = graft.operators.SemDedup.semDedup(emb, eps = 0.99,
        stride = 1, iters = 1, maxCentroids = 8)
      .where(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    // every planted duplicate must be dropped (its lower-id original
    // shares the cluster: identical direction => same nearest centroid)
    assert(keep.toSeq === (0L until 20L).map(1000L + _),
      s"capped SemDedup missed planted duplicates: ${keep.toSeq}")
  }
}
