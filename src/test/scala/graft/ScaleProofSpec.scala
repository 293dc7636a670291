package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.ScaleProof

/** The scale harness's replication must behave like a LARGER CORPUS,
  * not like duplication: row counts multiply by the factor, join
  * fan-out stays linear (every replica joins exactly its own replica —
  * the naive no-offset union would fan out quadratically), dims stay
  * 1x, and key domains remain referentially closed. */
class ScaleProofSpec extends SparkSuite {

  test("scaleTables: linear row counts, linear join fan-out, " +
      "closed foreign keys, dims untouched") {
    val s = initSpark()
    val base = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("scaleproof").toString
    val factor = 3
    ScaleProof.scaleTables(s, base, out, factor)

    def baseT(n: String) = SparkEntry.table(s, base, n)
    def scaledT(n: String) = SparkEntry.table(s, out, n)

    // row counts: facts x factor, dims x 1
    for (t <- Seq("customer", "orders", "lineitem", "documents",
        "events", "embeddings"))
      assert(scaledT(t).count() === baseT(t).count() * factor,
        s"table $t")
    for (t <- Seq("region", "nation"))
      assert(scaledT(t).count() === baseT(t).count(), s"dim $t")

    // join fan-out LINEAR: the orders-customer join grows by exactly
    // the factor (quadratic duplication would give factor^2)
    val baseJoin = baseT("orders").join(baseT("customer"),
      col("o_custkey") === col("c_custkey")).count()
    val scaledJoin = scaledT("orders").join(scaledT("customer"),
      col("o_custkey") === col("c_custkey")).count()
    assert(scaledJoin === baseJoin * factor)

    // referential closure: no dangling o_custkey / l_orderkey
    assert(scaledT("orders").join(scaledT("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti")
      .count() === 0)
    assert(scaledT("lineitem").join(scaledT("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() === 0)

    // keys stay distinct across replicas (offsets never collide)
    assert(scaledT("documents").select("doc_id").distinct().count() ===
      baseT("documents").count() * factor)

    // content is byte-identical per replica: every doc text appears
    // exactly `factor` times -> the dedup tier sees factor-member
    // exact clusters
    val counts = scaledT("documents").groupBy("text").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSet
    assert(counts === Set(factor.toLong))
  }

  test("mutated tier: replica 0 byte-identical, later replicas carry " +
      "deterministic edits scaling with the replica index, ids shifted " +
      "referentially") {
    val spark = initSpark()
    val outDir = Files.createTempDirectory("mutproof").toString
    ScaleProof.scaleDocumentsMutated(spark, "/root/testdata/sf0.001",
      outDir, factor = 4)
    val base = SparkEntry.table(spark, "/root/testdata/sf0.001",
      "documents")
    val scaled = spark.read.parquet(s"$outDir/documents.parquet")
    val n = base.count()
    assert(scaled.count() === 4 * n)
    val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    // replica 0 is byte-identical to the base
    val rep0 = scaled.where(col("doc_id") < off)
      .select(col("doc_id"), col("text"))
    val diff0 = rep0.join(base.select(col("doc_id"),
        col("text").as("orig")), "doc_id")
      .where(col("text") =!= col("orig")).count()
    assert(diff0 === 0L, "replica 0 must be unmutated")
    // replicas 1..3: mutation count grows with the replica index
    // (2% * r substitution rate) and is DETERMINISTIC across runs
    def editRate(r: Int): Double = {
      val rep = scaled
        .where(col("doc_id") >= r * off && col("doc_id") < (r + 1) * off)
        .withColumn("doc_id", col("doc_id") - lit(r * off))
        .select(col("doc_id"), col("text").as("mut"))
      val joined = base.select(col("doc_id"), col("text")).join(rep, "doc_id")
        .select(col("text"), col("mut")).collect()
      val (edits, total) = joined.foldLeft((0, 0)) { case ((e, t), row) =>
        val a = row.getString(0).split(" ")
        val b = row.getString(1).split(" ")
        val pairs = a.zip(b)
        (e + pairs.count { case (x, y) => x != y }, t + pairs.length)
      }
      edits.toDouble / total
    }
    val r1 = editRate(1); val r3 = editRate(3)
    assert(r1 > 0.005 && r1 < 0.04, s"replica-1 rate $r1 should be ~2%")
    assert(r3 > 2 * r1, s"replica-3 rate $r3 should exceed 2x replica-1")
    // determinism: a second materialization produces identical bytes
    val outDir2 = Files.createTempDirectory("mutproof2").toString
    ScaleProof.scaleDocumentsMutated(spark, "/root/testdata/sf0.001",
      outDir2, factor = 4)
    val again = spark.read.parquet(s"$outDir2/documents.parquet")
    assert(scaled.select("doc_id", "text").exceptAll(
      again.select("doc_id", "text")).isEmpty)
  }

  test("autoProbeTargets ranks by the sweep artifact's own warm " +
      "mins, skips timed-out entries, and falls back to scaled_sec " +
      "when no warm pass ran (the probe set cannot drift from the " +
      "outlier set)") {
    val f = Files.createTempFile("sweep", ".json")
    // the harness's own artifact shape: sweep rows, warm rows, summary
    Files.write(f, Seq(
      """[{"query":"q01_a","base_sec":0.1,"scaled_sec":2.0,"ratio":20.0},""",
      """{"query":"q02_b","base_sec":0.1,"scaled_sec":9.0,"ratio":90.0},""",
      """{"query":"q03_c","base_sec":0.1,"scaled_sec":"timeout","ratio":null},""",
      """{"query":"q04_d","base_sec":0.1,"scaled_sec":5.0,"ratio":50.0},""",
      """{"query":"q02_b","sweep_sec":9.0,"warm_reps_sec":[8.0,7.5,7.7],"warm_reps_err":[null,null,null],"warm_min_sec":7.500},""",
      """{"query":"q04_d","sweep_sec":5.0,"warm_reps_sec":[9.9,9.8,9.7],"warm_reps_err":[null,null,null],"warm_min_sec":9.700},""",
      """{"query":"q01_a","sweep_sec":2.0,"warm_reps_sec":[-1.0],"warm_reps_err":["timeout"],"warm_min_sec":-1.000},""",
      """{"metric":"scale_proof","factor":100}]""").mkString("\n")
      .getBytes("UTF-8"))
    // warm rows present: ranked by warm_min_sec (q04 9.7 > q02 7.5);
    // the all-failed warm query (q01, warm -1) falls back to its OWN
    // sweep time (2.0) instead of vanishing — the outlier the probe
    // must not drop; the timed-out sweep row (q03) has no timing
    // anywhere and never ranks
    assert(ScaleProof.autoProbeTargets(f.toString, 2) ===
      Seq("q04_d", "q02_b"))
    assert(ScaleProof.autoProbeTargets(f.toString, 1) === Seq("q04_d"))
    assert(ScaleProof.autoProbeTargets(f.toString, 5) ===
      Seq("q04_d", "q02_b", "q01_a"))
    // no warm rows: fall back to scaled_sec, timeouts skipped
    val f2 = Files.createTempFile("sweep2", ".json")
    Files.write(f2, Seq(
      """[{"query":"q01_a","base_sec":0.1,"scaled_sec":2.0,"ratio":20.0},""",
      """{"query":"q02_b","base_sec":0.1,"scaled_sec":"timeout","ratio":null},""",
      """{"query":"q04_d","base_sec":0.1,"scaled_sec":5.0,"ratio":50.0},""",
      """{"metric":"scale_proof","factor":100}]""").mkString("\n")
      .getBytes("UTF-8"))
    assert(ScaleProof.autoProbeTargets(f2.toString, 5) ===
      Seq("q04_d", "q01_a"))
  }

  test("scale probe's auto set is the committed 100x sweep's top 6, " +
      "all declared queries, with its provenance; names pass through") {
    val (names, source) = ScaleProof.probeSet("auto")
    assert(names.split(",").toSeq ===
      ScaleProof.autoProbeTargets("scale_proof_x100_all.json", 6))
    assert(Bench.selected(Some(names)).size === 6)
    assert(source === ""","probe_source":"auto",""" +
      """"sweep_file":"scale_proof_x100_all.json","top_n":6""")
    assert(ScaleProof.probeSet("q70_jaccard_capped") ===
      (("q70_jaccard_capped", ""","probe_source":"named"""")))
  }

  test("recallJson pins the shared recall accounting: 0.2 bucket " +
      "edges, top-bucket cap at J>=0.8, zero-miss and full-miss " +
      "buckets, keyPrefix rendering") {
    val s = initSpark()
    import s.implicits._
    // one pair per designed bucket: floor(j*5) capped at 4
    val exact = Seq(
      (1L, 2L, 0.25), // bucket 1 (j_lo 0.2)
      (3L, 4L, 0.40), // bucket 2 — edge value lands UP, not down
      (5L, 6L, 0.79), // bucket 3
      (7L, 8L, 0.80), // bucket 4 — the designed operating point
      (9L, 10L, 1.0)  // bucket 4 — floor(5.0) must cap at 4
    ).toDF("id_a", "id_b", "jaccard")
    val cand = Seq((3L, 4L), (7L, 8L), (9L, 10L))
      .toDF("id_a", "id_b").withColumn("hit", lit(1))
    val json = "{" + ScaleProof.recallJson(exact, cand, "t_") + "}"
    val parsed = com.fasterxml.jackson.databind.json.JsonMapper
      .builder().build().readTree(json)
    assert(parsed.get("t_pairs_total").asLong === 5L)
    assert(parsed.get("t_recalled_total").asLong === 3L)
    val buckets = parsed.get("t_recall_buckets")
    assert(buckets.size() === 4, s"4 occupied buckets, got $buckets")
    def bucket(jLo: Double) = (0 until buckets.size()).map(buckets.get)
      .find(b => math.abs(b.get("j_lo").asDouble - jLo) < 1e-9).get
    assert(bucket(0.2).get("recall").asDouble === 0.0) // full miss
    assert(bucket(0.4).get("recall").asDouble === 1.0) // edge went up
    assert(bucket(0.6).get("recall").asDouble === 0.0)
    assert(bucket(0.8).get("pairs").asLong === 2L &&
      bucket(0.8).get("recall").asDouble === 1.0,
      "J=0.80 and J=1.0 must both land in the capped top bucket")
  }

  test("nearDupRecall: exact-dup replicas recall at 1.0 in the top " +
      "bucket and the fragment reports consistent totals") {
    val spark = initSpark()
    val outDir = Files.createTempDirectory("recallproof").toString
    // factor 2, NO mutation beyond replica index 1 (2% edits):
    // J in-corpus spans high buckets only
    ScaleProof.scaleDocumentsMutated(spark, "/root/testdata/sf0.001",
      outDir, factor = 2)
    val frag = ScaleProof.nearDupRecall(spark, outDir)
    assert(frag.contains("\"recall_buckets\""))
    assert(frag.contains("\"recall_overall\""))
    // parse the totals out of the fragment
    val pairs = "\"pairs_total\":(\\d+)".r
      .findFirstMatchIn(frag).get.group(1).toLong
    val recalled = "\"recalled_total\":(\\d+)".r
      .findFirstMatchIn(frag).get.group(1).toLong
    assert(pairs > 0L)
    assert(recalled <= pairs)
    // 2% single-replica edits keep most pairs at J >= 0.8 where
    // bands=4 recall is near-complete
    assert(recalled.toDouble / pairs > 0.5,
      s"high-J corpus should recall most pairs ($recalled/$pairs)")
  }

  test("edit-mutated tier (q115): replica 0 unchanged; every later " +
      "replica is exactly ONE substitution inside the first 20 chars " +
      "(q115's 24-char join window); replicas of one doc pairwise " +
      "distinct; deterministic") {
    val spark = initSpark()
    val outDir = Files.createTempDirectory("editmut").toString
    ScaleProof.scaleDocumentsEditMutated(spark, "/root/testdata/sf0.001",
      outDir, factor = 25)
    val base = SparkEntry.table(spark, "/root/testdata/sf0.001",
      "documents")
    val off = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    val scaled = spark.read.parquet(s"$outDir/documents.parquet")
    assert(scaled.count() === base.count() * 25)
    val joined = scaled
      .withColumn("rep", (col("doc_id") / off).cast("int"))
      .withColumn("base_id", col("doc_id") % off)
      .join(base.select(col("doc_id").as("base_id"),
        col("text").as("orig")), "base_id")
      .select("rep", "text", "orig").collect()
    assert(joined.length === base.count() * 25,
      "every replica must join its base doc")
    joined.foreach { r =>
      val rep = r.getInt(0); val t = r.getString(1); val o = r.getString(2)
      assert(t.length === o.length, "substitution never changes length")
      val diffs = t.zip(o).count { case (a, b) => a != b }
      if (rep == 0) assert(diffs === 0, "replica 0 must be unmutated")
      else {
        assert(diffs === 1, s"replica $rep must differ by EXACTLY one " +
          s"char (edit distance 1, replica pairs <= 2 = q115 tau)")
        val pos = t.zip(o).indexWhere { case (a, b) => a != b }
        assert(pos < 20, s"edit at $pos must sit inside the join window")
      }
    }
    // no two replicas of one doc coincide -> the census cannot
    // contract the clique; the PassJoin blocking carries it
    val collided = scaled.withColumn("base_id", col("doc_id") % off)
      .groupBy("base_id")
      .agg(count_distinct(col("text")).as("d"), count(lit(1)).as("n"))
      .where(col("d") =!= col("n")).count()
    assert(collided === 0L,
      "replicas of one doc must be pairwise distinct strings")
    // determinism across materializations
    val outDir2 = Files.createTempDirectory("editmut2").toString
    ScaleProof.scaleDocumentsEditMutated(spark, "/root/testdata/sf0.001",
      outDir2, factor = 25)
    assert(scaled.select("doc_id", "text").exceptAll(
      spark.read.parquet(s"$outDir2/documents.parquet")
        .select("doc_id", "text")).isEmpty)
  }

  test("editMutateUdf: replicas of one doc stay pairwise distinct far " +
      "past the letter-band range (no band wrap aliasing)") {
    val s = initSpark()
    import s.implicits._
    val text = "a" * 24
    val reps = (0 until 600).map(r => (text, 7L, r)).toDF(
      "text", "doc_id", "rep")
    val out = reps.select(graft.jobs.ScaleProof.editMutateUdf(
        col("text"), col("doc_id"), col("rep")).as("t"))
      .collect().map(_.getString(0))
    assert(out.distinct.length === 600,
      "600 replicas must be 600 distinct strings")
    assert(out.forall(_.length === 24), "substitution preserves length")
    assert(out.count(_ == text) === 1, "only replica 0 is unmutated")
  }

  test("annRecall: q25-vs-q24 fragment reports 5 exact pairs per " +
      "probe and a recall in [0, 1]") {
    val spark = initSpark()
    val frag = "{" + ScaleProof.annRecall(spark, "/root/testdata/sf0.001") + "}"
    val parsed = com.fasterxml.jackson.databind.json.JsonMapper
      .builder().build().readTree(frag)
    val pairs = parsed.get("q25_ann_pairs_total").asLong
    val recalled = parsed.get("q25_ann_recalled_total").asLong
    val recall = parsed.get("q25_ann_recall_at_5").asDouble
    assert(pairs === 50L, "10 probes x k=5 exact pairs")
    assert(recalled >= 0L && recalled <= pairs)
    assert(math.abs(recall - recalled.toDouble / pairs) < 1e-3)
  }

  test("nearDupRecall carries BOTH MinHash signers against one exact " +
      "graph: unprefixed portable fields plus q22_-prefixed fast-" +
      "signer fields") {
    val spark = initSpark()
    val outDir = Files.createTempDirectory("recallq22").toString
    ScaleProof.scaleDocumentsMutated(spark, "/root/testdata/sf0.001",
      outDir, factor = 2)
    val frag = ScaleProof.nearDupRecall(spark, outDir)
    assert(frag.contains("\"recall_buckets\"") &&
      frag.contains("\"q22_recall_buckets\""))
    val p = "\"q22_pairs_total\":(\\d+)".r
      .findFirstMatchIn(frag).get.group(1).toLong
    val p0 = "\"pairs_total\":(\\d+)".r
      .findFirstMatchIn(frag).get.group(1).toLong
    assert(p === p0, "both signers must be measured against the SAME " +
      "exact pair graph")
    val c22 = "\"q22_recalled_total\":(\\d+)".r
      .findFirstMatchIn(frag).get.group(1).toLong
    assert(c22 > 0L && c22 <= p,
      "fast-signer recall must be measured, bounded by the graph")
  }
}
