package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-13 duplication-adaptive contraction for the three exact pair
  * emitters (q21 jaccardPairs, q23 simhashPairs, q44
  * embeddingNearDupPairsPortable) — the q68/q115 census pattern
  * generalized by Dedup.adaptiveSelfPairs. Each operator is pinned
  * three ways: bit-identity against an INDEPENDENT uncontracted
  * reference on duplicated corpora (the contraction path), the
  * repeated-id gate's legacy-plan signature, and cache hygiene
  * (dup-free corpora pin nothing; the slot keeps repeat invocations
  * flat). */
class AdaptivePairsSpec extends SparkSuite {

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val variant = // near-dup of base: differs in the last token
    "alpha beta gamma delta epsilon zeta eta theta iota lambda"
  private val cold =
    "totally different words here entirely unrelated content"

  /** Dup classes that are near-dups of each other, interleaved member
    * ids (re-canonicalization must hold), a cold doc, null/empty. */
  private def dupCorpus = {
    val s = initSpark()
    import s.implicits._
    Seq(
      (5L, base), (100L, base), // class A
      (6L, variant), (50L, variant), // class B
      (7L, cold),
      (10L, null.asInstanceOf[String]), (12L, ""))
      .toDF("doc_id", "text").repartition(5)
  }

  // ---- q21: exact jaccard ----

  test("jaccardPairs is duplication-adaptive: contraction + re-expansion " +
      "equals the independent (uncontracted) capped pipeline bit-for-bit " +
      "on duplicated corpora; intra 1.0; cross lifts complete") {
    val docs = dupCorpus
    // jaccardPairsCapped with a never-binding cap is the same exact
    // semantics through a DIFFERENT, uncontracted pipeline (its
    // uncapped==jaccardPairs equivalence is pinned in
    // DedupSimilaritySpec) — an independent reference now that
    // jaccardPairs itself contracts.
    Seq(0.3, 0.6).foreach { t =>
      val adaptive = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val ref = Dedup.jaccardPairsCapped(docs, "doc_id", "text", 3, t,
          maxDocFreq = 1000000)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(adaptive === ref,
        s"adaptive jaccardPairs diverges from the uncontracted " +
          s"reference at t=$t")
    }
    val m = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(m((5L, 100L)) === 1.0 && m((6L, 50L)) === 1.0,
      s"intra-class pairs must score exactly 1.0: $m")
    assert(Set((5L, 6L), (5L, 50L), (6L, 100L), (50L, 100L))
      .forall(m.contains), s"cross-class expansion incomplete: $m")
    assert(!m.keySet.exists(p => Set(7L, 10L, 12L)(p._1) ||
      Set(7L, 10L, 12L)(p._2)),
      s"cold/null/empty docs must never pair: $m")
    // all-dup tier (nSuspects == n): routing joins skipped, everything
    // grouped — must still match the uncontracted reference
    val s = initSpark()
    import s.implicits._
    val allDup = (0L until 20L).map(i =>
        (i, if (i < 10) base else variant))
      .toDF("doc_id", "text").repartition(5)
    val a = Dedup.jaccardPairs(allDup, "doc_id", "text", 3, 0.6)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val r = Dedup.jaccardPairsCapped(allDup, "doc_id", "text", 3, 0.6,
        maxDocFreq = 1000000)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a === r, "all-dup tier diverges from the uncontracted " +
      "reference")
  }

  test("jaccardPairs repeated-id gate keeps the legacy co-occurrence " +
      "plan verbatim (per-occurrence multiplicity signature)") {
    val s = initSpark()
    import s.implicits._
    // Two rows share id=5. The legacy plan's per-shingle member lists
    // contain id 5 TWICE, so the (5,6) group double-counts shared
    // shingles (inter = 2*overlap — a score the true J formula can
    // never reach for this fixture) and emits ONE grouped row; the
    // contraction would instead lift the rep pair through a
    // two-occurrence membership list, emitting TWO rows with the true
    // J. Exactly one inflated row == the legacy plan ran.
    val dup = Seq((5L, base), (5L, base), (6L, variant))
      .toDF("doc_id", "text").repartition(3)
    val rows = Dedup.jaccardPairs(dup, "doc_id", "text", 3, 0.6)
      .where(col("id_a") === 5L && col("id_b") === 6L).collect()
    assert(rows.length === 1,
      s"repeated-id input must keep the legacy plan (one grouped row " +
        s"per pair), got ${rows.toSeq}")
    assert(rows.head.getDouble(2) > 1.0,
      s"legacy double-counted score expected (> 1.0 signature), got " +
        s"${rows.head.getDouble(2)}")
  }

  test("jaccardPairs mega-class re-expansion past IntraExplodeCap " +
      "streams through the rep-keyed self-join (counts exact)") {
    val s = initSpark()
    import s.implicits._
    val n = Dedup.IntraExplodeCap + 6 // forces the bigIntra branch
    val docs = ((0 until n).map(i => (i.toLong, base)) :+
        (900000L, variant))
      .toDF("doc_id", "text").repartition(7)
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .persist()
    try {
      val intra = out.where(col("jaccard") === 1.0).count()
      assert(intra === n.toLong * (n - 1) / 2,
        s"mega-class intra pair count wrong: $intra")
      val cross = out.where(col("jaccard") < 1.0).count()
      assert(cross === n.toLong, // every clique member pairs the variant
        s"cross lift must cover every member: $cross")
    } finally { out.unpersist(); () }
  }

  test("jaccardPairs rejects thresholds outside (0, 1] (contraction " +
      "bit-identity domain)") {
    val docs = dupCorpus
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 1.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 1.5)
    }
  }

  // ---- q23: simhash ----

  test("simhashPairs is duplication-adaptive: equals a brute-force " +
      "all-pairs hamming reference on duplicated corpora; intra " +
      "hamming 0; int schema preserved") {
    val s = initSpark()
    val docs = dupCorpus
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
    assert(out.schema("hamming").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "contraction union must not widen the hamming column")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute force from the operator's own public signer
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 7
    } yield (a, b) -> h).toMap
    assert(got === expected,
      s"adaptive simhashPairs diverges from brute force:\n got " +
        s"$got\n exp $expected")
    assert(got((5L, 100L)) === 0 && got((6L, 50L)) === 0,
      "identical docs must emit hamming 0")
  }

  test("simhashPairs repeated-id gate keeps the legacy banded plan " +
      "(no self-pair row — the contraction's intra emission would " +
      "add one)") {
    val s = initSpark()
    import s.implicits._
    // third row shares the TEXT (signature identical, so banding
    // always pairs it) but not the id — proximity-free signature
    val dup = Seq((5L, base), (5L, base), (7L, base))
      .toDF("doc_id", "text").repartition(3)
    val rows = Dedup.simhashPairs(dup, "doc_id", "text", 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!rows.contains((5L, 5L)),
      s"legacy plan never emits self pairs; contraction leaked: $rows")
    assert(rows.count(_ == (5L, 7L)) === 1,
      s"legacy candidate distinct() emits one (5,7) row: $rows")
  }

  test("simhashPairs rejects radii outside 0..7") {
    val docs = dupCorpus
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", -1)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", 8)
    }
  }

  // ---- q22: fast-signer MinHash-LSH (routed round 14) ----

  /** Uncontracted reference for minhashLshPairs: the same banding
    * pipeline built inline from the operator's public signer — no
    * contraction anywhere (the q44-test pattern). */
  private def lshReference(docs: org.apache.spark.sql.DataFrame,
      shingleN: Int, numHashes: Int, bands: Int) = {
    val rowsPerBand = numHashes / bands
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
        shingleN, numHashes)
      .where(size(col("sig")) === numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))
          .as("bucket"))
    }
    val banded = sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val matches = size(filter(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y), b => b))
    cand.join(sig.select(col("id").as("id_a"), col("sig").as("a_sig")),
        "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("b_sig")),
        "id_b")
      .withColumn("est_jaccard",
        round(matches.cast("double") / numHashes + 1e-9, 4))
      .select("id_a", "id_b", "est_jaccard")
  }

  test("minhashLshPairs is duplication-adaptive: contraction + " +
      "re-expansion equals the inline uncontracted banding pipeline " +
      "bit-for-bit on duplicated corpora; intra est 1.0; all-dup tier") {
    val docs = dupCorpus
    val adaptive = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ref = lshReference(docs, 3, 16, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(adaptive === ref,
      s"adaptive minhashLshPairs diverges from the uncontracted " +
        s"reference:\n got $adaptive\n exp $ref")
    val m = adaptive.map(t => (t._1, t._2) -> t._3).toMap
    assert(m((5L, 100L)) === 1.0 && m((6L, 50L)) === 1.0,
      s"intra-class pairs must estimate exactly 1.0: $m")
    // all-dup tier (nSuspects == n): group-all branch
    val s = initSpark()
    import s.implicits._
    val allDup = (0L until 20L).map(i =>
        (i, if (i < 10) base else variant))
      .toDF("doc_id", "text").repartition(5)
    val a = Dedup.minhashLshPairs(allDup, "doc_id", "text", 3, 16, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val r2 = lshReference(allDup, 3, 16, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a === r2,
      "all-dup tier diverges from the uncontracted reference")
  }

  test("minhashLshPairs repeated-id gate keeps the uncontracted banded " +
      "plan (no self pair; occurrence fan-out collapses in the distinct)") {
    val s = initSpark()
    import s.implicits._
    // two rows share id=5 AND the text (identical signature, so the
    // banding always candidates them against id 7). The gate must keep
    // the UNCONTRACTED plan: engaged contraction would put both id-5
    // rows in one class and emit an intra (5,5) self-pair. Since the
    // round-18 inline verify, the uncontracted plan computes
    // est_jaccard in the band join and dedups (id_a, id_b, est), so
    // the id-5 occurrence fan-out the old post-distinct verify joins
    // produced (two identical (5,7) rows) collapses to one row.
    val dup = Seq((5L, base), (5L, base), (7L, base))
      .toDF("doc_id", "text").repartition(3)
    val rows = Dedup.minhashLshPairs(dup, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!rows.contains((5L, 5L)),
      s"uncontracted plan never emits self pairs; contraction leaked: $rows")
    assert(rows === Seq((5L, 7L)),
      s"uncontracted inline-verify plan emits the deduped pair once: $rows")
  }

  // ---- q93: portable MinHash-LSH (routed round 14) ----

  /** Uncontracted reference for minhashLshPairsPortable: the same
    * bkey banding + matching-count verify built inline from the
    * operator's public relational signer. */
  private def portableLshReference(docs: org.apache.spark.sql.DataFrame,
      bands: Int) = {
    val k = 16 // PortableMinhashCoeffs.length, part of the contract
    val rows = k / bands
    val sig = Dedup.minhashSignaturesPortable(docs, "doc_id", "text", 3)
    val banded = sig
      .withColumn("band", floor(col("j") / rows).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("minhash")))),
        s => s.getField("minhash").cast("string")), ",").as("bkey"))
    val cand = banded.as("a")
      .join(banded.as("b"), Seq("band", "bkey"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sa = sig.select(col("id").as("id_a"), col("j"),
      col("minhash").as("ma"))
    val sb = sig.select(col("id").as("id_b"), col("j"),
      col("minhash").as("mb"))
    cand.join(sa, "id_a")
      .join(sb, Seq("id_b", "j"))
      .groupBy("id_a", "id_b")
      .agg(count(when(col("ma") === col("mb"), 1)).as("matches"))
      .select(col("id_a"), col("id_b"),
        round(col("matches").cast("double") / k + 1e-9, 4)
          .as("est_jaccard"))
  }

  test("minhashLshPairsPortable is duplication-adaptive: equals the " +
      "inline uncontracted bkey pipeline bit-for-bit on duplicated " +
      "corpora; intra est 1.0; all-dup tier") {
    val docs = dupCorpus
    val adaptive = Dedup.minhashLshPairsPortable(docs, "doc_id", "text",
        n = 3, bands = 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ref = portableLshReference(docs, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(adaptive === ref,
      s"adaptive minhashLshPairsPortable diverges from the " +
        s"uncontracted reference:\n got $adaptive\n exp $ref")
    val m = adaptive.map(t => (t._1, t._2) -> t._3).toMap
    assert(m((5L, 100L)) === 1.0 && m((6L, 50L)) === 1.0,
      s"intra-class pairs must estimate exactly 1.0: $m")
    val s = initSpark()
    import s.implicits._
    val allDup = (0L until 20L).map(i =>
        (i, if (i < 10) base else variant))
      .toDF("doc_id", "text").repartition(5)
    val a = Dedup.minhashLshPairsPortable(allDup, "doc_id", "text", 3, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val r2 = portableLshReference(allDup, 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a === r2,
      "all-dup tier diverges from the uncontracted reference")
  }

  test("minhashLshPairsPortable repeated-id gate keeps the uncontracted " +
      "banded plan (no self pair; each occurrence bands individually)") {
    val s = initSpark()
    import s.implicits._
    // two rows share id=5 and the text. The gate must keep the
    // UNCONTRACTED plan: engaged contraction would class both id-5
    // rows together and emit an intra (5,5) self-pair. Since round
    // 18's row-local banding, each occurrence bands individually (the
    // old relational groupBy(id, band) merged both occurrences' sig
    // rows into one 2k-value bkey that matched NOTHING — a doubled doc
    // silently lost every pair), so the uncontracted plan now emits
    // the genuine (5,7) candidate once (the distinct collapses the
    // occurrence fan-out).
    val dup = Seq((5L, base), (5L, base), (7L, base))
      .toDF("doc_id", "text").repartition(3)
    val rows = Dedup.minhashLshPairsPortable(dup, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!rows.contains((5L, 5L)),
      s"uncontracted plan never emits self pairs; contraction leaked: $rows")
    assert(rows === Seq((5L, 7L)),
      s"uncontracted row-local banding emits the deduped pair once: $rows")
  }

  // ---- q44: portable embedding cosine ----

  test("embeddingNearDupPairsPortable is duplication-adaptive: equals " +
      "the bucket-local brute force from the same signer; intra cos " +
      "exactly 1.0") {
    val s = initSpark()
    val docs = dupCorpus
    val got = Dedup.embeddingNearDupPairsPortable(
        docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // uncontracted reference: the same signer + the same bucket-local
    // candidate semantics, built inline (sig-equality self-join with
    // the exact integer-dot cosine) — no contraction anywhere
    val sigd = docs.select(col("doc_id").as("id"),
        Dedup.portableEmbUdf(col("text")).as("e"))
      .select(col("id"), col("e.sig").as("sig"), col("e.vec").as("vec"),
        col("e.norm2").as("norm2"))
      .where(col("norm2") > 0L)
    val expected = sigd.as("a").join(sigd.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(aggregate(zip_with(col("a.vec"), col("b.vec"),
            (x, y) => x * y), lit(0L), (acc, x) => acc + x)
          .cast("double")
          / (sqrt(col("a.norm2")) * sqrt(col("b.norm2"))) + 1e-9, 4)
          .as("cos"))
      .where(col("cos") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === expected,
      s"adaptive q44 diverges from the uncontracted reference:\n " +
        s"got $got\n exp $expected")
    assert(got((5L, 100L)) === 1.0 && got((6L, 50L)) === 1.0,
      s"intra-class cosines must be exactly 1.0: $got")
  }

  test("embeddingNearDupPairsPortable repeated-id gate keeps the " +
      "legacy bucket join (per-occurrence multiplicity, no self pair)") {
    val s = initSpark()
    import s.implicits._
    // third row shares the TEXT (vector identical, cos exactly 1.0,
    // same LSH bucket by construction) but not the id
    val dup = Seq((5L, base), (5L, base), (7L, base))
      .toDF("doc_id", "text").repartition(3)
    val rows = Dedup.embeddingNearDupPairsPortable(
        dup, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!rows.contains((5L, 5L)),
      s"legacy plan never emits self pairs; contraction leaked: $rows")
    assert(rows.count(_ == (5L, 7L)) === 2,
      s"legacy bucket join emits one row per id-5 OCCURRENCE: $rows")
  }

  test("embeddingNearDupPairsPortable rejects thresholds above 1.0") {
    val docs = dupCorpus
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsPortable(docs, "doc_id", "text", 1.01)
    }
  }

  test("randomized corpora: adaptive jaccardPairs equals the " +
      "uncontracted capped reference across duplication patterns, " +
      "nulls, empties, and thresholds (seeded, 6 draws)") {
    val s = initSpark()
    import s.implicits._
    val rnd = new scala.util.Random(1313)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): String =
      (0 until 4 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    (1 to 6).foreach { draw =>
      // distinct base docs, then a random duplication pattern: some
      // docs replicated 2-9x, plus nulls and empties sprinkled in
      val bases = (0 until 12).map(_ => doc()).distinct
      var id = 0L
      val rows = bases.flatMap { t =>
        val copies = 1 + (if (rnd.nextBoolean()) rnd.nextInt(8) else 0)
        (0 until copies).map { _ => id += 1; (id, t) }
      } ++ (0 until rnd.nextInt(3)).map { _ =>
        id += 1; (id, if (rnd.nextBoolean()) null else "")
      }
      val docs = rnd.shuffle(rows).toDF("doc_id", "text")
        .repartition(1 + rnd.nextInt(6))
      val t = Seq(0.25, 0.5, 0.8)(rnd.nextInt(3))
      val adaptive = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val ref = Dedup.jaccardPairsCapped(docs, "doc_id", "text", 3, t,
          maxDocFreq = 1000000)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(adaptive === ref,
        s"draw $draw (t=$t) diverged;\n adaptive=${adaptive.take(20)}" +
          s"\n ref=${ref.take(20)}")
    }
  }

  test("CROSS-CLASS repeated id keeps the legacy plan (the round-14 " +
      "fusion counterexample: per-class uniqueness is NOT enough — a " +
      "repeated id spanning two census classes would lift a (x, x) " +
      "self-pair; the GLOBAL gate must catch it)") {
    val s = initSpark()
    import s.implicits._
    // id 5 carries base (duplicated with id 100 → a suspect class)
    // AND variant (cold) — ids are unique WITHIN each census class,
    // so only the global count_distinct gate can reject this corpus
    val docs = Seq((5L, base), (100L, base), (5L, variant), (7L, cold))
      .toDF("doc_id", "text").repartition(3)
    // frame-join operators: legacy candidate joins filter a.id < b.id,
    // so NO self-pair can appear unless the contraction's intra
    // emission leaked through the gate
    Seq(
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4),
      Dedup.simhashPairs(docs, "doc_id", "text", 7)).foreach { out =>
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!pairs.contains((5L, 5L)),
        s"a (5,5) self-pair means the contraction ran despite the " +
          s"cross-class repeated id: ${pairs.toSeq}")
    }
    // jaccard's legacy emitter works over per-shingle member LISTS
    // (its own documented degenerate algebra — the per-occurrence
    // double-count of the existing repeated-id test), so the gate
    // signature is that algebra verbatim: ONE grouped (5,100) row at
    // a double-counted score no true Jaccard can reach. A contraction
    // leak would instead lift rep pairs through class membership and
    // emit true J <= 1.0 values.
    val a = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .where(col("id_a") === 5L && col("id_b") === 100L)
      .collect().map(r => r.getDouble(2)).toSeq
    assert(a.length === 1 && a.head > 1.0,
      s"legacy double-counted (5,100) row expected (one row, " +
        s"score > 1.0), got $a")
  }

  test("randomized corpora: adaptive minhashLshPairs equals the inline " +
      "uncontracted banding pipeline across duplication patterns " +
      "(seeded, 4 draws)") {
    val s = initSpark()
    import s.implicits._
    val rnd = new scala.util.Random(1414)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def doc(): String =
      (0 until 5 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    (1 to 4).foreach { draw =>
      val bases = (0 until 10).map(_ => doc()).distinct
      var id = 0L
      val rows = bases.flatMap { t =>
        val copies = 1 + (if (rnd.nextBoolean()) rnd.nextInt(7) else 0)
        (0 until copies).map { _ => id += 1; (id, t) }
      } ++ (0 until rnd.nextInt(3)).map { _ =>
        id += 1; (id, if (rnd.nextBoolean()) null else "")
      }
      val docs = rnd.shuffle(rows).toDF("doc_id", "text")
        .repartition(1 + rnd.nextInt(5))
      val adaptive = Dedup.minhashLshPairs(docs, "doc_id", "text",
          3, 16, 4)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val ref = lshReference(docs, 3, 16, 4)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(adaptive === ref,
        s"draw $draw diverged;\n adaptive=${adaptive.take(15)}" +
          s"\n ref=${ref.take(15)}")
    }
  }

  // ---- cache hygiene across all three ----

  test("adaptive pair emitters pin nothing on dup-free corpora and " +
      "hold the pinned-RDD count flat across invocations on " +
      "duplicated ones") {
    val s = initSpark()
    val real = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // settle any caches owned by earlier tests' operators
    Dedup.jaccardPairs(real, "doc_id", "text", 3, 0.6).count()
    Dedup.simhashPairs(real, "doc_id", "text", 7).count()
    Dedup.embeddingNearDupPairsPortable(real, "doc_id", "text").count()
    Dedup.minhashLshPairs(real, "doc_id", "text", 3, 16, 4).count()
    Dedup.minhashLshPairsPortable(real, "doc_id", "text", 3, 4).count()
    Dedup.jaccardPairsPrefix(real, "doc_id", "text", 3, 0.6).count()
    Dedup.jaccardSpanningEdges(real, "doc_id", "text", 3, 0.6, 4096)
      .count()
    val before = s.sparkContext.getPersistentRDDs.size
    // sf0.001 documents are all-distinct: the dup-free path must not
    // persist anything new (the q22/q93 cores each own ONE signature
    // cache by design, and q68 its shingle-set cache, swapped per
    // invocation — flat, not zero)
    Dedup.jaccardPairs(real, "doc_id", "text", 3, 0.6).count()
    Dedup.simhashPairs(real, "doc_id", "text", 7).count()
    Dedup.embeddingNearDupPairsPortable(real, "doc_id", "text").count()
    Dedup.minhashLshPairs(real, "doc_id", "text", 3, 16, 4).count()
    Dedup.minhashLshPairsPortable(real, "doc_id", "text", 3, 4).count()
    Dedup.jaccardPairsPrefix(real, "doc_id", "text", 3, 0.6).count()
    Dedup.jaccardSpanningEdges(real, "doc_id", "text", 3, 0.6, 4096)
      .count()
    assert(s.sparkContext.getPersistentRDDs.size === before,
      "dup-free invocations must pin no caches")
    // duplicated corpus: caches pin, and the module slot releases the
    // previous invocation's on each call — count stays flat
    val docs = dupCorpus
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6).count()
    val afterFirst = s.sparkContext.getPersistentRDDs.size
    assert(afterFirst > before, "contraction path should persist")
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6).count()
    assert(s.sparkContext.getPersistentRDDs.size === afterFirst,
      "slot must release the previous invocation's caches")
    // the census-routed Jaccard operators on the same duplicated
    // corpus: each call pins, the next call releases it
    def others(): Unit = {
      Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.6).count()
      Dedup.jaccardSpanningEdges(docs, "doc_id", "text", 3, 0.6, 4096)
        .count()
    }
    others()
    val afterOthers = s.sparkContext.getPersistentRDDs.size
    assert(afterOthers > afterFirst, "contraction paths should persist")
    others()
    assert(s.sparkContext.getPersistentRDDs.size === afterOthers,
      "slots must release the previous invocations' caches")
  }

  // ---- the census router ----

  test("censusRoute picks each route from the census alone: dup-free " +
      "and repeated-id exits, IN-set, broadcast and group-all tiers") {
    val s = initSpark()
    import s.implicits._
    val slot = graft.operators.ReleaseSlot()
    // routes the census frame itself, so hot/cold are its own rows
    def route(rows: Seq[(Long, Long)], gated: Boolean = true) = {
      val cen = rows.toDF("id", "dg").repartition(3)
      Dedup.censusRoute(cen, "id", gated, slot.pins(s))(_ => cen)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    def contract(r: Dedup.Route) = r match {
      case Dedup.Contract(hot, cold, tier) => (ids(hot), ids(cold), tier)
      case other => fail(s"expected a contraction route, got $other")
    }
    assert(route((0L until 50L).map(i => (i, i))) === Dedup.DupFree)
    // ids 1 and 1 share a digest class: repeated ids exit when gated,
    // and contract when not (a caller keyed by id, like spanning edges)
    val repeated = Seq((1L, 7L), (1L, 7L), (2L, 8L))
    assert(route(repeated) === Dedup.RepeatedIds)
    assert(contract(route(repeated, gated = false)) ===
      ((Set(1L), Set(2L), Dedup.InSet)))
    // a few exact-dup pairs among distinct docs: the IN-set tier
    val few = (0L until 6L).map(i => (i, i / 2)) ++
      (100L until 140L).map(i => (i, i))
    assert(contract(route(few)) ===
      (((0L until 6L).toSet, (100L until 140L).toSet, Dedup.InSet)))
    // more suspects than the IN-set bound, not every doc: broadcast
    assert(Dedup.SpanningInSetSuspects < 1200)
    val many = (0L until 1200L).map(i => (i, i / 2)) ++
      (5000L until 5040L).map(i => (i, i))
    assert(contract(route(many)) ===
      (((0L until 1200L).toSet, (5000L until 5040L).toSet,
        Dedup.BroadcastIds)))
    // every doc a suspect: group all, nothing cold
    val all = (0L until 40L).map(i => (i, i / 4))
    assert(contract(route(all)) ===
      (((0L until 40L).toSet, Set.empty[Long], Dedup.GroupAll)))
    slot.pins(s)
  }
}
