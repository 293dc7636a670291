package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test decontamination: find evaluation documents that leak into
  * the training corpus through long n-gram overlap — the GPT-3-style
  * contamination check (Brown et al. 2020, appendix C: 13-gram overlap;
  * every serious training-data pipeline runs a form of this before a
  * model ships, which makes it a first-class curation operator, not a
  * one-off audit script).
  *
  * Plan shape at 100 TB: both sides shingle ROW-LOCALLY (Dedup's
  * single-pass UDF, distinct n-grams per doc), then ONE shuffle joins
  * on the shingle and one aggregation counts shared n-grams per
  * (test, train) pair. The test side is tiny compared to the corpus
  * (eval sets are thousands of docs, not billions) — AQE broadcasts it,
  * so the training corpus is scanned once and never shuffled.
  *
  * The quadratic hazard is the same stop-shingle one as exact Jaccard
  * (Dedup.jaccardPairs): an n-gram present in many train docs fans out
  * into that many pairs. With n = 13 boilerplate n-grams are rare by
  * construction (the reason GPT-3 picked 13), and `maxTrainDocFreq`
  * bounds the worst case exactly like the df-capped Jaccard (q70):
  * shingles above the cap are licence blocks / headers whose pairs are
  * noise, and each surviving shingle's work is bounded by the cap.
  */
object Decontaminate {

  /** (test_id, train_id, n_shared) for every test/train pair sharing at
    * least `minShared` distinct `n`-grams. `maxTrainDocFreq` drops
    * shingles present in more than that many TRAIN docs before the join
    * (None = exact). */
  def contaminationPairs(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minShared: Long = 1L,
      maxTrainDocFreq: Option[Long] = None): DataFrame = {
    val tr = Dedup.shingles(train, idCol, textCol, n)
      .withColumnRenamed("id", "train_id")
    val trSide = maxTrainDocFreq match {
      case None => tr
      case Some(cap) =>
        require(cap >= 1, s"doc-freq cap must be positive, got $cap")
        // (unlike intra-corpus Jaccard, cap=1 is NOT vacuous here: a
        // shingle unique to one train doc still pairs with test docs —
        // and uniquely-attributable overlap is the strongest
        // contamination signal.)
        // shingles are distinct per doc, so count(*) = doc frequency
        val df = tr.groupBy("shingle")
          .agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap)
          .select("shingle")
        tr.join(df, "shingle")
    }
    Dedup.shingles(test, idCol, textCol, n)
      .withColumnRenamed("id", "test_id")
      .join(trSide, "shingle")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered form — the same EXACT result as
    * [[contaminationPairs]], with the 100-TB plan: a Bloom filter of
    * the test side's shingles (test/eval sets are thousands of docs —
    * the filter is megabytes) is built driver-side in one action and
    * broadcast; the TRAIN corpus's shingle stream is then prefiltered
    * MAP-SIDE, so the shuffle join only ever carries the tiny candidate
    * slice instead of the full corpus's n-gram stream. Bloom filters
    * have no false negatives, and every false positive dies in the
    * exact join that follows — the output is bit-identical to the
    * exact operator (and shares its oracle), the filter only moves
    * work off the wire.
    *
    * `expectedTestShingles` sizes the filter (overestimate freely: bits
    * scale linearly, ~1.2 MB per million items at fpp 0.01; an
    * UNDERestimate silently degrades fpp toward 1 and the prefilter
    * stops helping — still correct, just slow). The test-side shingle
    * frame is pinned across its two reads (filter build + join), and
    * it and the broadcast filter stay until the next invocation. */
  def contaminationPairsBloom(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minShared: Long = 1L,
      expectedTestShingles: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val te = Dedup.shingles(test, idCol, textCol, n)
      .withColumnRenamed("id", "test_id")
    val pins = lastBloomRelease.pins(te.sparkSession)
    val bloom = pins.pin(te)
      .stat.bloomFilter("shingle", expectedTestShingles, fpp)
    val sc = train.sparkSession.sparkContext
    val bc = sc.broadcast(bloom)
    // unpersist (not destroy): a still-unevaluated previous result can
    // re-fetch an unpersisted broadcast from the driver on demand,
    // where destroy() would fail its tasks — recompute, never wrong
    pins.hold(() => bc.unpersist())
    val mightContain = udf((s: String) => s != null && bc.value.mightContain(s))
    val tr = Dedup.shingles(train, idCol, textCol, n)
      .withColumnRenamed("id", "train_id")
      .where(mightContain(col("shingle")))
    te.join(tr, "shingle")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  private val lastBloomRelease = ReleaseSlot()

  /** The cleaning form: `corpus` minus every document contaminated
    * against `heldOut` (left_anti on the flagged train ids). */
  def removeContaminated(corpus: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      minShared: Long = 1L): DataFrame = {
    val flagged = contaminationPairs(corpus, heldOut, idCol, textCol,
        n, minShared)
      .select(col("train_id").as(idCol)).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
