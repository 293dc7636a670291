package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextClean, TextMetrics}
import graft.operators.{Dedup, Mixing}

/** The full training-corpus curation pipeline as ONE declarative plan —
  * the assembly a 100 TB data-mixing job actually runs, built from the
  * oracled primitives:
  *
  *   quality gates (q71 Gopher rules + q72 repetition thresholds)
  *     -> exact dedup keep-first (q20/q69)
  *     -> stratified mixture sampling (q73)
  *     -> train/val/test assignment (q74)
  *
  * Plan shape: every gate and hash decision is row-local (one scan,
  * whole-stage codegen); the ONLY shuffle is the dedup window on the
  * content fingerprint. Catalyst pushes the quality predicates below
  * the dedup exchange, so junk never shuffles. Near-dup (MinHash) and
  * embedding passes compose after this stage when needed — they are
  * separate jobs by design (their own shuffles, their own cadence).
  */
object Curation {

  /** The shared quality gate (batch AND stream use THIS — the
    * identical-semantics guarantee between the two forms holds by
    * construction, not by parallel edits): Gopher keep + the two
    * repetition thresholds. Long casts: Int products wrap negative on
    * extreme-repetition documents. */
  /** Row-local scrub applied before scoring in BOTH forms: PII
    * redaction (q79) — redact first so quality stats and the dedup
    * fingerprint see the text that will actually ship. The line-level
    * scrubs (C4 q80) compose here too when the corpus has line
    * structure; corpus-global line dedup (q82) is batch-only by nature
    * (needs a census) and runs as its own pass upstream. */
  private def scrubbed(documents: DataFrame, textCol: String): DataFrame =
    documents.withColumn(textCol, TextClean.redactPii(col(textCol)))

  private def qualityGated(documents: DataFrame,
      textCol: String): DataFrame =
    scrubbed(documents, textCol)
      .withColumn("__g", TextMetrics.gopherStruct(col(textCol)))
      .withColumn("__r", TextMetrics.repetitionStats(col(textCol)))
      .where(col("__g.keep") &&
        (col("__r.dup_lines").cast("long") * 10 <=
          col("__r.n_lines").cast("long") * 3) &&
        (col("__r.top2_count").cast("long") *
          col("__r.top2_len").cast("long") * 5 <=
          col("__r.text_chars").cast("long")))
      .drop("__g", "__r")

  /** The shared mixing/split tail — ONE definition so curate and
    * curateWithNearDup cannot fork by parallel edits (same argument as
    * the shared qualityGated). */
  private def mixAndSplit(df: DataFrame, idCol: String,
      stratumCol: String, rates: Map[String, Double],
      trainPct: Double, valPct: Double): DataFrame =
    Mixing.stratifiedSample(df, stratumCol, rates, idCol)
      .withColumn("split",
        Mixing.assignSplit(col(idCol), trainPct, valPct))

  def curate(documents: DataFrame, idCol: String, textCol: String,
      stratumCol: String, rates: Map[String, Double],
      trainPct: Double = 0.8, valPct: Double = 0.1): DataFrame = {
    qualityGated(documents, textCol)
      .transform(df => Dedup.dedupKeepFirst(df, idCol, textCol))
      .transform(df => mixAndSplit(df, idCol, stratumCol, rates,
        trainPct, valPct))
  }

  private val lastNearDupRelease = graft.operators.ReleaseSlot()

  /** `curate` with NEAR-dup collapse: after the exact keep-first pass,
    * near-duplicate clusters (df-capped exact jaccard pairs →
    * connected components) collapse to their min-id survivor before
    * mixing/splitting — the full RefinedWeb-shape chain (quality →
    * exact dedup → fuzzy dedup → mixture) as one call. The near-dup
    * stage carries its own shuffles (pair generation + the component
    * rounds) and is therefore a deliberate opt-in over `curate`, not a
    * silent default.
    *
    * `base` is pinned through a [[graft.operators.ReleaseSlot]] (a
    * persist, never a checkpoint: the RETURNED frame still reads it
    * lazily) across dedupNearDup's three reads (pair generation,
    * component seed, survivor semi-join), so a long-lived session
    * holds at most one corpus copy. */
  def curateWithNearDup(documents: DataFrame, idCol: String,
      textCol: String, stratumCol: String, rates: Map[String, Double],
      nearDupThreshold: Double = 0.8, shingleN: Int = 3,
      maxDocFreq: Int = 1000, maxRounds: Int = 15,
      trainPct: Double = 0.8, valPct: Double = 0.1): DataFrame = {
    val base = qualityGated(documents, textCol)
      .transform(df => Dedup.dedupKeepFirst(df, idCol, textCol))
    lastNearDupRelease.pins(base.sparkSession).pin(base)
    Dedup.dedupNearDup(base, idCol, textCol,
        n = shingleN, threshold = nearDupThreshold,
        maxDocFreq = maxDocFreq, maxRounds = maxRounds)
      .transform(df => mixAndSplit(df, idCol, stratumCol, rates,
        trainPct, valPct))
  }

  /** The STREAMING form of curation for incremental ingestion: the
    * quality gates and hash decisions are stateless row-local
    * predicates (identical semantics to the batch form — same columns,
    * same integer thresholds), and exact dedup becomes the
    * watermark-bounded streaming dedup (state holds one fingerprint
    * per distinct text within the watermark; the batch job remains the
    * authority for cross-watermark dups, the standard lambda split).
    * No mixture sampling here: mixing weights are a corpus-level
    * decision, applied when the batch materializes the training set. */
  def curateStream(documents: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermarkDelay: String, trainPct: Double = 0.8,
      valPct: Double = 0.1): DataFrame = {
    graft.streaming.WindowedAggregates.dedupByFingerprint(
        qualityGated(documents, textCol), tsCol,
        TextMetrics.fingerprint(col(textCol)), watermarkDelay)
      .withColumn("split",
        Mixing.assignSplit(col(idCol), trainPct, valPct))
  }
}
