package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-data assembly: the concat-and-chunk
  * step that turns a token-counted document stream into fixed-length
  * training sequences (GPT-style — concatenate every document's tokens
  * in a deterministic order, cut every `seqLen` tokens). The operator
  * computes, per document, WHERE its tokens land in that virtual stream:
  * the exclusive global running total (`cum_before`), the training
  * sequence its first token falls in (`seq_id = cum_before div seqLen`),
  * and the offset inside it — the bookkeeping a sequence writer needs to
  * materialize packed batches, and enough to route each doc's tokens to
  * their output shard without ever materializing the token stream on one
  * node.
  *
  * Scale: the naive formulation is `sum(tokens) over (order by id)` —
  * a Window with NO partition key, which Spark executes as a SINGLE TASK
  * holding the whole corpus. This is the two-phase scan instead:
  *
  *   1. docs group into fixed-width deterministic id ranges
  *      (`bucket = id div groupWidth`) and per-bucket token sums are
  *      aggregated — a summary table of N/groupWidth rows;
  *   2. the ONLY unpartitioned window runs over that summary (choose
  *      groupWidth so N/groupWidth rows fit one task comfortably —
  *      1e6 docs/bucket keeps a trillion-doc corpus's summary at 1e6
  *      rows);
  *   3. bucket offsets join back (AQE broadcasts the summary when it is
  *      small) and the within-bucket running total is a window
  *      PARTITIONED by bucket — fully parallel.
  *
  * Every output value is a pure function of the (id, tokens) set —
  * partitioning-independent, rerun-stable, oracle-exact (same
  * determinism discipline as Mixing). Requires a numeric
  * globally-orderable non-negative id: the pack order IS the id order.
  */
object SequencePack {

  /** The base table, pinned until the next call. */
  private val lastRelease = ReleaseSlot()

  def packOrder(docs: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, groupWidth: Long = 1000000L): DataFrame = {
    require(seqLen > 0 && groupWidth > 0,
      "seqLen and groupWidth must be positive")
    // persisted: two plan branches read it (the bucket-sum aggregation
    // and the join's left side) — without the persist the upstream
    // token-count expression (a full-text regex scan in q85) runs over
    // the corpus twice
    val base = docs.select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("toks"))
      .withColumn("__bucket", expr(s"id DIV $groupWidth"))
    lastRelease.pins(base.sparkSession).pin(base)
    val bucketSums = base.groupBy("__bucket")
      .agg(sum("toks").as("__bsum"))
    // exclusive prefix sum over the bucket SUMMARY — the one
    // unpartitioned window, bounded at N/groupWidth rows
    val offsets = bucketSums.withColumn("__boffset",
        coalesce(sum(col("__bsum")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__boffset")
    val wIn = Window.partitionBy(col("__bucket")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(offsets, "__bucket")
      .withColumn("cum_before",
        col("__boffset") + coalesce(sum(col("toks")).over(wIn), lit(0L)))
      .select(col("id").as(idCol), col("toks").as("n_tokens"),
        col("cum_before"),
        expr(s"cum_before DIV $seqLen").as("seq_id"),
        (col("cum_before") % seqLen).as("seq_offset"))
  }
}
