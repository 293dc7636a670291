package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact duplicate-SUBSTRING detection and removal over a corpus — the
  * token-window form of Lee et al. 2022 ("Deduplicating Training Data
  * Makes Language Models Better", ExactSubstr): a span is duplicated
  * when the same `n`-token window occurs at two or more positions
  * anywhere in the corpus (other documents OR elsewhere in the same
  * document — boilerplate headers, licence blocks, templated
  * paragraphs that whole-document dedup never sees because the
  * surrounding text differs).
  *
  * The paper builds a corpus-wide suffix array on a single machine;
  * that is the one data structure that fundamentally does not shard —
  * the Spark-first equivalent keeps the same SEMANTICS (every repeated
  * >= n-token span is found, since any repeated span of length >= n
  * contains a repeated n-window) with an embarrassingly parallel plan:
  * windows are generated row-locally, the census is ONE shuffle on the
  * window fingerprint, and the join-back is the window stream's second
  * and only other shuffle. No suffix array, no driver state.
  *
  * Tokenization is the corpus-dedup standard shared with
  * [[Decontaminate]] and [[Dedup.shingles]]: lowercase, trim, split on
  * runs of whitespace. Windows are fingerprinted with md5 (128-bit)
  * before the shuffle: at 100 TB the distinct-window count reaches the
  * billions, where 64-bit fingerprints collide with near-certainty
  * (birthday at ~2^32) but 128-bit ones do not — and 32 hex chars is
  * far narrower on the wire than a 13-word window string.
  */
object SubstringDedup {

  /** Row-local positional `n`-token windows: (id, pos, w) with 1-based
    * `pos` over the whitespace-token stream — window INSTANCES, not
    * distinct-per-doc (within-doc repetition is precisely one of the
    * duplication modes this operator exists to catch).
    *
    * One single-pass UDF ([[Dedup.shingleWords]], the shape behind the
    * q78 shingle stream), not a declarative transform/slice chain: the
    * HOF form re-slices the token array per window inside a nested
    * lambda that falls out of whole-stage codegen — measured 20x
    * slower on the bench corpus than this one-pass generator. */
  private def windowsUdf(n: Int) = udf { (text: String) =>
    Dedup.shingleWords(text, n)
  }

  private def windowed(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"window width must be >= 2 tokens, got $n")
    df.select(col(idCol).as("id"),
        posexplode(windowsUdf(n)(col(textCol))).as(Seq("__p", "w")))
      .select(col("id"), (col("__p") + 1).as("pos"), col("w"))
  }

  /** Per-document duplication profile: (id, n_windows, n_dup_windows)
    * where a window instance counts as duplicated when its text occurs
    * at >= `minOccurrences` positions corpus-wide. Only documents with
    * at least one window (>= n tokens) appear — shorter documents have
    * no measurable span surface.
    *
    * Plan: windows row-local -> census groupBy(fingerprint) (shuffle 1)
    * -> join back on fingerprint (shuffle 2, AQE-planned) -> final
    * groupBy(id) reduces map-side. The census output is bounded by the
    * distinct-window count, never materialized on the driver. */
  def duplicatedWindowStats(df: DataFrame, idCol: String,
      textCol: String, n: Int, minOccurrences: Long = 2L): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences < 2 marks every window duplicated, got $minOccurrences")
    val wins = windowed(df, idCol, textCol, n)
      .select(col("id"), md5(col("w")).as("f"))
    val census = wins.groupBy("f").agg(count(lit(1)).as("__occ"))
    wins.join(census, "f")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__occ") >= minOccurrences, 1L).otherwise(0L))
          .as("n_dup_windows"))
      .select(col("id").as(idCol), col("n_windows"),
        col("n_dup_windows"))
  }

  /** The REMOVAL form: excise every duplicated span, keeping exactly
    * the corpus-FIRST occurrence of each window (first = minimal
    * (doc id, position) over its instances — a deterministic pure
    * function of content and ids, the keep-first discipline of
    * [[Dedup.dedupKeepFirst]]). A token survives unless some
    * NON-FIRST duplicated window instance covers it, so a span
    * repeated across k documents survives in one of them and is cut
    * from the other k-1; within-doc repeats keep their earliest copy.
    *
    * Output: (id, textCol) with the surviving tokens of each document
    * rejoined by single spaces — token positions come from the same
    * whitespace split as the window stream, so cuts align exactly;
    * original inter-token whitespace is normalized by reconstruction
    * (documented, inherent to token-level excision). Case is
    * PRESERVED: matching is case-folded but surviving tokens come from
    * the original text. Documents shorter than `n` tokens pass through
    * with whitespace-normalized text (they have no window surface).
    *
    * Known approximation, same as the paper discusses: excision can
    * create a NEW adjacency (the text left of a cut now abuts the text
    * right of it) whose windows were never in the census; one pass
    * removes all PRE-EXISTING duplicated spans, and pipelines wanting
    * a fixed point iterate the operator.
    */
  def removeDuplicateWindows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // the window stream feeds BOTH the census and the join-back; un-
    // persisted, the generate UDF re-tokenizes the corpus twice
    val wins = windowed(df, idCol, textCol, n)
      .select(col("id"), col("pos"), md5(col("w")).as("f"))
    lastRemovalRelease.pins(wins.sparkSession).pin(wins)
    // first occurrence per fingerprint: min (id, pos) lexicographic —
    // min(struct) partial-aggregates map-side (the argmax/q32 shape)
    val census = wins.groupBy("f")
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__first"))
    val cuts = wins.join(census, "f")
      .where(col("__occ") >= 2 &&
        !(col("id") === col("__first.id") &&
          col("pos") === col("__first.pos")))
      .groupBy("id")
      .agg(collect_list(col("pos")).as("__cuts"))
    df.join(cuts, df(idCol) === cuts("id"), "left")
      .select(df(idCol),
        excise(n)(col(textCol), col("__cuts")).as(textCol))
  }

  private val lastRemovalRelease = ReleaseSlot()

  /** Rebuild text dropping every token covered by a cut window
    * [p, p+n): one boolean mask pass over the token array — span
    * merging of overlapping windows falls out of the mask for free. */
  private def excise(n: Int) = udf {
    (text: String, cuts: Seq[Long]) =>
      if (text == null) null
      else {
        val toks = text.trim.split("\\s+").filter(_.nonEmpty)
        if (cuts == null || cuts.isEmpty) toks.mkString(" ")
        else {
          val dead = new Array[Boolean](toks.length)
          cuts.foreach { p =>
            var i = (p - 1).toInt // pos is 1-based
            val end = math.min(i + n, toks.length)
            while (i < end) { dead(i) = true; i += 1 }
          }
          val sb = new StringBuilder
          var i = 0
          while (i < toks.length) {
            if (!dead(i)) {
              if (sb.nonEmpty) sb.append(' ')
              sb.append(toks(i))
            }
            i += 1
          }
          sb.toString
        }
      }
  }

  /** Visible-for-spec window stream. */
  private[graft] def positionalWindows(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    windowed(df, idCol, textCol, n)
}
