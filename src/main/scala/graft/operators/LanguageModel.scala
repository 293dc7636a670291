package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perplexity-style quality scoring from a corpus-trained unigram
  * language model — the CCNet-family filter (score documents by how
  * surprising their tokens are under a background LM; very high
  * surprisal = gibberish/OCR noise, very low = boilerplate). A full
  * KenLM is a model artifact; the unigram form is the engine-native
  * tier: trained IN the same job by one aggregation over the corpus,
  * no external file, exact and oracle-checkable.
  *
  * Scale: token explode -> one shuffle to count the vocabulary ->
  * broadcast the (word, count) table back over the token stream ->
  * per-document mean. The vocabulary of a 100 TB corpus may exceed
  * broadcast limits — cap it with `minCount` (rare words collapse to
  * the floor probability, which is also the right smoothing for
  * singleton noise) or let AQE pick a shuffled join when the vocab
  * side outgrows the threshold.
  */
object LanguageModel {

  /** The scorers' count tables, pinned until the session's next scorer
    * call. */
  private val lastRelease = ReleaseSlot()

  /** Lower-cased whitespace tokens of `textCol`, empty tokens dropped:
    * the one tokenizer of the scorers, PMI and the fast tiers. */
  private def wordsOf(textCol: String): Column =
    filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0)

  /** Degenerate-corpus result: the scorers' shared empty frame (id
    * type follows the input; ONE definition so the three relational
    * scorers' empty schemas cannot drift apart). */
  private def emptyScores(docs: DataFrame, idCol: String,
      countCol: String): DataFrame =
    docs.sparkSession.createDataFrame(
      docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          docs.schema(idCol).dataType),
        org.apache.spark.sql.types.StructField("avg_surprisal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(countCol,
          org.apache.spark.sql.types.LongType, nullable = false))))

  /** Per-document mean unigram surprisal in bits:
    * avg(-log2(count(w) / totalTokens)) over the document's tokens,
    * under the unigram distribution of `docs` itself. Deterministic;
    * 4-dp rounded for the cross-engine oracle.
    *
    * `minCount` drops sub-threshold vocabulary from BOTH the model and
    * the scored tokens (singleton-noise smoothing, and the cap that
    * keeps a 100 TB corpus's vocab table join-able; the total is
    * computed over the capped vocab so probabilities stay a
    * distribution over it). No broadcast directive on the join: the
    * vocab side is usually dimension-sized and AQE will broadcast it
    * from runtime stats, but when it outgrows the threshold AQE can
    * fall back to a shuffled join — a forced hint would OOM instead.
    * Training materializes once (pinned vocab + one driver-side
    * scalar for the total — bounded model state, centroid-collect
    * precedent). */
  def unigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L): DataFrame = {
    val pins = lastRelease.pins(docs.sparkSession)
    val words = docs.select(col(idCol).as("id"),
      explode(wordsOf(textCol)).as("w"))
    val counts = pins.pin(words.groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount))
    // one action trains the LM: without it, total would re-tokenize
    // the whole corpus a second time (and the join a third).
    // sum() over zero rows is NULL (empty corpus, or minCount filtered
    // out every word) — treat as 0 and short-circuit to an empty result
    // below rather than NPE on getLong
    val totalRow = counts.agg(sum(col("cnt"))).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total == 0L) return emptyScores(docs, idCol, "n_tokens")
    words
      .join(counts, "w")
      .withColumn("surprisal",
        -log2(col("cnt").cast("double") / lit(total.toDouble)))
      .groupBy("id")
      .agg(round(avg(col("surprisal")) + 1e-9, 4).as("avg_surprisal"),
        count(lit(1)).as("n_tokens"))
  }

  /** Tokens -> space-joined consecutive pairs ("w1 w2"); tokens are
    * whitespace-split so the single space is an unambiguous separator.
    * Spark hands an array argument over as a `List` (linear `length`
    * and `apply`), so it is copied to an array once: O(n), not O(n²). */
  private[graft] def bigrams(tokens: Seq[String]): Array[String] =
    if (tokens == null) Array.empty[String]
    else {
      val ws = tokens.toArray
      val out = new Array[String](math.max(ws.length - 1, 0))
      var i = 0
      while (i < out.length) {
        out(i) = ws(i) + " " + ws(i + 1)
        i += 1
      }
      out
    }

  private val bigramsUdf = udf(bigrams _)

  /** Per-document mean BIGRAM surprisal with stupid backoff (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale scheme: no discounting arithmetic, just a fixed backoff
    * factor, designed precisely for corpus-sized count tables):
    *
    *   score(w2 | w1) = count(w1 w2) / count(w1)      if bigram kept
    *                  = backoff * count(w2) / total    otherwise
    *   surprisal      = -log2(score), averaged over a document's
    *                    consecutive-token transitions.
    *
    * The next CCNet-fidelity tier above [[unigramSurprisal]]: boilerplate
    * scores low (its transitions are common), shuffled/gibberish word
    * salad scores high even when each word is individually common —
    * exactly what the unigram tier cannot see.
    *
    * Scale: bigram generation is ROW-LOCAL (single-pass UDF over the
    * token array — same rationale as Dedup's shingle UDF: the
    * declarative HOF form pays interpreted per-element lambda eval);
    * training is two count shuffles (bigram vocab, unigram vocab);
    * `minCount` caps the bigram table exactly like the unigram cap —
    * at 100 TB the sub-threshold tail (the vast majority of distinct
    * bigrams, by Zipf) collapses into the backoff branch, which is the
    * model's own smoothing, not an approximation of it. Scoring joins
    * are AQE-chosen (no forced broadcast, same reasoning as unigram).
    * Docs with fewer than 2 tokens have no transitions and drop out.
    *
    * Determinism/oracle: integer counts + -log2 double arithmetic,
    * 4-dp rounded — the q75 discipline. */
  def bigramSurprisalBackoff(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long = 2L, backoff: Double = 0.4)
      : DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0,
      s"backoff factor must be in (0, 1], got $backoff")
    val pins = lastRelease.pins(docs.sparkSession)
    val tokenized = docs.select(col(idCol).as("id"),
      wordsOf(textCol).as("ws"))
    val pairs = tokenized
      .select(col("id"), explode(bigramsUdf(col("ws"))).as("bg"))
    val tokens = tokenized
      .select(col("id"), explode(col("ws")).as("w"))
    val bgCounts = pins.pin(pairs.groupBy("bg")
      .agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount))
    val uniCounts = pins.pin(tokens.groupBy("w")
      .agg(count(lit(1)).as("c1")))
    // one action trains both tables; null sum = empty/degenerate corpus
    val totalRow = uniCounts.agg(sum(col("c1"))).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total == 0L) return emptyScores(docs, idCol, "n_transitions")
    val w1 = split(col("bg"), " ").getItem(0)
    val w2 = split(col("bg"), " ").getItem(1)
    pairs
      .withColumn("w1", w1).withColumn("w2", w2)
      .join(bgCounts, Seq("bg"), "left")
      .join(uniCounts.select(col("w").as("w1"), col("c1").as("c1_w1")),
        Seq("w1"))
      .join(uniCounts.select(col("w").as("w2"), col("c1").as("c1_w2")),
        Seq("w2"))
      .withColumn("s",
        when(col("c2").isNotNull,
          -log2(col("c2").cast("double") / col("c1_w1").cast("double")))
        .otherwise(-log2(lit(backoff) * col("c1_w2").cast("double") /
          lit(total.toDouble))))
      .groupBy("id")
      .agg(round(avg(col("s")) + 1e-9, 4).as("avg_surprisal"),
        count(lit(1)).as("n_transitions"))
  }

  /** Per-document mean bigram surprisal under INTERPOLATED KNESER-NEY
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26) —
    * the KenLM-default scheme and the fidelity tier above stupid
    * backoff: the lower-order distribution is the CONTINUATION
    * probability (how many distinct contexts a word completes), not
    * raw frequency, so "Francisco" stops looking probable outside
    * "San Francisco" even though it is frequent.
    *
    *   P(w2|w1) = (max(c(w1 w2) - D, 0)
    *               + D * N1+(w1 *) * (N1+(* w2) / B)) / c(w1)
    *
    * with D the absolute discount, N1+(w1 *) the distinct kept
    * continuations of w1, N1+(* w2) the distinct kept predecessors of
    * w2, and B the kept distinct-bigram count. All four are integer
    * counts of the KEPT (minCount-capped) bigram table, so the model
    * is a pure function of its own bounded parameters — at 100 TB the
    * capped tail falls into the continuation mass, which is the
    * scheme's own smoothing. A zero-probability transition (w1 with
    * no kept continuation) floors at D/total — the OOV floor,
    * replayed by the oracle.
    *
    * Same plan shape as [[bigramSurprisalBackoff]]: row-local
    * bigram generation, three vocab-bounded count shuffles (bigram
    * table + its two marginals), AQE-chosen scoring joins, one
    * training action. */
  def kneserNeySurprisal(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long = 2L, discount: Double = 0.75)
      : DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0, 1), got $discount")
    val pins = lastRelease.pins(docs.sparkSession)
    val tokenized = docs.select(col(idCol).as("id"),
      wordsOf(textCol).as("ws"))
    val pairs = tokenized
      .select(col("id"), explode(bigramsUdf(col("ws"))).as("bg"))
    val bgCounts = pins.pin(pairs.groupBy("bg")
      .agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1)))
    val uniCounts = pins.pin(tokenized
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")))
    // TWO training actions materialize both tables and yield the two
    // driver scalars (kept-bigram count B, token total)
    val b = bgCounts.count()
    val totalRow = uniCounts.agg(sum(col("c1"))).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total == 0L || b == 0L)
      return emptyScores(docs, idCol, "n_transitions")
    // marginals of the kept table: fan-out (distinct continuations of
    // w1) and continuation count (distinct predecessors of w2) — rows
    // of bgCounts are distinct bigrams, so count(*) IS the N1+ count
    val fanout = bgCounts.groupBy("w1")
      .agg(count(lit(1)).as("n1p_w1"))
    val contc = bgCounts.groupBy("w2")
      .agg(count(lit(1)).as("n1pc_w2"))
    // float expression mirrored verbatim in the oracle:
    //   p = (greatest(coalesce(c2,0) - D, 0)
    //        + D * n1p_w1 * (n1pc_w2 / B)) / c1_w1
    pairs
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(bgCounts.select(col("bg"), col("c2")), Seq("bg"), "left")
      .join(uniCounts.select(col("w").as("w1"), col("c1").as("c1_w1")),
        Seq("w1"))
      .join(fanout, Seq("w1"), "left")
      .join(contc, Seq("w2"), "left")
      .withColumn("p",
        (greatest(coalesce(col("c2").cast("double"), lit(0.0)) -
            discount, lit(0.0)) +
          lit(discount) * coalesce(col("n1p_w1"), lit(0L)).cast("double") *
            (coalesce(col("n1pc_w2"), lit(0L)).cast("double") /
              lit(b.toDouble))) /
          col("c1_w1").cast("double"))
      .withColumn("s",
        when(col("p") > 0.0, -log2(col("p")))
          .otherwise(-log2(lit(discount / total.toDouble))))
      .groupBy("id")
      .agg(round(avg(col("s")) + 1e-9, 4).as("avg_surprisal"),
        count(lit(1)).as("n_transitions"))
  }

  /** PMI collocations (Church & Hanks 1990): adjacent-token pairs
    * whose corpus co-occurrence beats the independence baseline —
    * pmi = ln( P(w1 w2) / (P(w1) P(w2)) )
    *     = ln( c2 * U * U / (T * c1(w1) * c1(w2)) )
    * with U = corpus token count and T = corpus bigram count. The
    * multiword-expression miner every tokenizer/vocab pipeline runs
    * before merging collocations into units.
    *
    * Scale shape: bigram generation is row-local (one pass, the
    * bigramsUdf used by the LM trainers); U and T are ONE row-local
    * scan of the token arrays (sum of len and len-1 — never a pass
    * over the exploded stream); the only corpus-sized exchanges are
    * the two vocabulary counts (unigram, bigram). The minCount cut
    * (Zipf) bounds the scored table, and the unigram joins against it
    * are vocab-sized on both sides.
    *
    * Determinism: all counts are integers; the PMI ratio is built in
    * ONE fixed operator order — (c2d * U) * U over (Td * c1) * c1 —
    * then a single ln, quantized to micro-units. The oracle replays
    * the identical expression. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val tokenized = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), wordsOf(textCol).as("ws"))
    // corpus scalars from the token ARRAYS (row-local, one scan):
    // U = sum(len), T = sum(max(len-1, 0))
    val stats = tokenized.agg(
      sum(size(col("ws"))).as("__u"),
      sum(greatest(size(col("ws")) - 1, lit(0))).as("__t"))
    val uni = tokenized.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bgc = tokenized
      .select(explode(bigramsUdf(col("ws"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount)
    val split1 = split(col("bg"), " ")
    val ratio = (col("c2").cast("double") * col("__u") * col("__u")) /
      (col("__t").cast("double") * col("cx") * col("cy"))
    bgc
      .withColumn("w1", split1.getItem(0))
      .withColumn("w2", split1.getItem(1))
      .join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
      .crossJoin(broadcast(stats))
      .select(col("w1"), col("w2"), col("c2").as("pair_count"),
        floor(log(ratio) * 1e6 + 0.5).cast("long").as("pmi_fp6"))
  }

  /** Loud driver-memory bound for the broadcast fast scorers: a model
    * table past this is a relational-tier job, not a broadcast one. */
  private def collectBounded(df: DataFrame, maxRows: Int, what: String)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$what exceeds maxModelRows=$maxRows — raise minCount or use " +
        "the relational scorer (silently truncating the model would " +
        "change scores)")
    rows
  }

  /** Shuffle-free [[unigramSurprisal]]: the minCount-capped vocabulary
    * collects to the driver (loudly bounded), broadcasts, and every
    * document scores in ONE row-local pass — zero exchanges in the
    * scoring plan. Same output, bit-for-bit: the per-token float ops
    * replay Spark's Log2 (StrictMath.log(x)/StrictMath.log(2)) and the
    * rounding replays round(x+1e-9, 4) as HALF_UP decimal — the
    * dsirScoreFast discipline.
    *
    * The 100-TB split of labor: the relational form handles unbounded
    * vocabularies (AQE shuffled join); this form is the fast path when
    * the capped vocab fits an executor — which minCount exists to
    * arrange. */
  def unigramSurprisalFast(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L, maxModelRows: Int = 2000000)
      : DataFrame = {
    val words = docs.select(explode(wordsOf(textCol)).as("w"))
    val counts = words.groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    val rows = collectBounded(counts, maxModelRows, "unigram vocab")
    val vocab = new java.util.HashMap[String, java.lang.Long](
      rows.length * 2)
    var total = 0L
    rows.foreach { r =>
      vocab.put(r.getString(0), r.getLong(1)); total += r.getLong(1)
    }
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val totalD = total.toDouble
    val ln2 = StrictMath.log(2.0)
    val score = udf { (text: String) =>
      if (text == null) null
      else {
        val m = bc.value
        var sum = 0.0
        var n = 0L
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .foreach { w =>
            if (w.nonEmpty) {
              val c = m.get(w)
              if (c != null) {
                sum += -(StrictMath.log(c.toDouble / totalD) / ln2)
                n += 1
              }
            }
          }
        if (n == 0L) null
        else {
          val s = BigDecimal(sum / n.toDouble + 1e-9)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (s, n)
        }
      }
    }
    docs.select(col(idCol).as("id"), score(col(textCol)).as("__s"))
      .where(col("__s").isNotNull)
      .select(col("id"), col("__s._1").as("avg_surprisal"),
        col("__s._2").as("n_tokens"))
  }

  /** Shuffle-free [[bigramSurprisalBackoff]] — broadcast capped bigram
    * table + full unigram table, one row-local pass per document. Same
    * parity discipline as [[unigramSurprisalFast]]. */
  def bigramSurprisalBackoffFast(docs: DataFrame, idCol: String,
      textCol: String, minCount: Long = 2L, backoff: Double = 0.4,
      maxModelRows: Int = 2000000): DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0,
      s"backoff factor must be in (0, 1], got $backoff")
    val tokenized = docs.select(col(idCol).as("id"),
      wordsOf(textCol).as("ws"))
    val bgCounts = tokenized
      .select(explode(bigramsUdf(col("ws"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount)
    val uniCounts = tokenized
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bgRows = collectBounded(bgCounts, maxModelRows, "bigram table")
    val uniRows = collectBounded(uniCounts, maxModelRows,
      "unigram vocab")
    val bgMap = new java.util.HashMap[String, java.lang.Long](
      bgRows.length * 2)
    bgRows.foreach(r => bgMap.put(r.getString(0), r.getLong(1)))
    val uniMap = new java.util.HashMap[String, java.lang.Long](
      uniRows.length * 2)
    var total = 0L
    uniRows.foreach { r =>
      uniMap.put(r.getString(0), r.getLong(1)); total += r.getLong(1)
    }
    val sc = docs.sparkSession.sparkContext
    val bcBg = sc.broadcast(bgMap)
    val bcUni = sc.broadcast(uniMap)
    val totalD = total.toDouble
    val ln2 = StrictMath.log(2.0)
    val score = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        if (toks.length < 2) null
        else {
          val bgs = bcBg.value
          val unis = bcUni.value
          var sum = 0.0
          var n = 0L
          var i = 0
          while (i < toks.length - 1) {
            // missing unigram counts mirror the relational form's two
            // INNER uniCounts joins (both w1 AND w2 must resolve, in
            // either branch): the transition DROPS from the average
            // (tokenizer-divergence safety), never an NPE
            val c1w1 = unis.get(toks(i))
            val c1w2 = unis.get(toks(i + 1))
            if (c1w1 != null && c1w2 != null) {
              val c2 = bgs.get(toks(i) + " " + toks(i + 1))
              val s =
                if (c2 != null)
                  -(StrictMath.log(c2.toDouble / c1w1.toDouble) / ln2)
                else
                  -(StrictMath.log(
                    backoff * c1w2.toDouble / totalD) / ln2)
              sum += s
              n += 1
            }
            i += 1
          }
          if (n == 0L) null
          else {
            val avg = BigDecimal(sum / n.toDouble + 1e-9)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            (avg, n)
          }
        }
      }
    }
    docs.select(col(idCol).as("id"), score(col(textCol)).as("__s"))
      .where(col("__s").isNotNull)
      .select(col("id"), col("__s._1").as("avg_surprisal"),
        col("__s._2").as("n_transitions"))
  }

  /** Zipf power-law fit of the corpus token-frequency distribution:
    * least-squares slope/intercept of ln(count) against ln(rank) —
    * the one-number corpus-health signal (natural text ≈ -1; a slope
    * far off flags boilerplate floods or token-soup noise).
    *
    * Plan: one census shuffle (vocab-sized, tiny next to the corpus),
    * a distributed rank over the vocab (ScalableRank's two-phase
    * range-partitioned rank with a constant key — the type census of
    * a 100 TB corpus with junk tokens is NOT dimension-scale, and a
    * global window would funnel it through one sort task), then ONE
    * one-row aggregate.
    *
    * Numerics (the q111 discipline): each ln is computed once on an
    * INTEGER argument — identical in both engines — and immediately
    * micro-quantized (`floor(ln(x)*1e6 + 0.5)` → long). Every sum,
    * product, and the slope's numerator/denominator then run in
    * decimal(38,0) (DuckDB: HUGEINT) — exact integer arithmetic, so
    * summation order cannot move the result; only the final division
    * is float, rounded to 6 dp. Output one row:
    * (n_types, slope_6, intercept_6). */
  def zipfFit(docs: DataFrame, textCol: String,
      minCount: Long = 1L): DataFrame = {
    val census = docs
      .select(explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        w => length(w) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
    // rank over the TYPE census — at corpus scale the census itself is
    // huge (types grow with corpus junk), so the global `row_number()
    // OVER (ORDER BY cnt DESC, w)` window (one task) becomes the
    // bottleneck. ScalableRank.globalRank computes the identical
    // total order distributed (desc=true rides the engine's own DESC
    // sort order — counts are non-null here, and the window form's
    // desc_nulls_last default would match even if they weren't).
    val ranked = ScalableRank.globalRank(
      census, "cnt", "w", rankCol = "rank", desc = true)
    val dec = "decimal(38,0)"
    val fp: Column => Column =
      c => floor(log(c.cast("double")) * 1e6 + 0.5).cast(dec)
    val pt = ranked.select(fp(col("rank")).as("x"), fp(col("cnt")).as("y"))
    pt.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("long").as("n_types"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") + 1e-9, 6).as("slope_6"),
        round((col("sy") - ((col("n") * col("sxy") -
              col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) * col("sx").cast("double"))
            .cast("double") / col("n").cast("double") / 1e6 + 1e-9, 6)
          .as("intercept_6"))
  }
}
