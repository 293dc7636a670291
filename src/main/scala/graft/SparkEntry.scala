package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.TopK
import graft.functions.{TextClean, TextMetrics, VectorFunctions}
import graft.ledger.Ledger
import graft.operators.{Decontaminate, Dedup, Fan, ImportanceSampling,
  LanguageModel, Mixing, Similarity, SubstringDedup}

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * plus the training-data-pipeline operators (dedup / similarity / text
  * analysis). Each query has a DuckDB oracle in `oracleSql` except q38
  * (ICU BreakIterator boundaries — quantified in ChunkerParitySpec,
  * packing state machine hash-checked via q122); since round 11 even the
  * scala-murmur3 signers (q22/q23) are oracled by replaying murmur3
  * itself in SQL (MurmurOracleSql).
  *
  * Determinism discipline (FIXTURES.md): every float aggregate is rounded
  * (2-4 dp) in BOTH engines; every ranking has an integer tie-break; no
  * rand()/uuid()/now() anywhere.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // Queries treat events.ts as a nanos-since-epoch LONG (floor-divided to
    // seconds where needed, matching DuckDB's epoch_ns(ts) // 1e9), but the
    // testdata's physical type has drifted across driver regens:
    // TIMESTAMP(NANOS) (Spark can only surface it as a raw long via
    // nanosAsLong) vs TIMESTAMP(MICROS) (arrives as timestamp / timestamp_ntz
    // depending on isAdjustedToUTC). Normalize every form to the nanos long
    // here so the 120 queries never see the drift. Session tz is UTC, so the
    // NTZ cast is wall-clock identity and epoch math matches DuckDB's naive
    // epoch_ns().
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case _ => df
    }
  }

  /** Test-visible handle on the normalizing loader (the schema-canary spec
    * asserts what the 120 queries actually see, not just the raw parquet). */
  private[graft] def table(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name)

  /** Run independent driver-side actions concurrently, one thread
    * each, and return when all have finished. Any `Throwable` a task
    * throws — an `Error` too — fails the call from the calling thread:
    * the first as the cause, the others as suppressed. */
  private[graft] def runAll(what: String, tasks: Seq[() => Unit]): Unit = {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val failures = try {
      pool.invokeAll(tasks.map(task =>
          (() => task()): java.util.concurrent.Callable[Unit]).asJava)
        .asScala.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause) }
        }
    } finally pool.shutdownNow()
    failures.headOption.foreach { first =>
      val ex = new RuntimeException(s"$what failed", first)
      failures.tail.foreach(ex.addSuppressed)
      throw ex
    }
  }

  /** Floor seconds from the nanos-long `ts` column. DIV = integer
    * division — double division would lose ns precision at 1e18. */
  private val tsSec: Column = expr("ts DIV 1000000000")

  /** The q83/q86 oracle: exact jaccard pair graph (q21 form) closed
    * transitively by a recursive CTE, min id as representative. ONE
    * definition for both queries — q86's forced star-contraction loop
    * must produce exactly q83's local union-find clustering, so they
    * share the oracle by construction. */
  /** Shared portable-MinHash oracle CTEs (q92/q93/q112): tokenize ->
    * distinct 3-shingles -> md5-prefix 60-bit values -> 16 affine
    * minhashes over the Mersenne prime -> 4-row band keys. ONE
    * definition so the full-corpus pair query and the incremental
    * batch-vs-snapshot query can never drift on the signer. */
  private val PortableSigCtes: String =
    """w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
             FROM w)),
         xs AS (
           SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS xv
           FROM sh),
         sig AS (
           SELECT doc_id, j,
             (min((a::HUGEINT * xv + b) % 2305843009213693951))::BIGINT
               AS minhash
           FROM xs CROSS JOIN (VALUES
             (0, 428211228669798842, 1231823886139169972),
             (1, 1588437261043606333, 125037580946878544),
             (2, 462760306997154682, 1510692560004590165),
             (3, 1361166987500386952, 1259175741772747241),
             (4, 432330772143187373, 1457787354239467078),
             (5, 2269042632621585813, 271289342846959209),
             (6, 459595690967326520, 247923395667062642),
             (7, 1888506785316944072, 921785063688832414),
             (8, 114442114781097478, 94453198003562826),
             (9, 2118706432147538908, 1528312526410001492),
             (10, 356350401917632119, 2240309207271314907),
             (11, 713603041279483440, 823569528660996607),
             (12, 870846301637373144, 318948861742844466),
             (13, 2093656847386277970, 1111508132540270293),
             (14, 1925818535337679864, 1637057865177633928),
             (15, 112307922632766665, 1739027035153223858)) c(j, a, b)
           GROUP BY doc_id, j),
         bandkeys AS (
           SELECT doc_id, j // 4 AS band,
             string_agg(minhash::VARCHAR, ',' ORDER BY j) AS bkey
           FROM sig GROUP BY doc_id, j // 4)"""

  /** The q83/q86 trigram-jaccard pair graph + recursive-CTE
    * transitive closure, shared as a CTE prefix so q119's
    * cluster-keyed split replays EXACTLY the clustering it claims to
    * be leakage-safe against (same shingles, same threshold
    * rounding, same min-id closure). */
  private val DupClustersCtes: String =
    """WITH RECURSIVE w AS (
         SELECT doc_id,
           string_split_regex(lower(trim(text)), '\s+') AS ws
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id, unnest(list_transform(
             range(1, greatest(len(ws) - 2, 0) + 1),
             i -> array_to_string(ws[i:i+2], ' '))) AS shingle
           FROM w)),
       sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle
         WHERE a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id),
       p AS (
         SELECT id_a, id_b FROM (
           SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) /
               CAST(sa.sz + sb.sz - inter AS DOUBLE) + 1e-9, 4)
               AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b)
         WHERE jaccard >= 0.2),
       e AS (SELECT id_a AS src, id_b AS dst FROM p
             UNION SELECT id_b, id_a FROM p),
       r(id, rep) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, r.rep FROM r JOIN e ON e.src = r.id)"""

  private val DupClustersOracle: String = DupClustersCtes +
    """
       SELECT id AS doc_id, min(rep) AS cluster_rep,
         id = min(rep) AS keep
       FROM r GROUP BY id"""

  /** Hex md5 of a string — the per-corpus-dir discriminator both q76
    * (index cache key) and q81 (bucketed table/path suffix) derive
    * from; one definition so a future canonicalization change (e.g.
    * absolute-path normalization) lands in both. */
  /** The gopher-signal CTEs + keep predicate shared VERBATIM by the
    * q71 and q97 oracles — one definition so a threshold tweak cannot
    * silently desynchronize the two (the Spark side already shares
    * TextMetrics.gopherStruct). */
  private val GopherCtes: String =
    """base AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS ws,
             string_split(text, chr(10)) AS lines,
             length(text) - length(replace(text, '#', '')) AS hashes
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS word_count,
             CAST(list_sum(list_transform(ws, w -> length(w)))
               AS BIGINT) AS mwl_num,
             CAST(hashes AS BIGINT) AS hashes,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS ell,
             CAST(len(list_filter(lines,
               l -> starts_with(ltrim(l), '-')
                 OR starts_with(ltrim(l), '*')
                 OR starts_with(ltrim(l), '•'))) AS BIGINT) AS bul,
             CAST(len(list_filter(ws,
               w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha,
             CAST(len(list_intersect(
               list_distinct(list_transform(ws, w -> lower(w))),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS stop_hits
           FROM base)"""

  private val GopherKeepExpr: String =
    """(word_count >= 50 AND word_count <= 100000)
             AND (mwl_num >= word_count * 3 AND mwl_num <= word_count * 10)
             AND hashes * 10 <= word_count
             AND ell * 10 <= n_lines * 3
             AND bul * 10 <= n_lines * 9
             AND alpha * 5 >= word_count * 4
             AND stop_hits >= 2"""

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic derived multi-line view for the line-level operators
    * (q80/q82 vacuity rule — the synthetic corpus has ZERO newlines and
    * ZERO punctuation at every SF, measured, so raw-text line ops would
    * oracle-match vacuously): words wrapped into `width`-word lines,
    * and with `punctEveryThird` a '.' appended when
    * (doc_id + line_no) % 3 == 0 so the terminal-punctuation rule
    * bites. Adds `__lines` (the line array). The SAME derivation is
    * replicated in the two oracles — a chunk-arithmetic change here
    * must land there too. `__ws` is materialized as a column BEFORE the
    * transform so the lambda references a bound array, not a
    * re-evaluated split (the shingles O(words^2) trap). */
  private def derivedLines(df: DataFrame, width: Int,
      punctEveryThird: Boolean): DataFrame = {
    val chunk = (i: Column) =>
      array_join(slice(col("__ws"), (i - 1) * width + 1, lit(width)), " ")
    val line = (i: Column) =>
      if (punctEveryThird)
        concat(chunk(i), when((col("doc_id") + i) % 3 === 0, lit("."))
          .otherwise(lit("")))
      else chunk(i)
    df.withColumn("__ws", split(trim(col("text")), "\\s+"))
      .withColumn("__lines", transform(
        sequence(lit(1),
          ceil(size(col("__ws")) / lit(width.toDouble)).cast("int")),
        line))
  }

  /** Flagship on sf0.001 (driver smoke-checks rows>0): ledger-style batch
    * selection — users whose LATEST event is purchase/signup (the
    * reference's select-by-last-step, J1+P2), enriched with per-user
    * activity stats (A1) — the shape of SURVEY §3.1's entry point A. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val events = t(spark, dir, "events")
    val last = Ledger.selectByLastStep(events,
      Seq("purchase", "signup"), keyCol = "user_id",
      stepCol = "event_type", orderCol = "event_id")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"))
    val stats = events.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      round(sum(col("value")) + 1e-9, 2).as("total_value"))
    last.join(stats, "user_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Aggregations / projections (SURVEY A1-A3, P1) ----
    "q01_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")) + 1e-9, 2).as("sum_qty"),
          round(sum(col("l_extendedprice")) + 1e-9, 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            + 1e-9, 2).as("sum_disc_price"),
          round(avg(col("l_quantity")) + 1e-9, 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // ---- Multi-way dimension join (SURVEY J2/J4/P5) — dims broadcast ----
    "q02_join_dims" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      orders
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(count(lit(1)).as("order_count"),
          round(sum(col("o_totalprice")) + 1e-9, 2).as("total_revenue"))
    }),

    // ---- Greatest-per-group / latest ledger state (SURVEY J1/W1) ----
    "q03_latest_event" -> ((s, dir) => {
      Ledger.latestState(t(s, dir, "events"), Seq("user_id"), "event_id",
          "event_id")
        .select("user_id", "event_id", "event_type", "value")
    }),

    // ---- Running total window (SURVEY A2/W4 frame) ----
    "q04_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w) + 1e-9, 2).as("running_value"))
    }),

    // ---- Top-2 per group by frequency (SURVEY A4/O6) ----
    "q05_top2_per_user" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      TopK.perKey(counts, Seq(col("user_id")),
          Seq(col("cnt").desc, col("event_type").asc), lit(2), Some("rnk"))
        .select("user_id", "event_type", "cnt", "rnk")
    }),

    // ---- As-of join: latest row per key at-or-before cutoff (J5/W1) ----
    "q06_asof_latest_order" -> ((s, dir) => {
      Ledger.asOfLatest(t(s, dir, "orders"), Seq("o_custkey"),
          "o_orderdate", lit("1998-01-01").cast("timestamp"), "o_orderkey")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    }),

    // ---- Anti join (SURVEY J6/U1) ----
    "q07_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // ---- Semi join (SURVEY J7) ----
    "q08_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // ---- Union + distinct (SURVEY U2/U3) ----
    "q09_union_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),

    // ---- Deterministic sample (SURVEY O4, seedable — FIXTURES.md) ----
    "q10_det_sample" -> ((s, dir) => {
      Ledger.deterministicSample(t(s, dir, "events"), "event_id", 97)
        .select("event_id", "user_id", "event_type")
    }),

    // ---- Byte-capped greedy admission (SURVEY A2/R5) ----
    "q11_byte_cap" -> ((s, dir) => {
      Ledger.byteCapAdmit(t(s, dir, "documents"), Seq(col("doc_id")),
          "n_chars", cap = 100000L, keepCumAs = Some("cum_chars"))
        .select("doc_id", "n_chars", "cum_chars")
    }),

    // ---- Scalar projections (SURVEY P1/F1) ----
    "q12_octet_len" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("octets"),
          length(col("text")).as("chars"))
    }),

    // ---- Whitespace normalization (SURVEY F2/F3) ----
    "q13_normalize_ws" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextClean.normalizeWhitespace(col("text")).as("clean_text"))
    }),

    // ---- Token counts (SURVEY F8 + token-count estimate) ----
    "q14_word_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.wordCount(col("text")).as("words"),
          TextMetrics.whitespaceTokenCount(col("text")).as("ws_tokens"),
          TextMetrics.tokenCountEstimate(col("text")).as("est_tokens"))
    }),

    // ---- Flesch readability (SURVEY F7-F10) ----
    "q15_readability" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.fleschReadingEase(col("text")).as("flesch"))
    }),

    // ---- Reading duration w/ per-lang speeds (SURVEY F11) ----
    "q16_reading_duration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("lang"),
        TextMetrics.readingDurationSeconds(col("text"),
          TextMetrics.readingSpeedFor(col("lang"))).as("duration_sec"))
    }),

    // ---- Text-quality scoring (training-data pipeline) ----
    "q17_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.stopwordRatio(col("text")).as("stop_ratio"),
          TextMetrics.punctRatio(col("text")).as("punct_ratio"),
          TextMetrics.meanWordLength(col("text")).as("mean_word_len"),
          TextMetrics.qualityScore(col("text")).as("quality"))
    }),

    // ---- Gopher-rule quality admission (Rae et al. 2021 §A1.1 — the
    // canonical LLM-corpus filter; integer-arithmetic flags so the
    // oracle compare has no float surface) ----
    "q71_gopher_rules" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.gopherStruct(col("text")).as("g"))
        .select(col("doc_id"), col("g.word_count"), col("g.wc_ok"),
          col("g.mwl_ok"), col("g.hash_ok"), col("g.ellipsis_ok"),
          col("g.bullet_ok"), col("g.alpha_ok"), col("g.stop_ok"),
          col("g.keep"))
    }),

    // ---- Repetition-filter signals (Rae et al. 2021 §A1.1: duplicate
    // lines + top word-2-gram mass; integer stats, thresholds as
    // cross-multiplied integer compares — zero float oracle surface) ----
    "q72_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_lines"), col("r.dup_lines"),
          col("r.n_grams"), col("r.top2_count"), col("r.top2_len"),
          col("r.text_chars"),
          // LONG arithmetic: Int products wrap negative on extreme-
          // repetition documents (100M x 7 x 5 > 2^31), which would
          // admit the worst spam and diverge from the BIGINT oracle
          (col("r.dup_lines").cast("long") * 10 <=
            col("r.n_lines").cast("long") * 3).as("dup_line_ok"),
          (col("r.top2_count").cast("long") *
            col("r.top2_len").cast("long") * 5 <=
            col("r.text_chars").cast("long")).as("rep_2gram_ok"))
    }),

    // ---- Deterministic content-hash dataset mixing (md5 buckets —
    // engine-portable, rerun-stable; rand() sampling is neither) ----
    "q73_hash_sample" -> ((s, dir) => {
      Mixing.stratifiedSample(t(s, dir, "documents"),
          "source", Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25,
            "src3" -> 0.1), "doc_id", buckets = 1000,
          keepBucketCol = Some("bucket"))
        .select("doc_id", "source", "bucket")
    }),

    // ---- Deterministic train/val/test split assignment ----
    "q74_split_assign" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Mixing.hashBucket(col("doc_id"), 1000).as("bucket"),
          Mixing.assignSplit(col("doc_id"), 0.8, 0.1, 1000).as("split"))
    }),

    // ---- Unigram surprisal (CCNet-style perplexity filter tier) ----
    "q75_unigram_surprisal" -> ((s, dir) => {
      LanguageModel.unigramSurprisal(t(s, dir, "documents"),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Bigram surprisal with stupid backoff (the CCNet tier above
    // q75: word-salad scores high even when each word is common).
    // minCount=21 chosen so BOTH branches bite on the template-heavy
    // synthetic corpus (vacuity rule — measured backoff-branch
    // transitions: 665 at sf0.001, 957 at sf0.01, 255 at sf0.1; the
    // default minCount=2 left the backoff branch with ZERO rows at
    // sf0.1, an oracle that could not catch a broken backoff). ----
    "q77_bigram_backoff" -> ((s, dir) => {
      LanguageModel.bigramSurprisalBackoff(Fan(t(s, dir, "documents")),
          "doc_id", "text", minCount = 21L)
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Train/test decontamination: 13-gram overlap (GPT-3 appendix
    // C). Parity-split of the documents table stands in for the
    // train/eval corpora; exact form declared (the df-capped 100-TB
    // form is spec'd, q70 rationale). ----
    "q78_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.contaminationPairs(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", n = 13)
    }),

    // ---- PII redaction (standard pre-training scrub): e-mails and
    // IPv4 literals to typed placeholders. RE2-compatible regexes (no
    // lookarounds/backrefs) so Spark's Java regex and the oracle's RE2
    // agree byte-for-byte; counts measured on the ORIGINAL text. ----
    "q79_pii_redact" -> ((s, dir) => {
      val (emails, ips) = TextClean.piiCounts(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextClean.redactPii(col("text")).as("redacted"),
          emails.as("n_emails"), ips.as("n_ips"))
    }),

    // ---- C4 line-level cleaning (Raffel et al. 2020 §2.2): keep lines
    // with >=3 words that end in terminal punctuation and carry no
    // boilerplate markers. Pure column HOFs over split lines —
    // shuffle-free, engine-portable. Runs over the derivedLines view
    // (vacuity rule, q77 discipline): the word-count rule bites on
    // short tail lines, the terminal-punctuation rule on the
    // unpunctuated two-thirds. ----
    "q80_c4_lines" -> ((s, dir) => {
      derivedLines(t(s, dir, "documents"), width = 7,
          punctEveryThird = true)
        .withColumn("__derived", array_join(col("__lines"), "\n"))
        .select(col("doc_id"),
          TextClean.c4CleanLines(col("__derived")).as("clean_text"),
          size(filter(split(col("__derived"), "\n"),
            l => TextClean.c4LineKeep(l))).as("n_kept"),
          size(col("__lines")).as("n_lines"))
    }),

    // ---- Corpus-global line dedup (RefinedWeb/MassiveText boilerplate
    // scrub): drop every line whose exact text occurs >1 time across the
    // corpus; row count preserved (all-boilerplate docs survive empty).
    // One census shuffle + anti-join back; see Dedup.lineDedupGlobal.
    // derivedLines at width 4, measured to BITE — 771 of 6,974 line
    // occurrences are corpus-duplicates at sf0.01, 12,679 of 69,549 at
    // sf0.1 — without obliterating the corpus. ----
    "q82_line_dedup" -> ((s, dir) => {
      val derived = derivedLines(t(s, dir, "documents"), width = 4,
          punctEveryThird = false)
        .withColumn("derived_text", array_join(col("__lines"), "\n"))
        .select(col("doc_id"), col("derived_text"))
      Dedup.lineDedupGlobal(derived, "doc_id", "derived_text")
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Co-located bucketed join (SURVEY R15 — the 100-TB join plan):
    // orders and customer bucketed identically on custkey join AND
    // aggregate with ZERO exchanges — bucketing satisfies both the join
    // and the groupBy distribution. Asserted IN the query body on the
    // executed (post-AQE) plan, so every verify/bench run proves the
    // plan shape, not just the row set. Broadcast is disabled for the
    // assert run: a broadcast join would also avoid the shuffle but
    // proves nothing about bucketing (and at 100 TB neither side
    // broadcasts). ----
    "q81_colocated_join" -> ((s, dir) => {
      import graft.sinks.BucketedWarehouse
      // table names + paths discriminated by the corpus dir: concurrent
      // processes on DIFFERENT scale factors stay isolated (same-SF
      // concurrency would need q76-style versioned publish — out of
      // scope for a bench query; single-process reps just Overwrite)
      val disc = md5Hex(dir).take(8)
      val tmp = System.getProperty("java.io.tmpdir") + s"/graft_bw_$disc"
      val ordersTbl = s"bw_orders_$disc"
      val customerTbl = s"bw_customer_$disc"
      // the two table writes are INDEPENDENT jobs — overlap them from
      // two driver threads (guide §2.6) so the smaller write's tasks
      // back-fill cores the larger one leaves idle; failures propagate
      runAll("q81_colocated_join: bucketed write", Seq(
        () => BucketedWarehouse.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey").as("custkey"),
            col("o_totalprice")),
          ordersTbl, "custkey", buckets = 16,
          path = Some(s"$tmp/orders")),
        () => BucketedWarehouse.writeBucketed(
          t(s, dir, "customer").select(col("c_custkey").as("custkey"),
            col("c_name")),
          customerTbl, "custkey", buckets = 16,
          path = Some(s"$tmp/customer"))))
      // broadcast disabled in a CHILD session: newSession() shares the
      // SparkContext and catalog (the bucketed tables are visible) but
      // carries its OWN conf, so concurrent queries on `s` keep their
      // broadcast joins — mutating the session-global threshold here
      // raced with them (set/restore interleaving loses broadcasts
      // silently)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = BucketedWarehouse
        .colocatedJoin(s2, ordersTbl, customerTbl, "custkey")
        .groupBy("custkey")
        .agg(count(lit(1)).as("order_count"),
          round(sum(col("o_totalprice")) + 1e-9, 2).as("total_spend"))
      // execute THIS dataframe's own QueryExecution (count() would
      // wrap it in a new one and leave out.queryExecution at the
      // initial isFinalPlan=false adaptive plan), so the assert reads
      // the FINAL post-AQE plan of the run it just paid for
      out.queryExecution.toRdd.count()
      val plan = out.queryExecution.executedPlan.toString()
      require(!plan.contains("Exchange"),
        "q81_colocated_join: bucketed join/agg still shuffles:\n" +
          plan.take(2000))
      out
    }),

    // ---- Near-dup clusters: pairwise evidence -> connected components
    // -> one canonical survivor per cluster (min id) — the consuming
    // step after q21/q22 that a pipeline actually acts on. The adaptive
    // default: exact driver union-find at this graph size, the star-
    // contraction loop above LocalComponentsEdgeCap edges; oracled
    // against a recursive-CTE transitive closure over the same pair
    // graph. ----
    "q83_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // spanning edges, not all pairs: components are edge-set
      // invariant (see jaccardSpanningEdges proof), so the oracle —
      // a recursive-CTE closure over the FULL pair graph — stays
      // bit-identical while exact-dup cliques emit c-1 edges, not
      // c(c-1)/2 (the r10 30× scale-proof quadratic)
      val pairs = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = ClusterPairDfCap)
      // idsCoverEndpoints: pairs derive from the same docs frame, and
      // doc_id is unique — the filtered-ids seeding/restriction
      // exchanges would be pure overhead here. pairsCanonical: the
      // spanning-edge contract (id_a < id_b, duplicate-free) makes the
      // symmetric-union distinct a no-op exchange — skipped (round 18).
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", idsCoverEndpoints = true,
          pairsCanonical = true)
        .withColumn("keep", col("doc_id") === col("cluster_rep"))
    }),

    // ---- Same clustering through the distributed route: localEdgeCap
    // = 0 forces the O(log n)-round large-star/small-star contraction
    // (Kiveris et al. 2014) that graphs above LocalComponentsEdgeCap
    // take; it must produce EXACTLY q83's clusters (same recursive-CTE
    // oracle), so every oracle run checks the loop as well as the
    // local union-find, cross-engine. ----
    "q86_dup_clusters_star" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = ClusterPairDfCap)
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", idsCoverEndpoints = true,
          localEdgeCap = 0, pairsCanonical = true)
        .withColumn("keep", col("doc_id") === col("cluster_rep"))
    }),

    // ---- Trained quality classifier (GPT-3/WebText recipe): logistic
    // regression over the SAME hashed-gram feature space as q84,
    // trained in-engine to separate the reference stratum (source =
    // 'src0') from the background, then scoring every doc. Rows-only
    // tier (iterative training has no SQL oracle form — q40 precedent);
    // the spec gates separation accuracy AND bitwise-deterministic
    // training across partitionings (fixed-point gradient sums). ----
    "q87_quality_classifier" -> ((s, dir) => {
      import graft.operators.QualityClassifier
      val docs = t(s, dir, "documents")
      // train on a DETERMINISTIC subsample (the GPT-3 recipe: the
      // classifier trains on a labeled sample, then scores the whole
      // corpus — training cost is sample-sized, scoring corpus-sized)
      val labeled = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("label",
          when(col("source") === "src0", 1).otherwise(0))
      val model = QualityClassifier.train(labeled, "doc_id", "text",
        "label", buckets = 1024, iters = 4)
      QualityClassifier.score(docs, "doc_id", "text", model)
    }),

    // ---- DSIR importance weights (Xie et al. 2023): hashed
    // unigram+bigram log2 ratio of a target reference corpus
    // (source='src0' stands in for the paper's Wikipedia/books) vs the
    // raw corpus. md5 bucket hashing keeps BOTH count tables at exactly
    // `buckets` rows regardless of corpus size — broadcast-safe at
    // 100 TB by construction. ----
    "q84_dsir_weights" -> ((s, dir) => {
      // fan: the hashed-gram UDF + explode otherwise runs inside the
      // one-task scan stage (round 18; profile: 0.78 s single-task job)
      val docs = Fan(t(s, dir, "documents"))
      ImportanceSampling.dsirScore(docs,
          docs.where(col("source") === "src0"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Sequence packing (LLM training-data assembly): where each
    // doc's tokens land in the concat-and-chunk stream — exclusive
    // global cumsum, sequence id, in-sequence offset. Two-phase scan
    // (bucket summary + partitioned window), NOT a single-task global
    // window; groupWidth=64 so the bucket path is exercised (79 buckets
    // at sf0.1), seqLen=2048 (GPT-2 context). ----
    "q85_seq_pack" -> ((s, dir) => {
      import graft.operators.SequencePack
      SequencePack.packOrder(
        t(s, dir, "documents").select(col("doc_id"),
          TextMetrics.tokenCountEstimate(col("text")).as("est_tokens")),
        "doc_id", "est_tokens", seqLen = 2048L, groupWidth = 64L)
    }),

    // ---- Duplicate-substring profile (Lee et al. 2022 ExactSubstr,
    // token-window form): window INSTANCES (within-doc repeats count),
    // census on the md5 window fingerprint, per-doc duplicated-window
    // tallies. n = 13 shares the q78 contamination width. ----
    "q88_dup_substrings" -> ((s, dir) => {
      SubstringDedup.duplicatedWindowStats(
        Fan(t(s, dir, "documents")), "doc_id", "text", n = 13)
    }),

    // ---- Lexical diversity (type-token profile): distinct-word and
    // hapax counts per doc — the standard lexical-quality signal
    // (template/spam text has low type-token ratio); integer outputs
    // so the oracle is float-free (callers form the ratios). ----
    "q99_lexical_diversity" -> ((s, dir) => {
      val lex = udf { (text: String) =>
        if (text == null) null
        else {
          val ws = text.trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          if (ws.isEmpty) null
          else {
            val m = new java.util.HashMap[String, Integer]()
            ws.foreach { w =>
              val p = m.get(w)
              m.put(w, if (p == null) 1 else p + 1)
            }
            var hapax = 0L
            val it = m.values().iterator()
            while (it.hasNext) if (it.next() == 1) hapax += 1
            (ws.length.toLong, m.size.toLong, hapax)
          }
        }
      }
      t(s, dir, "documents")
        .select(col("doc_id"), lex(col("text")).as("__l"))
        .where(col("__l").isNotNull)
        .select(col("doc_id"), col("__l._1").as("n_tokens"),
          col("__l._2").as("n_types"), col("__l._3").as("n_hapax"))
    }),

    // ---- Vocabulary census (the tokenizer/LM-training staple): top
    // words by corpus frequency with document frequency, total-ordered
    // (count desc, word asc) so the LIMIT is deterministic
    // cross-engine. One explode + one shuffle. ----
    "q98_vocab_census" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(filter(
          split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0)).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("doc_freq"))
        .orderBy(col("occurrences").desc, col("w").asc)
        .limit(200)
    }),

    // ---- Corpus health report (the dashboard every curation pipeline
    // runs after each build): per-source doc/word totals, Gopher-keep
    // counts, and exact-dup incidence — 3 exchanges (census, census
    // join-back, source rollup; plan-asserted), all integer metrics so
    // the oracle is float-free. ----
    "q97_corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = docs.select(col("doc_id"), col("source"),
        TextMetrics.gopherStruct(col("text")).as("__g"),
        TextMetrics.fingerprint(col("text")).as("__fp"))
      val census = g.groupBy("__fp").agg(count(lit(1)).as("__occ"))
      g.join(census, "__fp")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__g.word_count")).as("total_words"),
          count(when(col("__g.keep"), 1)).as("n_gopher_keep"),
          count(when(col("__occ") >= 2, 1)).as("n_dup_docs"))
    }),

    // ---- The REMOVAL form of q88, also oracled: excise every
    // duplicated >= 13-token span, keeping the corpus-first (min
    // (doc,pos)) occurrence; the oracle rebuilds each doc from its
    // uncovered tokens through a range join. 13 docs at sf0.001 are
    // full duplicates and excise to empty — the operator BITES. ----
    "q96_dup_substring_removal" -> ((s, dir) => {
      SubstringDedup.removeDuplicateWindows(
        t(s, dir, "documents"), "doc_id", "text", n = 13)
    }),

    // ---- Bloom-prefiltered decontamination: same EXACT semantics as
    // q78 (the bloom prefilter has no false negatives and the exact
    // join kills its false positives), so it shares the exact oracle
    // form — n=8/minShared=3 exercises a different region of the
    // parameter space than q78's 13/1. The point is the PLAN: the
    // train corpus's shingle stream is prefiltered map-side against a
    // broadcast bloom of the (small) test side, so the shuffle never
    // carries the corpus. ----
    "q89_bloom_decontaminate" -> ((s, dir) => {
      val docs = Fan(t(s, dir, "documents"))
      Decontaminate.contaminationPairsBloom(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", n = 8, minShared = 3L)
    }),

    // ---- Per-stratum quota sampling (balanced mixtures: exactly N
    // docs per source, deterministic md5 rank — the fixed-size
    // complement of q73's rate sampling). src4..src19 absent from the
    // quota map are dropped: explicit mixture config. The prefiltered
    // 100-TB form is spec-asserted equal to this windowed form. ----
    "q90_quota_sample" -> ((s, dir) => {
      Mixing.quotaSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source",
          Map("src0" -> 12, "src1" -> 7, "src2" -> 25, "src3" -> 3),
          "doc_id", rankCol = Some("sample_rank"))
        .select(col("doc_id"), col("source"),
          col("sample_rank").cast("long").as("sample_rank"))
    }),

    // ---- Language-ID heuristic (SURVEY F12 analogue) ----
    "q18_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("declared_lang"),
          TextMetrics.langIdHeuristic(col("text")).as("detected_lang"))
    }),

    // ---- Document fingerprinting (rolling-hash analogue, md5) ----
    "q19_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.fingerprint(col("text")).as("fp"))
    }),

    // ---- Exact dedup by content hash ----
    "q20_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- n-gram Jaccard near-dup pairs (exact set similarity).
    // Cost is Σ df² over shingle document frequency — a NATURAL
    // corpus-scale stop-shingle still makes one task quadratic (the
    // df-capped q70 / prefix q68 / MinHash q22 forms are the deploy
    // defaults for that regime). Duplication-adaptive since round 13:
    // byte-identical shingle sets contract to representatives before
    // co-occurrence pair generation and the output re-expands from
    // class membership (bit-identical, AdaptivePairsSpec), so MASS
    // DUPLICATION — the df driver the 100x tier stresses — no longer
    // multiplies every df by the clique size. ----
    "q21_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.2)
    }),

    // ---- df-capped exact Jaccard — the 100-TB default for low
    // thresholds: shingles shared by more than maxDocFreq docs are
    // excluded from BOTH pair generation and the per-doc set sizes, so
    // per-shingle work is bounded at maxDocFreq²/2 while the score stays
    // exact over the capped shingle universe. Cap chosen to bite at
    // sf0.1 (max df there is 25) so the capped semantics are
    // oracle-pinned, not vacuously equal to q21. ----
    "q70_jaccard_capped" -> ((s, dir) => {
      Dedup.jaccardPairsCapped(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = 10)
    }),

    // ---- Prefix-filtered exact jaccard (PPJoin-style — the
    // high-threshold 100-TB path; output provably equals jaccardPairs,
    // DedupSimilaritySpec pins it). Duplication-adaptive since round
    // 12: byte-identical shingle sets contract to representatives
    // before prefix generation and the output re-expands from class
    // membership, so mass-duplicated corpora no longer blow up the
    // candidate stage (the former 30x-tier domain boundary). ----
    "q68_jaccard_prefix" -> ((s, dir) => {
      Dedup.jaccardPairsPrefix(Fan(t(s, dir, "documents")), "doc_id", "text",
        n = 3, threshold = 0.6)
    }),

    // ---- MinHash+LSH near-dup — hash-checked since round 11: the
    // scala-murmur3 signer AND Spark's bucket hash() are replayed in
    // DuckDB SQL (MurmurOracleSql.q22) ----
    "q22_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashLshPairs(Fan(t(s, dir, "documents")), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
    }),

    // ---- SimHash near-dup — hash-checked since round 11
    // (MurmurOracleSql.q23): 8x8-bit banding gives COMPLETE recall at
    // hamming<=7 (pigeonhole) — radius matches the guarantee.
    // Duplication-adaptive since round 13: identical signatures
    // contract to one rep before banding (a d-member byte-identical
    // clique lands whole in EVERY band bucket — d²/2 candidates per
    // band was the 100x timeout), re-expansion bit-identical. ----
    "q23_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(Fan(t(s, dir, "documents")), "doc_id", "text",
        maxHamming = 7)
    }),

    // ---- Brute-force ANN top-k (exact baseline) ----
    "q24_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
    }),

    // ---- IVF ANN top-k (scale path; rows-only) ----
    "q25_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5,
        stride = 20, nProbe = 3)
    }),

    // ---- PORTABLE MinHash signatures: the oracle-able signer (md5
    // base hash + fixed affine maps mod 2^61-1) — moves MinHash itself
    // from the rows-only tier to a hash-matched oracle; q22's fast
    // xxhash signer remains the throughput path, this one proves the
    // signature algebra cross-engine. ----
    "q92_minhash_portable" -> ((s, dir) => {
      Dedup.minhashSignaturesPortable(
          t(s, dir, "documents"), "doc_id", "text", n = 3)
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- MinHash-LSH pairs over the portable signer: banding,
    // candidates, and the matching-fraction estimate all replayed by
    // the oracle — the first fully-oracled LSH in the suite (q22's
    // engine-local-hash form keeps the throughput crown). ----
    "q93_minhash_lsh_portable" -> ((s, dir) => {
      Dedup.minhashLshPairsPortable(
        t(s, dir, "documents"), "doc_id", "text", n = 3, bands = 4)
    }),

    // ---- BPE tokenization (Sennrich 2016): merges trained in-engine
    // on the bounded word-count table (ONE corpus shuffle; training is
    // vocab-sized driver work, the centroid discipline), row-local
    // encode with broadcast ranks. Rows-only tier (sequential merge
    // training has no SQL form); the spec pins determinism and the
    // round-trip property. ----
    "q95_bpe_tokens" -> ((s, dir) => {
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val model = Bpe.train(docs, "text", numMerges = 200,
        minWordCount = 2L)
      Bpe.encode(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens"))
    }),

    // ---- Portable SimHash (q92/q93 companion): md5-based 60-bit
    // variant emitted relationally (doc, bit, bitval), so the oracle
    // replays the full vote-and-sign construction. q23's murmur form
    // keeps the throughput path. ----
    "q94_simhash_portable" -> ((s, dir) => {
      Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- SemDeDup (Abbas et al. 2023): k-means clusters confine the
    // quadratic epsilon-ball search; min-id survivor per ball.
    // Rows-only tier (iterative k-means has no SQL oracle form — q25
    // precedent); the spec gates planted-duplicate recall and exact
    // keep-set determinism. ----
    "q91_semdedup" -> ((s, dir) => {
      import graft.operators.SemDedup
      SemDedup.semDedup(t(s, dir, "embeddings"), eps = 0.97,
        stride = 20, iters = 2)
    }),

    // ---- Persisted IVF index probe (ANN as a TABLE — IvfIndex). Build
    // once per corpus dir into a versioned tmp index (atomic-publish;
    // rebuilding from the same corpus is byte-identical, so a cached
    // index is equivalent to a fresh one), then probe with the q25
    // workload. The vectors scan must be pruned by Spark's dynamic
    // partition pruning — asserted IN the query body after running the
    // plan, so every bench/verify execution proves the index property,
    // not just the row set. Rows-only tier (engine-defined, like q25).
    "q76_ivf_index" -> ((s, dir) => {
      import graft.operators.IvfIndex
      val emb = t(s, dir, "embeddings")
      // cache key = corpus FILE STATUS (name/length/mtime), not just
      // the path: a regenerated corpus at the same path must rebuild,
      // or the index would silently serve stale neighbors
      val sig = {
        val (fs, p) = HadoopFs(s, s"$dir/embeddings.parquet")
        val st = fs.getFileStatus(p)
        val parts =
          if (st.isDirectory)
            fs.listStatus(p).map(x => s"${x.getPath.getName}:${x.getLen}:" +
              s"${x.getModificationTime}").sorted.mkString("|")
          else s"${st.getLen}:${st.getModificationTime}"
        s"$dir|$parts"
      }
      val idxDir = System.getProperty("java.io.tmpdir") +
        "/graft_ivf_index_" + md5Hex(sig)
      if (IvfIndex.currentVersion(idxDir).isEmpty)
        IvfIndex.buildVersioned(emb, idxDir, stride = 20)
      val out = IvfIndex.topKVersioned(s, idxDir,
        emb.where(col("vec_id") < 10), k = 5, nProbe = 3)
      // execute THIS dataframe's own QueryExecution (count() would wrap
      // it in a new one, leaving out.queryExecution unexecuted) so the
      // assert reads the plan of the run it just paid for
      out.queryExecution.toRdd.count()
      require(IvfIndex.isDppPruned(out),
        "q76_ivf_index: vectors scan was not dynamic-partition-pruned")
      out
    }),

    // ---- Embedding column stats (vector math as columns) ----
    "q26_embedding_stats" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(VectorFunctions.norm(col("embedding"))) + 1e-9, 4)
            .as("avg_norm"))
    }),

    // ---- Event-time hourly aggregation (SURVEY T2 analogue) ----
    "q27_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy((expr("ts DIV 1000000000 DIV 3600") * 3600)
            .as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) + 1e-9, 2).as("total_value"))
    }),

    // ---- JSON field extraction (SURVEY F30) ----
    "q28_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
    }),

    // ---- Sessionization (gap > 30 min ⇒ new session) ----
    "q29_sessionize" -> ((s, dir) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val withGap = t(s, dir, "events")
        .withColumn("sec", tsSec)
        .withColumn("prev_sec", lag(col("sec"), 1).over(wOrd))
        .withColumn("new_session",
          when(col("prev_sec").isNull ||
            col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
        .withColumn("session_seq", sum(col("new_session"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      withGap.groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
    }),

    // ---- Rollup (grouping sets — free Spark extension, SURVEY §2.4) ----
    "q30_rollup" -> ((s, dir) => {
      // rollup through SQL text: Spark 4.1's DetectAmbiguousSelfJoin
      // false-positives on the Dataset rollup API (Expand duplicates the
      // grouping attrs); SQL-resolved plans carry no dataset-id metadata.
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"))
        .createOrReplaceTempView("q30_rollup_input")
      s.sql("""SELECT r_name, n_name, count(*) AS n_customers
        FROM q30_rollup_input GROUP BY ROLLUP (r_name, n_name)""")
    }),

    // ---- Select-by-last-step: the reference's core batch selection ----
    "q31_select_by_last_step" -> ((s, dir) => {
      Ledger.selectByLastStep(t(s, dir, "events"),
          Seq("purchase", "signup"), keyCol = "user_id",
          stepCol = "event_type", orderCol = "event_id")
        .select("user_id", "event_id", "event_type")
    }),

    // ---- Per-group argmax (SURVEY O5) as a partial-aggregating
    // max(struct): no global sort shuffle (the window formulation
    // single-threads each event_type partition — with 5 types that
    // caps parallelism at 5 regardless of cluster size). Tie-break:
    // highest value, then LOWEST event_id (negate inside the struct). ----
    "q32_argmax_value" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(max(struct(col("value"), (-col("event_id")).as("neg_id")))
          .as("m"))
        .select(col("event_type"), (-col("m.neg_id")).as("event_id"),
          col("m.value"))
    }),

    // ---- Tumbling 15-min window agg (streaming semantics, batch) ----
    "q33_window_15min" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy((expr("ts DIV 1000000000 DIV 900") * 900)
            .as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) + 1e-9, 2).as("total_value"))
    }),

    // ---- Global order + limit (SURVEY O1/O3) ----
    "q34_order_limit" -> ((s, dir) => {
      t(s, dir, "events")
        .orderBy(col("event_id").desc)
        .limit(100)
        .select("event_id", "user_id", "event_type")
    }),

    // ---- Distinct counts (SURVEY A5) ----
    "q35_distinct_count" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
    }),

    // ---- Intersect (SURVEY §2.7 set ops) ----
    "q36_intersect" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier")
          .select(col("s_nationkey").as("nationkey")))
    }),

    // ---- Staleness window + conjunction predicate (SURVEY P3/P4) ----
    "q37_stale_window" -> ((s, dir) => {
      t(s, dir, "events")
        .where(tsSec < 1704412800L && col("event_type") === "purchase")
        .select("event_id", "user_id")
    }),

    // ---- Chunk + embed + byte-codec (SURVEY M1/M2/F33/W3; rows-only:
    // the chunker/embedder are engine-defined, no SQL equivalent) ----
    "q38_chunk_embed" -> ((s, dir) => {
      Fan(t(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(graft.ml.Chunker.slices(col("text"), 32))
            .as(Seq("order_sequence", "body")))
        .withColumn("embedding",
          graft.expr.VectorCodec.floatVectorToBytes(
            // resolved through the executor-side ModelRegistry (R7) —
            // the same seam a safetensors: model name plugs into; the
            // stub-64 backend is bit-identical to StubEmbedder.embed
            graft.ml.ModelRegistry.embedding(col("body"), "stub-64")))
        .select(col("doc_id"), col("order_sequence"),
          octet_length(col("embedding")).as("embedding_bytes"))
    }),

    // ---- Keyword extraction w/ MMR (SURVEY M6; rows-only) ----
    // PORTABLE form since round 9 (Keywords.extractPortable): md5
    // integer feature-hash embeddings make every MMR cosine exact, so
    // the greedy loop replays in SQL; the murmur stub tier remains the
    // spec-covered production shape (extract/extractUdf).
    "q39_keywords" -> ((s, dir) => {
      Fan(t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(graft.ml.Keywords.extractPortable(col("text"), topN = 5))
            .as("kw"))
        .select(col("doc_id"), col("kw.keyword"),
          round(col("kw.score") + 1e-9, 4).as("score"))
    }),

    // ---- Cube grouping sets (free Spark/DuckDB extension) ----
    "q41_cube" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 10).as("user_bucket"), col("value"))
        .createOrReplaceTempView("q41_cube_input")
      // SQL text for the same DetectAmbiguousSelfJoin reason as q30
      s.sql("""SELECT event_type, user_bucket, count(*) AS n,
        round(sum(value) + 1e-9, 2) AS total
        FROM q41_cube_input GROUP BY CUBE (event_type, user_bucket)""")
    }),

    // ---- lead/lag window (free extension beyond the reference);
    // `+ 0.0` collapses -0.0 like q57 (deltas can round to zero) ----
    "q42_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (round(col("value") - coalesce(lag(col("value"), 1).over(w),
            lit(0.0)) + 1e-9, 2) + 0.0).as("delta"))
    }),

    // ---- Deterministic UUID generation (SURVEY F28) ----
    "q43_uuid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Ids.uuidDeterministic(col("doc_id"), col("lang"))
            .as("doc_uuid"))
    }),

    // ---- Embedding-cosine near-dup via hyperplane LSH buckets
    // (training-data dedup). PORTABLE form since round 9: md5 feature-hash
    // embedding + md5-derived hyperplanes + exact integer dots, so the
    // oracle replays signatures and cosines bit-identically (the q92/q94
    // promotion applied to the embedding family; the murmur-based fast
    // variant stays in Dedup for spec/throughput use). Runs on documents
    // — the random `embeddings` table has no pair above cosine 0.52, so
    // it can't demonstrate the operator; document texts share vocabulary
    // and yield real near-dup structure. Duplication-adaptive since
    // round 13: identical feature vectors contract to one rep before
    // the LSH-bucket self-join (a byte-identical clique shares one
    // bucket — d²/2 integer-dot verifies per clique was the 100x
    // timeout), re-expansion bit-identical (intra cos = 1.0 exactly:
    // the verify's 4-dp round absorbs the sqrt ulp). ----
    "q44_embedding_neardup" -> ((s, dir) => {
      graft.operators.Dedup.embeddingNearDupPairsPortable(
        Fan(t(s, dir, "documents")), "doc_id", "text", threshold = 0.8)
    }),

    // ---- approx distinct counts (A5 scale variant: HLL sketch beats
    // exact distinct at 100 TB). PORTABLE HLL since round 9 (md5-bucketed
    // registers, exact-integer indicator sum) so the estimate itself is
    // oracle-checked, not just the row count. ----
    "q45_approx_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Hll
        .approxCountDistinct(ev, "event_type", col("user_id"), "approx_users")
        .join(graft.operators.Hll.approxCountDistinct(
          ev, "event_type", col("event_id"), "approx_ids"), "event_type")
    }),

    // ---- SDG classification matmul (SURVEY M3/M4). PORTABLE form
    // since round 9 (SdgClassifier.classifyPortableQ): integer-quantized
    // embeddings x md5-derived weights, decisions in logit space — the
    // oracle replays binary gate, logit, and 17-way argmax exactly. The
    // float sigmoid operators (classifyBinary/NWay) remain the
    // production sklearn-parity surface, spec-covered in MlSpec. ----
    "q40_sdg_classify" -> ((s, dir) => {
      graft.ml.SdgClassifier.classifyPortableQ(t(s, dir, "embeddings"))
    }),

    // ---- DOI / HAL-version URL cleaning (SURVEY F18/F19) ----
    "q46_url_clean" -> ((s, dir) => {
      val doiRaw = concat(lit("https://doi.org/10.5281/zenodo."),
        col("doc_id"))
      val halRaw = concat(lit("https://hal.science/hal-"),
        col("doc_id"), lit("v3"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(doiRaw, "^https?://doi\\.org/", "").as("doi"),
          regexp_replace(halRaw, "v\\d+$", "").as("hal_url"))
    }),

    // ---- First-segment description (SURVEY F23 split+element_at) ----
    "q47_first_segment" -> ((s, dir) => {
      val seg = element_at(split(col("text"), " table "), 1)
      t(s, dir, "documents")
        .select(col("doc_id"), seg.as("seg"), length(seg).as("seg_len"))
    }),

    // ---- HTTP status -> action class (SURVEY P12 url_checker) ----
    "q48_status_class" -> ((s, dir) => {
      val status = lit(100) + pmod(col("event_id"), lit(500))
      t(s, dir, "events")
        .select(col("event_id"), status.as("status"),
          when(status.between(200, 299), "VALID")
            .when(status.between(300, 399), "TO_UPDATE")
            .when(status.between(400, 499), "TO_DELETE")
            .otherwise("UNKNOWN").as("status_class"))
    }),

    // ---- URL host extraction + domain predicate (SURVEY F20/P11) ----
    "q49_url_host" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.org/doc/"), col("doc_id")))
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .where(col("host").endsWith(".example.org"))
        .select(col("doc_id"), col("host"))
    }),

    // ---- Date-format round trip to epoch seconds (SURVEY F26) ----
    "q50_date_roundtrip" -> ((s, dir) => {
      val pub = date_format(col("o_orderdate"), "yyyyMMdd")
      t(s, dir, "orders")
        .select(col("o_orderkey"), pub.as("pubdate"),
          unix_timestamp(to_timestamp(pub, "yyyyMMdd")).as("pub_epoch"))
    }),

    // ---- Exact interpolated percentiles (agg extension; the scale
    // path is approx_percentile — rows-only q45 covers sketches) ----
    "q51_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)") + 1e-9, 4)
            .as("p50"),
          round(expr("percentile(l_quantity, 0.9)") + 1e-9, 4).as("p90"))
    }),

    // ---- Pivot (free Spark extension; oracle via FILTER aggs) ----
    "q52_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(round(sum(col("value")) + 1e-9, 2))
      p.select(col("user_bucket") +: types.map(tp =>
        coalesce(col(tp), lit(0.0)).as(tp)): _*)
    }),

    // ---- ntile / percent_rank / cume_dist windows (W extension) ----
    "q53_window_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w) + 1e-9, 6).as("pct_rank"),
          round(cume_dist().over(w) + 1e-9, 6).as("cume"))
    }),

    // ---- bool_or / bool_and existence aggregation (SURVEY A8) ----
    "q54_bool_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(expr("bool_or(event_type = 'purchase')").as("has_purchase"),
          expr("bool_and(value >= 0)").as("all_nonneg"),
          count(lit(1)).as("n"))
    }),

    // ---- Batched-lookup join with in-band error channel (SURVEY J8:
    // requested ids vs responses; unmatched -> error rows) ----
    "q55_lookup_errors" -> ((s, dir) => {
      val requested = t(s, dir, "customer")
        .where(col("c_custkey") <= 200).select("c_custkey")
      val responses = t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      requested.join(responses,
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          when(col("o_custkey").isNull, "not_returned")
            .otherwise("ok").as("error_info"))
    }),

    // ---- Explicit GROUPING SETS (extension beyond rollup/cube) ----
    "q56_grouping_sets" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val n = t(s, dir, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
      val r = t(s, dir, "region").select("r_regionkey", "r_name")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"))
        .createOrReplaceTempView("q56_gs_input")
      s.sql("""SELECT r_name, n_name, count(*) AS n_customers
        FROM q56_gs_input
        GROUP BY GROUPING SETS ((r_name), (n_name), ())""")
    }),

    // ---- Bounded top-k aggregate (custom TypedImperativeAggregate):
    // same result as q05's window, but partial top-k per partition —
    // each map task ships <=k rows per group instead of sorting every
    // row through the shuffle (the 100-TB path for top-k-per-group) ----
    "q58_topk_agg" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      counts.groupBy("user_id")
        .agg(graft.expr.TopK.topKBy(
          struct(col("cnt"), col("event_type")), 2,
          descending = Seq(true, false)).as("top"))
        .select(col("user_id"),
          posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("user_id"), col("t.event_type"), col("t.cnt"),
          (col("pos") + 1).cast("int").as("rnk"))
    }),

    // ---- float32-LE vector byte codec round trip (SURVEY F33): byte
    // width and bit-exact decode are oracle-checkable even though the
    // codec itself is engine-defined ----
    "q63_vector_codec" -> ((s, dir) => {
      val enc = graft.expr.VectorCodec.floatVectorToBytes(col("embedding"))
      val dec = graft.expr.VectorCodec.bytesToFloatVector(enc)
      val out = t(s, dir, "embeddings")
        .select(col("vec_id"),
          octet_length(enc).as("n_bytes"),
          (dec === col("embedding")).as("roundtrip_ok"))
      // this query IS the codec's bit-exactness gate: in a session with
      // the EliminateVectorCodecRoundTrip rule active AND a non-null
      // element schema, the optimizer would rewrite roundtrip_ok to
      // embedding === embedding — vacuously true while a real decode
      // bug ships (the oracle emits literal true and cannot notice).
      // Require the decode kernel to still be IN the plan, loudly.
      require(out.queryExecution.optimizedPlan.toString()
          .toLowerCase.contains("bytestofloatvector"),
        "q63_vector_codec: the decode kernel was optimized out — the " +
          "round-trip check is vacuous in this session")
      out
    }),

    // ---- Salted replicate join (SURVEY R-skew): hot-key mitigation
    // whose RESULT is oracle-checked equal to the plain join — the
    // salt must never change semantics ----
    "q62_salted_join" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      graft.operators.Skew.saltedJoin(
          t(s, dir, "customer"), nation, "c_nationkey", saltBuckets = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")) + 1e-9, 2).as("total_acctbal"))
    }),

    // ---- The reference's §3.1 batch selection END-TO-END as one
    // oracled query: latest-state filter (J1/P2) -> order+limit
    // (O1/O3) -> byte-capped greedy admission (A2) — the composed
    // generate_to_vectorize selection, on the events ledger ----
    "q61_batch_selection" -> ((s, dir) => {
      val selected = Ledger.selectByLastStep(t(s, dir, "events"),
          Seq("purchase"), keyCol = "user_id", stepCol = "event_type",
          orderCol = "event_id")
        .select(col("user_id"), col("event_id"),
          // floor, not cast: DuckDB CAST(double AS BIGINT) rounds
          // while Spark truncates — floor is identical in both
          floor(col("value") * 100).cast("long").as("weight"))
      Ledger.byteCapAdmit(selected,
        Seq(col("event_id").desc), "weight", cap = 50000L,
        limitRows = 500, keepCumAs = Some("cum_weight"))
        .select("user_id", "event_id", "weight", "cum_weight")
    }),

    // ---- Deterministic string aggregation (listagg analogue): sorted
    // distinct values joined per group — order pinned in both engines ----
    "q60_string_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(array_join(array_sort(collect_set(
          pmod(col("user_id"), lit(10)).cast("string"))), ",")
          .as("user_buckets"),
          count(lit(1)).as("n"))
    }),

    // ---- RANGE window frame: per-event trailing 30-min activity
    // (value-based frame — W-series extension; rows frames are W4) ----
    "q59_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-1800L, Window.currentRow)
      t(s, dir, "events")
        .withColumn("sec", tsSec)
        .select(col("user_id"), col("event_id"), col("sec"),
          count(lit(1)).over(w).as("n_trailing_30m"),
          round(sum(col("value")).over(w) + 1e-9, 2)
            .as("val_trailing_30m"))
    }),

    // ---- L2 normalization of embeddings (SURVEY F36). `+ 0.0` after
    // the round collapses IEEE -0.0 to +0.0 — the engines disagree on
    // the sign of a rounded-to-zero negative, and the driver's hash
    // compares stringified values ('-0.0' != '0.0') ----
    "q57_l2_normalize" -> ((s, dir) => {
      val norm = VectorFunctions.norm(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), round(norm + 1e-9, 4).as("norm"),
          (round(element_at(col("embedding"), 1).cast("double") / norm
            + 1e-9, 4) + 0.0).as("u1"),
          (round(element_at(col("embedding"), 2).cast("double") / norm
            + 1e-9, 4) + 0.0).as("u2"))
    }),

    // ---- Materialized exact dedup (the consuming form of q20's
    // census: one surviving row per distinct normalized text) ----
    "q69_dedup_keep_first" -> ((s, dir) => {
      Dedup.dedupKeepFirst(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), octet_length(col("text")).as("octets"))
    }),

    // ---- Statistical aggregates (corr / stddev / variance / regr —
    // free from Catalyst, exposed for analytics parity) ----
    "q64_stats_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          (round(corr(col("l_quantity"), col("l_extendedprice")) + 1e-9, 4)
            + 0.0).as("qty_price_corr"),
          round(stddev_samp(col("l_quantity")) + 1e-9, 4).as("qty_stddev"),
          round(var_samp(col("l_quantity")) + 1e-9, 4).as("qty_var"),
          (round(regr_slope(col("l_extendedprice"), col("l_quantity"))
            + 1e-9, 4) + 0.0).as("price_per_qty_slope"),
          count(lit(1)).as("n"))
    }),

    // ---- Calendar rollup (F26 date handling at aggregation grain) ----
    "q65_monthly_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")) + 1e-9, 2).as("monthly_revenue"))
    }),

    // ---- first_value / last_value over a full frame (W-series:
    // per-user first and latest reading in one windowed pass) ----
    "q66_first_last" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"))
    }),

    // ---- ntile decile binning (O-series: equal-count partitioning for
    // stratified sampling / training-data splits). A bare
    // `ntile(10) OVER (ORDER BY ...)` window is ONE task — the whole
    // table funnels through a single sort partition (measured 60x
    // superlinear at the 100x tier). ScalableRank's two-phase
    // range-partitioned rank computes the SAME ANSI ntile from a
    // distributed sort (constant key: range boundaries split on the
    // score, so one key still spreads over every partition). ----
    "q67_ntile_decile" -> ((s, dir) => {
      graft.operators.ScalableRank.globalNtile(
          t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", "o_orderkey", k = 10,
          ntileCol = "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"))
    }),

    // ---- BM25 lexical retrieval (Okapi, Lucene +1 idf) for a fixed
    // 3-term query: the corpus-wide exchange carries ONLY query-term
    // hits (the IN-filter runs inside the scan projection, before the
    // explode's shuffle); df/N/avgdl joins are broadcast-sized. The
    // per-(doc,term) contribution quantizes to LONG micro-units before
    // the per-doc sum, so the compare boundary is integer. Top-50 via
    // TakeOrderedAndProject (parallel partial top-k), ranks assigned
    // on the 50-row result. ----
    "q100_bm25_topk" -> ((s, dir) => {
      import graft.operators.Retrieval
      // NOT fanned (round 19): the round-18 fan() here was a
      // driver-measured regression (0.647 -> 0.891 s) — bm25's per-row
      // work is a split + IN-filter + explode into an immediate partial
      // aggregation, the exact shape the r18 reverts (q75/q101/q111/
      // q116/q117/q118) identified as too cheap to amortize the extra
      // round-robin exchange.
      Retrieval.rankBy(
        Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
          BmQueryTerms),
        Seq(col("score_fp6").desc, col("doc_id").asc), topN = 50)
    }),

    // ---- Hybrid retrieval: reciprocal-rank fusion (Cormack 2009) of
    // the BM25 top-100 and the embedding-cosine top-100 for the
    // vec_id=0 probe (doc_id = vec_id in the testdata pairing). RRF
    // contributions are 1e9 DIV (60+rank) — the fusion is exact
    // integer arithmetic end-to-end; the fused join is top-N-sized,
    // never corpus-sized. ----
    "q101_hybrid_rrf" -> ((s, dir) => {
      import graft.operators.Retrieval
      val lex = Retrieval.rankBy(
          Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
            BmQueryTerms),
          Seq(col("score_fp6").desc, col("doc_id").asc), topN = 100)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") === 0), k = 100)
        .select(col("c_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), "doc_id")
    }),

    // ---- Crawl-frontier politeness schedule: per-host sequential
    // fetch slots spaced by the host's crawl delay (the Robots
    // crawlDelay dimension shape; source stands in for host, src2 has
    // no delay row and takes the default). ONE shuffle, on the window
    // partition key — per-host serialization IS the politeness
    // contract. ----
    "q102_crawl_schedule" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Retrieval
      val delays = Seq(("src0", 1000L), ("src1", 250L))
        .toDF("source", "delay_ms")
      Retrieval.politenessSchedule(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", Seq(col("doc_id").asc), delays, "delay_ms",
        defaultDelayMs = 500L)
    }),

    // ---- Interpolated Kneser-Ney bigram surprisal (Kneser & Ney
    // 1995; the KenLM default) — the fidelity tier above q77's stupid
    // backoff: the lower-order distribution is CONTINUATION
    // probability, not raw frequency. minCount=21 shared with q77 so
    // both the discounted and the continuation branches bite. ----
    "q103_kneser_ney" -> ((s, dir) => {
      LanguageModel.kneserNeySurprisal(Fan(t(s, dir, "documents")),
          "doc_id", "text", minCount = 21L)
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Shuffle-free unigram surprisal: broadcast capped vocab, one
    // row-local pass, ZERO scoring exchanges — same semantics as q75
    // (SHARES its oracle), bit-for-bit via the StrictMath/HALF_UP
    // parity discipline (the dsirScoreFast pattern). ----
    "q104_unigram_fast" -> ((s, dir) => {
      LanguageModel.unigramSurprisalFast(t(s, dir, "documents"),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Shuffle-free bigram backoff: broadcast bigram+unigram
    // tables, one row-local pass — same semantics as q77 (SHARES its
    // oracle). ----
    "q105_bigram_backoff_fast" -> ((s, dir) => {
      LanguageModel.bigramSurprisalBackoffFast(t(s, dir, "documents"),
          "doc_id", "text", minCount = 21L)
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- Retrieval evaluation: hits/recall/MRR/nDCG@20 of the
    // cosine ranking (q24's probes) against label-match relevance —
    // the eval loop a retrieval pipeline closes with. Integer
    // hits/ranks, exact fixed-point MRR, 4-dp recall/nDCG. ----
    "q106_retrieval_eval" -> ((s, dir) => {
      import graft.operators.Retrieval
      val emb = t(s, dir, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
      val ranking = Similarity.bruteForceTopK(emb, probes, k = 20)
        .select(col("q_id"), col("c_id"), col("rank"))
      val relevant = probes
        .select(col("vec_id").as("q_id"), col("label").as("__ql"))
        .join(emb.select(col("vec_id").as("c_id"),
          col("label").as("__cl")), col("__ql") === col("__cl"))
        .where(col("c_id") =!= col("q_id"))
        .select(col("q_id"), col("c_id"))
      Retrieval.rankingMetrics(ranking, relevant, "q_id", "c_id",
        k = 20)
    }),

    // ---- Incremental exact dedup (the production ingest shape): the
    // src10-19 batch dedups against the src0-9 snapshot WITHOUT
    // reshuffling the snapshot — distinct fingerprints anti-join +
    // batch-local keep-first. Bites at sf0.1 (8 cross-half dup
    // fingerprints); the planted-dup spec pins both rules at any
    // scale. ----
    "q107_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupIncremental(
          docs.where(length(col("source")) === 5), // src10..src19
          docs.where(length(col("source")) === 4), // src0..src9
          "doc_id", "text")
        .select(col("doc_id"), octet_length(col("text")).as("octets"))
    }),

    // ---- PageRank over the customer-supplier transaction graph —
    // the crawl-frontier authority scorer (a 100 TB crawl prioritizes
    // hosts by link authority, not flat quotas). Fixed-point integer
    // ranks (scale 1e12): every contribution floor-divides to an
    // exact long, so sums are associative and the result is bitwise
    // identical across partitionings AND engines — the oracle unrolls
    // the same integer recurrence as five chained CTEs. One shuffle
    // per iteration (edges persisted partitioned on src; ranks arrive
    // partitioned on node id from the previous groupBy). ----
    "q108_pagerank" -> ((s, dir) => {
      import graft.operators.Graph
      val base = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      val nodes = t(s, dir, "customer")
        .select(col("c_custkey").as("node_id"))
        .unionByName(t(s, dir, "supplier")
          .select((col("s_suppkey") + lit(1000000L)).as("node_id")))
      Graph.pageRankFixed(s, nodes, Graph.undirect(base, "src", "dst"),
        "node_id", "src", "dst", iters = 5, edgesDistinct = true)
    }),

    // ---- TF-IDF top-3 terms per document (keyword profiles / index-
    // time term selection). Smooth idf, score quantized to micro-units
    // so the per-doc ranking is integer with a term tie-break; the
    // per-doc top-k goes through the bounded-heap TopK aggregate (map-
    // side partial top-k), not a full sort window. ----
    // NOT fanned (round 19): the round-18 fan() read flat in the
    // driver's window (0.948 -> 0.968 s) — same cheap split+explode+
    // partial-agg shape as q100; the exchange buys nothing.
    "q109_tfidf_terms" -> ((s, dir) =>
      graft.operators.Retrieval.tfIdfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // ---- Temperature-scaled mixture (mT5/Pile alpha=0.5): quotas
    // derive from the DATA (count^alpha, micro-unit-quantized so the
    // weight sum is integer), then the q90 deterministic md5-rank
    // take per stratum. The whole quota vector is bit-deterministic
    // cross-engine — sqrt is IEEE exactly-rounded, everything after
    // it is integer arithmetic. ----
    "q110_temperature_mix" -> ((s, dir) => {
      Mixing.temperatureMixtureSqrt(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", target = 200L,
          rankCol = Some("mix_rank"))
        .select(col("doc_id"), col("source"),
          col("mix_rank").cast("long").as("mix_rank"))
    }),

    // ---- PMI collocations (Church & Hanks): the multiword-expression
    // miner before vocab building. Integer counts, one ln in a fixed
    // operator order, micro-unit quantized — the oracle replays the
    // identical expression. ----
    "q111_pmi_collocations" -> ((s, dir) =>
      LanguageModel.pmiCollocations(
        t(s, dir, "documents"), "doc_id", "text", minCount = 5L)),

    // ---- Incremental NEAR-dup: the q107 ingest shape for MinHash —
    // the new batch LSH-checks against the corpus snapshot without
    // re-pairing the snapshot against itself; batch-sized tables
    // broadcast into both joins. Same portable signer as q92/q93, so
    // the cross-stratum candidates + estimates replay in SQL. ----
    "q112_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashLshIncremental(
        docs.where(length(col("source")) === 5), // src10..src19
        docs.where(length(col("source")) === 4), // src0..src9
        "doc_id", "text")
    }),

    // ---- Ordered funnel over the event log (view -> click ->
    // purchase): greedy earliest-match join chain, all integer —
    // the oracle replays the identical nested-min construction. ----
    "q113_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
        t(s, dir, "events").withColumn("sec", tsSec),
        "user_id", "sec", "event_type",
        Seq("view", "click", "purchase"))),

    // ---- Cohort retention: users bucketed by first-event week,
    // distinct-active per (cohort, week offset). Pure integer DIV
    // bucketing. ----
    "q114_cohort_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(
        t(s, dir, "events").withColumn("sec", tsSec),
        "user_id", "sec", periodSec = 604800L)),

    // ---- Edit-distance self-join (PassJoin segment blocking) over
    // 24-char document prefixes: exact pair set at tau=2, found via
    // pigeonhole segments instead of the oracle's O(n²) cross join.
    // tau=2 keeps 8-char segments — on this corpus's tiny vocab,
    // tau=3's 6-char segments are stop-shingle-grade hot keys. ----
    "q115_edit_distance_join" -> ((s, dir) =>
      graft.operators.EditDistanceJoin.selfJoin(
        t(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 24).as("s")),
        "doc_id", "s", tau = 2)),

    // ---- Exact heavy hitters (tokens with count > n/30) via a
    // Misra-Gries candidate pass + candidate-pruned exact recount —
    // the census never shuffles; the answer is still exact, so it
    // hash-matches the census oracle. ----
    "q116_heavy_hitters" -> ((s, dir) =>
      graft.operators.HeavyHitters.frequentTokens(
        t(s, dir, "documents"), "text", k = 30)),

    // ---- Zipf power-law fit of the token-frequency census:
    // micro-quantized ln, decimal(38,0) moment sums, one float
    // division at the end (the q111 numeric discipline). ----
    "q117_zipf_fit" -> ((s, dir) =>
      LanguageModel.zipfFit(t(s, dir, "documents"), "text")),

    // ---- CCNet head/middle/tail buckets (Wenzek et al. 2020):
    // per-language perplexity terciles over the q75/q104 unigram
    // surprisal. The tercile is exact ANSI ntile(3) semantics, but
    // computed by ScalableRank's two-phase range-partitioned ranking —
    // never a per-language window partition (one language = one task
    // does not survive 100 TB). Shares q75's scoring semantics, so the
    // oracle replays the q75 CTEs + a plain ntile window. ----
    "q118_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scores = LanguageModel
        .unigramSurprisalFast(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "avg_surprisal")
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(scores, "doc_id")
      graft.operators.ScalableRank.ntileByKey(scored,
          "lang", "avg_surprisal", "doc_id", k = 3, ntileCol = "__nt")
        .select(col("doc_id"), col("lang"), col("avg_surprisal"),
          when(col("__nt") === 1, "head")
            .when(col("__nt") === 2, "middle")
            .otherwise("tail").as("bucket"))
    }),

    // ---- Leakage-safe split: train/val/test assignment keyed on the
    // DUP-CLUSTER representative, not the document — near-duplicates
    // land in the SAME split by construction, so cross-split
    // contamination from surviving near-dups is structurally
    // impossible (the q74 md5 split, the q83 clusters). ----
    "q119_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardSpanningEdges(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = ClusterPairDfCap)
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          idCol = "doc_id", idsCoverEndpoints = true,
          pairsCanonical = true)
        .select(col("doc_id"), col("cluster_rep"),
          Mixing.assignSplit(col("cluster_rep"), 0.8, 0.1)
            .as("split"))
    }),

    // ---- Water-filling mixture rebalance: level per-source takes at
    // the largest uniform cap whose total fits the target — small
    // sources keep everything, large sources clip to the water line.
    // Closed-form integer quota vector (no iteration), then the q90
    // deterministic md5-rank take per stratum. ----
    "q120_water_fill" -> ((s, dir) =>
      Mixing.waterFillMix(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", target = 300L,
          rankCol = Some("mix_rank"))
        .select(col("doc_id"), col("source"),
          col("mix_rank").cast("long").as("mix_rank"))),

    // ---- Semantic decontamination (round 9): embedding-space eval
    // hygiene — train docs within cosine 0.8 of any src0 "benchmark"
    // doc are flagged even when paraphrase defeats the 13-gram tests
    // (q78/q89's lexical complement). Eval side broadcasts; portable
    // q44 algebra, so the decision is fully oracled. ----
    "q121_semantic_decontaminate" -> ((s, dir) => {
      val docs = Fan(t(s, dir, "documents"))
      graft.operators.Dedup.semanticDecontaminate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", threshold = 0.8)
    }),

    // ---- Portable chunk packing (round 9): the reference's M1 packing
    // loop over PINNED-regex sentence boundaries, so the greedy
    // flush/truncate/co-pack algorithm itself is hash-checked (the
    // oracle replays the resettable cumsum with a recursive CTE).
    // q38 remains the production surface with BreakIterator
    // boundaries (quantified in ChunkerParitySpec). ----
    "q122_chunks_portable" -> ((s, dir) => {
      Fan(t(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(graft.ml.Chunker.chunkPortable(col("text"), 32))
            .as(Seq("order_sequence", "slice_text")))
        .withColumn("n_words",
          size(filter(split(col("slice_text"), "\\s+"),
            w => length(w) > 0)))
    }),

    // ---- Char-trigram language ID (round 10): the Cavnar-Trenkle
    // rank-profile model over q18's corpus — strictly stronger than
    // the marker-word heuristic on short/mixed text (LangIdSpec
    // measures the gap on the reference's own fixtures). The model is
    // pure tables (integer ranks from embedded public samples), so
    // the whole decision replays in generated oracle SQL. ----
    "q123_lang_trigram" -> ((s, dir) => {
      Fan(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang").as("declared_lang"),
          graft.functions.LangId.detectLang(col("text"))
            .as("detected_lang"))
    }),

    // ---- Unicode script census (round 10): per-doc character counts
    // over the 7 primary script blocks, dominant script with a
    // deterministic tie-break, dominant share. The mixed-script spam
    // signal of multilingual curation; fully portable — the \x{...}
    // character classes are the syntax Java regex AND RE2 share. ----
    "q124_script_profile" -> ((s, dir) =>
      graft.functions.TextMetrics.scriptProfile(
        t(s, dir, "documents"), "doc_id", "text")),

    // ---- dedupNearDup end-to-end (late round 11): the operator-of-
    // record composition pairs → components → survivors as ONE call,
    // hash-checked against the same recursive-CTE closure as q83 (the
    // survivor set is exactly the ids equal to their cluster min).
    // Pins the whole adaptive stack — census routing, spanning edges,
    // endpoint-restricted/local-UF components, semi-join
    // materialization — to the declarative form, cross-engine. ----
    "q125_neardup_survivors" -> ((s, dir) =>
      Dedup.dedupNearDup(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = ClusterPairDfCap,
          maxRounds = 18)
        .select(col("doc_id"))),

    // ---- Capped centroid selection with the cap ENGAGED (round 15).
    // q25/q76/q91 carry the MaxCentroids formula in their oracles, but
    // at test SFs n/stride sits under the default cap, so the
    // greatest() branch they exercise is the plain stride. Here
    // stride=1 + maxCentroids=16 force effStride = ceil(n/16) (32 at
    // sf0.01, 125 at sf0.1) — the capped branch's integer arithmetic,
    // centroid selection, and the full IVF rank contract are all
    // hash-checked cross-engine. ----
    "q126_ivf_capped" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5,
        stride = 1, nProbe = 2, maxCentroids = 16)
    })
  )

  /** q100/q101's fixed lexical query — mid-frequency corpus terms so
    * idf and tf both vary across the result. */
  private val BmQueryTerms = Seq("vector", "stream", "window")

  /** Shingle df cap for the composite cluster queries (q83/q86/q119):
    * bounds the exact pair generator at maxDocFreq²/2 pairs per shingle
    * — the d² stop-shingle blowup cannot happen at ANY corpus size. The
    * value sits far above the testdata's max 3-shingle df (25 at sf0.1,
    * 7 at sf0.01), so capped output == uncapped output and the shared
    * recursive-CTE oracle is unchanged; at 100 TB the cap bites by
    * design, dropping only shingles whose duplicate signal is nil (a
    * 3-gram in 4096+ docs is a stop phrase). q70 pins the BITING
    * semantics of the same generator (cap 10 < max df). */
  private val ClusterPairDfCap = 4096

  /** ONE oracle definition for the IVF top-k rank contract (q25 and
    * the cap-engaged q126 differ only in these constants): capped
    * effective-stride centroid selection (greatest + exact-integer
    * ceil-div, mirroring [[graft.operators.Similarity.effectiveStride]]),
    * raw-cosine assignment/probing with the (score DESC, id ASC)
    * tie-break, final ranking on the ROUNDED 4-dp score (the unified
    * q24 contract). All cosines are index-ordered double sums. */
  private def ivfTopKOracleSql(stride: Int, nProbe: Int,
      maxCentroids: Int, k: Int): String =
    s"""WITH estride AS (
           SELECT greatest($stride,
             (count(*) + ${maxCentroids - 1}) // $maxCentroids) AS es
           FROM embeddings),
         cents AS (
           SELECT vec_id AS cid, embedding AS cvec
           FROM embeddings WHERE vec_id % (SELECT es FROM estride) = 0),
         base AS (SELECT vec_id, embedding FROM embeddings),
         ascore AS (
           SELECT b.vec_id, c.cid,
             list_sum(list_transform(list_zip(b.embedding, c.cvec),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.cvec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id AS c_id, cid AS centroid_id FROM (
             SELECT vec_id, cid, row_number() OVER (
               PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
             FROM ascore) t WHERE rn = 1),
         probes AS (
           SELECT q_id, cid AS centroid_id FROM (
             SELECT a.vec_id AS q_id, a.cid, row_number() OVER (
               PARTITION BY a.vec_id ORDER BY a.s DESC, a.cid ASC) AS rn
             FROM ascore a WHERE a.vec_id < 10) t WHERE rn <= $nProbe),
         scored AS (
           SELECT p.q_id, a.c_id,
             list_sum(list_transform(list_zip(q.embedding, cb.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(cb.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
           FROM probes p
           JOIN assigned a ON a.centroid_id = p.centroid_id
           JOIN base q ON q.vec_id = p.q_id
           JOIN base cb ON cb.vec_id = a.c_id
           WHERE a.c_id != p.q_id)
         SELECT q_id, c_id, score, rank FROM (
           SELECT q_id, c_id, round(s + 1e-9, 4) AS score,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY round(s + 1e-9, 4) DESC, c_id ASC) AS rank
           FROM scored) t
         WHERE rank <= $k"""

  /** The fast-plan queries share their relational twins' oracles BY
    * REFERENCE — same semantics, different plan, one SQL definition
    * (the q89/q78 precedent). */
  def oracleSql: Map[String, String] = baseOracleSql +
    ("q104_unigram_fast" -> baseOracleSql("q75_unigram_surprisal")) +
    ("q105_bigram_backoff_fast" -> baseOracleSql("q77_bigram_backoff"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity) + 1e-9, 2) AS sum_qty,
         round(sum(l_extendedprice) + 1e-9, 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS sum_disc_price,
         round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""",

    "q02_join_dims" ->
      """SELECT n_name, count(*) AS order_count,
         round(sum(o_totalprice) + 1e-9, 2) AS total_revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",

    "q03_latest_event" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (
             PARTITION BY user_id ORDER BY event_id DESC, event_id DESC
           ) AS rn FROM events) WHERE rn = 1""",

    "q04_running_total" ->
      """SELECT user_id, event_id,
         round(sum(value) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 2)
           AS running_value
         FROM events""",

    "q05_top2_per_user" ->
      """SELECT user_id, event_type, cnt, rnk FROM (
           SELECT user_id, event_type, cnt, row_number() OVER (
             PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rnk
           FROM (SELECT user_id, event_type, count(*) AS cnt
                 FROM events GROUP BY user_id, event_type))
         WHERE rnk <= 2""",

    "q06_asof_latest_order" ->
      """SELECT o_custkey AS c_custkey, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date FROM (
           SELECT *, row_number() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders WHERE o_orderdate <= TIMESTAMP '1998-01-01')
         WHERE rn = 1""",

    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q08_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (
           SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",

    "q09_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL
           SELECT s_nationkey AS nationkey FROM supplier)""",

    "q10_det_sample" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id % 97 = 0""",

    "q11_byte_cap" ->
      """WITH c AS (
           SELECT doc_id, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_chars,
             row_number() OVER (ORDER BY doc_id) AS rn
           FROM documents)
         SELECT doc_id, n_chars, cum_chars FROM c
         WHERE cum_chars <= 100000
           AND rn < coalesce(
             (SELECT min(rn) FROM c WHERE cum_chars > 100000),
             9223372036854775807)""",

    "q12_octet_len" ->
      """SELECT doc_id, strlen(text) AS octets, length(text) AS chars
         FROM documents""",

    "q13_normalize_ws" ->
      """SELECT doc_id,
         trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_text
         FROM documents""",

    "q14_word_count" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '\w+')) AS words,
         CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
         len(regexp_extract_all(text, '\w{1,4}|[^\w\s]')) AS est_tokens
         FROM documents""",

    "q15_readability" ->
      """SELECT doc_id,
         round(least(greatest(
           206.835
           - 1.015 * (CAST(len(regexp_extract_all(text, '\w+')) AS DOUBLE)
             / CAST(greatest(len(regexp_extract_all(text,
                 '[^.!?]+[.!?]*')), 1) AS DOUBLE))
           - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                 '[aeiouy]+')) AS DOUBLE)
             / greatest(CAST(len(regexp_extract_all(text, '\w+'))
                 AS DOUBLE), 1.0)),
           0.0), 100.0) + 1e-9, 2) AS flesch
         FROM documents""",

    "q16_reading_duration" ->
      """SELECT doc_id, lang,
         round(CAST(len(regexp_extract_all(text, '\w+')) AS DOUBLE)
           / (CASE lang WHEN 'en' THEN 228.0 WHEN 'fr' THEN 195.0
              WHEN 'es' THEN 218.0 WHEN 'de' THEN 179.0 WHEN 'it' THEN 188.0
              WHEN 'pt' THEN 181.0 WHEN 'zh' THEN 158.0 WHEN 'ja' THEN 193.0
              ELSE 200.0 END) * 60.0 + 1e-9, 2) AS duration_sec
         FROM documents""",

    "q17_quality_score" ->
      """WITH q AS (
           SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         r AS (
           SELECT doc_id,
             round(CAST(len(list_filter(toks, x -> x IN
               ('the','a','an','of','and','to','in','is','it','that')))
               AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE)
               + 1e-9, 4) AS stop_ratio,
             round(CAST(len(regexp_extract_all(text, '[[:punct:]]'))
               AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
               + 1e-9, 4) AS punct_ratio,
             round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE)
               + 1e-9, 4) AS mean_word_len,
             length(text) AS n_len
           FROM q)
         SELECT doc_id, stop_ratio, punct_ratio, mean_word_len,
           round(((CASE WHEN n_len BETWEEN 50 AND 100000 THEN 1.0
                   ELSE 0.0 END)
             + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN stop_ratio BETWEEN 0.001 AND 0.6 THEN 1.0
                ELSE 0.0 END)
             + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0
                ELSE 0.0 END)) / 4.0 + 1e-9, 4) AS quality
         FROM r""",

    "q18_lang_id" ->
      """WITH s AS (
           SELECT doc_id, lang AS declared_lang,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, declared_lang,
             len(list_filter(toks, x -> x IN
               ('the','and','of','is','that'))) AS s_en,
             len(list_filter(toks, x -> x IN
               ('le','la','et','les','des'))) AS s_fr,
             len(list_filter(toks, x -> x IN
               ('el','de','que','los','las'))) AS s_es,
             len(list_filter(toks, x -> x IN
               ('der','die','und','das','ist'))) AS s_de
           FROM s)
         SELECT doc_id, declared_lang,
           CASE WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
             WHEN s_fr >= greatest(s_es, s_en, s_de) THEN 'fr'
             WHEN s_es >= greatest(s_en, s_de) THEN 'es'
             WHEN s_en >= s_de THEN 'en'
             ELSE 'de' END AS detected_lang
         FROM c""",

    "q19_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",

    "q20_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           AS fp,
         min(doc_id) AS representative_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",

    "q21_jaccard_pairs" ->
      """WITH w AS (
           SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
             FROM w)),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
           WHERE a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, jaccard FROM (
           SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) /
               CAST(sa.sz + sb.sz - inter AS DOUBLE) + 1e-9, 4) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b)
         WHERE jaccard >= 0.2""",

    // q22/q23 (round 11): the engine-local scala-murmur3 signers,
    // replayed in DuckDB SQL -- recursive-CTE stringHash walk plus (for
    // q22) the Spark hash() bucket fold; see MurmurOracleSql. This
    // retires the long-standing rows-only pair.
    "q22_minhash_pairs" -> MurmurOracleSql.q22,
    "q23_simhash_pairs" -> MurmurOracleSql.q23,


    "q75_unigram_surprisal" ->
      """WITH w AS (
           SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '\s+'),
               x -> x <> '')) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
         t AS (SELECT sum(cnt) AS total FROM c)
         SELECT doc_id,
           round(avg(-log2(CAST(cnt AS DOUBLE) /
             CAST(total AS DOUBLE))) + 1e-9, 4) AS avg_surprisal,
           count(*) AS n_tokens
         FROM w JOIN c USING (w), t
         GROUP BY doc_id""",

    // KeyBERT/MMR keywords: the generated CTE chain (see
    // Keywords.oracleSql) replays candidate generation, the exact-
    // integer embedding cosines, and the unrolled 5-round greedy MMR
    // with the engine's tie-break.
    "q39_keywords" ->
      s"WITH ${graft.ml.Keywords.oracleSql(topN = 5, diversity = 0.7)}",

    // BPE tokenizer: the generated CTE chain (see Bpe.oracleSql)
    // unrolls the 200 sequential merge-training stages AND the greedy
    // rank-order encode — the sequential trainer is oracle-replayed
    // end to end (exact pair counts, the lexicographic argmax
    // tie-break, left-to-right non-overlapping merge application).
    "q95_bpe_tokens" ->
      s"WITH ${graft.operators.Bpe.oracleSql(numMerges = 200, encK = 12,
        minWordCount = 2L)}",

    // Trained quality classifier: the generated CTE chain (see
    // QualityClassifier.oracleSql) unrolls the 4 full-batch GD
    // iterations with the engine's exact numerics — md5 gram-bucket
    // features, TRUNC-quantized 2^30 fixed-point margins/gradients,
    // the pinned weight-update operation order — then replays the
    // corpus-wide scoring pass. The TRAINER is oracle-checked, not
    // just the scores.
    "q87_quality_classifier" ->
      s"WITH ${graft.operators.QualityClassifier.oracleSql()}",

    // SemDeDup: the generated k-means CTE chain (iters=2) + nearest-
    // centroid assignment + the one-shot pairwise epsilon-ball rule —
    // a vector is dropped iff a LOWER-ID cluster-mate sits within
    // cosine eps. Pure pairwise function, so the oracle replays it as
    // one self-join; the iterative trainer replays via the same CTEs
    // that oracle q76.
    "q91_semdedup" ->
      s"""WITH ${graft.operators.Similarity.kMeansOracleCtes(20, 2)},
         assigned AS (
           SELECT vec_id, cid AS centroid_id FROM (
             SELECT b.vec_id, c.cid, row_number() OVER (
               PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.embedding, c.cvec),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(b.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.cvec,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 DESC, c.cid ASC) AS rn
             FROM base b CROSS JOIN cents2 c) t WHERE rn = 1),
         dropped AS (
           SELECT DISTINCT a.vec_id FROM assigned a
           JOIN assigned o ON o.centroid_id = a.centroid_id
             AND o.vec_id < a.vec_id
           JOIN base av ON av.vec_id = a.vec_id
           JOIN base ov ON ov.vec_id = o.vec_id
           WHERE
             list_sum(list_transform(list_zip(av.embedding, ov.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(av.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(ov.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             >= 0.97)
         SELECT a.vec_id, a.centroid_id,
           (d.vec_id IS NULL) AS keep
         FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id""",

    // Persisted IVF index probe: the SAME scoring/tie-break tail as q25
    // but over k-means centroids — the generated CTE chain (see
    // Similarity.kMeansOracleCtes) unrolls the 3 Lloyd iterations with
    // the engine's exact numerics (raw-double cosine assignment, 24-bit
    // symmetric-half-up quantized long sums, pinned descale order), so
    // the iterative trainer itself is oracle-replayed, not just the
    // probe.
    "q76_ivf_index" ->
      s"""WITH ${graft.operators.Similarity.kMeansOracleCtes(20, 3)},
         assigned AS (
           SELECT vec_id AS c_id, cid AS centroid_id FROM (
             SELECT b.vec_id, c.cid, row_number() OVER (
               PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.embedding, c.cvec),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(b.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.cvec,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                 DESC, c.cid ASC) AS rn
             FROM base b CROSS JOIN cents3 c) t WHERE rn = 1),
         probes AS (
           SELECT q_id, centroid_id FROM (
             SELECT b.vec_id AS q_id, c.cid AS centroid_id,
               row_number() OVER (
                 PARTITION BY b.vec_id ORDER BY
                   list_sum(list_transform(list_zip(b.embedding, c.cvec),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(c.cvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                   DESC, c.cid ASC) AS rn
             FROM base b CROSS JOIN cents3 c
             WHERE b.vec_id < 10) t WHERE rn <= 3),
         scored AS (
           SELECT p.q_id, a.c_id,
             list_sum(list_transform(list_zip(q.embedding, cb.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(cb.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
           FROM probes p
           JOIN assigned a ON a.centroid_id = p.centroid_id
           JOIN base q ON q.vec_id = p.q_id
           JOIN base cb ON cb.vec_id = a.c_id
           WHERE a.c_id != p.q_id)
         SELECT q_id, c_id, score, rank FROM (
           SELECT q_id, c_id, round(s + 1e-9, 4) AS score,
             row_number() OVER (
               PARTITION BY q_id
               ORDER BY round(s + 1e-9, 4) DESC, c_id ASC) AS rank
           FROM scored) t
         WHERE rank <= 5""",

    "q77_bigram_backoff" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
         uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
         tot AS (SELECT sum(c1) AS total FROM uni),
         pairs AS (
           SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> array_to_string(ws[i:i+1], ' '))) AS bg
           FROM w),
         bgc AS (
           SELECT bg, count(*) AS c2 FROM pairs
           GROUP BY bg HAVING count(*) >= 21),
         sc AS (
           SELECT p.doc_id,
             CASE WHEN bgc.c2 IS NOT NULL
               THEN -log2(CAST(bgc.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
               ELSE -log2(0.4 * CAST(u2.c1 AS DOUBLE) /
                 CAST(t.total AS DOUBLE))
             END AS s
           FROM pairs p
           LEFT JOIN bgc USING (bg)
           JOIN uni u1 ON u1.w = string_split(p.bg, ' ')[1]
           JOIN uni u2 ON u2.w = string_split(p.bg, ' ')[2]
           CROSS JOIN tot t)
         SELECT doc_id,
           round(avg(s) + 1e-9, 4) AS avg_surprisal,
           count(*) AS n_transitions
         FROM sc GROUP BY doc_id""",

    "q78_decontaminate" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 12, 0) + 1),
               i -> array_to_string(ws[i:i+12], ' '))) AS shingle
             FROM w)),
         tr AS (SELECT doc_id AS train_id, shingle FROM sh
                WHERE doc_id % 2 = 0),
         te AS (SELECT doc_id AS test_id, shingle FROM sh
                WHERE doc_id % 2 = 1)
         SELECT test_id, train_id, count(*) AS n_shared
         FROM te JOIN tr USING (shingle)
         GROUP BY test_id, train_id""",

    // same tokenization as q78; window INSTANCES (no DISTINCT), so
    // within-doc repetition is counted — that is the operator's point
    "q88_dup_substrings" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 12, 0) + 1),
               i -> array_to_string(ws[i:i+12], ' '))) AS shingle
           FROM w),
         g AS (SELECT shingle, count(*) AS occ FROM sh GROUP BY shingle)
         SELECT doc_id, count(*) AS n_windows,
           count(*) FILTER (WHERE g.occ >= 2) AS n_dup_windows
         FROM sh JOIN g USING (shingle)
         GROUP BY doc_id""",

    "q99_lexical_diversity" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents
           WHERE text IS NOT NULL),
         occ AS (
           SELECT doc_id, unnest(ws) AS wd FROM w),
         freq AS (
           SELECT doc_id, wd, count(*) AS c FROM occ
           GROUP BY doc_id, wd)
         SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           count(*) FILTER (WHERE c = 1) AS n_hapax
         FROM freq
         GROUP BY doc_id""",

    "q98_vocab_census" ->
      """WITH w AS (
           SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS w
           FROM documents)
         SELECT w, count(*) AS occurrences,
           count(DISTINCT doc_id) AS doc_freq
         FROM w
         GROUP BY w
         ORDER BY occurrences DESC, w ASC
         LIMIT 200""",

    // per-source rollup over the q71 gopher signals + the q19/q20
    // fingerprint census; integer metrics only (count FILTER + a
    // BIGINT-cast sum — DuckDB sums integers into HUGEINT)
    "q97_corpus_report" ->
      s"""WITH $GopherCtes,
         k AS (
           SELECT doc_id, word_count,
             $GopherKeepExpr AS keep
           FROM m),
         fp AS (
           SELECT doc_id, source,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS f
           FROM documents),
         cen AS (SELECT f, count(*) AS occ FROM fp GROUP BY f)
         SELECT fp.source,
           count(*) AS n_docs,
           CAST(sum(k.word_count) AS BIGINT) AS total_words,
           count(*) FILTER (WHERE k.keep) AS n_gopher_keep,
           count(*) FILTER (WHERE cen.occ >= 2) AS n_dup_docs
         FROM fp
         JOIN k USING (doc_id)
         JOIN cen USING (f)
         GROUP BY fp.source""",

    // the removal form replayed relationally: windows + census with a
    // lexicographic-min first occurrence, cut positions, a range join
    // marking covered tokens, and a filtered ordered string_agg
    // rebuilding each doc from the survivors
    "q96_dup_substring_removal" ->
      """WITH w AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS toks,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ltoks
           FROM documents),
         win AS (
           SELECT doc_id,
             unnest(range(1, greatest(len(ltoks) - 12, 0) + 1)) AS p,
             unnest(list_transform(
               range(1, greatest(len(ltoks) - 12, 0) + 1),
               i -> array_to_string(ltoks[i:i+12], ' '))) AS wtext
           FROM w),
         cen AS (
           SELECT wtext, count(*) AS occ,
             min(struct_pack(d := doc_id, p := p)) AS first
           FROM win GROUP BY wtext),
         cuts AS (
           SELECT win.doc_id, win.p FROM win JOIN cen USING (wtext)
           WHERE cen.occ >= 2 AND
             NOT (win.doc_id = cen.first.d AND win.p = cen.first.p)),
         toks AS (
           SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS tok
           FROM w),
         cov AS (
           SELECT DISTINCT t.doc_id, t.pos FROM toks t JOIN cuts c
           ON t.doc_id = c.doc_id AND t.pos BETWEEN c.p AND c.p + 12),
         reb AS (
           SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.pos)
               FILTER (WHERE cv.pos IS NULL) AS clean
           FROM toks t LEFT JOIN cov cv
             ON t.doc_id = cv.doc_id AND t.pos = cv.pos
           GROUP BY t.doc_id)
         SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(r.clean, '') END AS text
         FROM documents d LEFT JOIN reb r USING (doc_id)""",

    // exact-form oracle for the bloom-prefiltered operator: the bloom
    // stage is plan-only (no false negatives; false positives die in
    // the exact join), so the oracle is the q78 shape at n=8/minShared=3
    "q89_bloom_decontaminate" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 7, 0) + 1),
               i -> array_to_string(ws[i:i+7], ' '))) AS shingle
             FROM w)),
         tr AS (SELECT doc_id AS train_id, shingle FROM sh
                WHERE doc_id % 2 = 0),
         te AS (SELECT doc_id AS test_id, shingle FROM sh
                WHERE doc_id % 2 = 1)
         SELECT test_id, train_id, count(*) AS n_shared
         FROM te JOIN tr USING (shingle)
         GROUP BY test_id, train_id
         HAVING count(*) >= 3""",

    // the portable MinHash contract replayed in SQL: same md5-prefix
    // base hash, same affine coefficients (literal parity with
    // Dedup.PortableMinhashCoeffs), HUGEINT 128-bit products
    "q92_minhash_portable" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
             FROM w)),
         xs AS (
           SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS xv
           FROM sh)
         SELECT doc_id, j,
           (min((a::HUGEINT * xv + b) % 2305843009213693951))::BIGINT
             AS minhash
         FROM xs CROSS JOIN (VALUES
           (0, 428211228669798842, 1231823886139169972),
           (1, 1588437261043606333, 125037580946878544),
           (2, 462760306997154682, 1510692560004590165),
           (3, 1361166987500386952, 1259175741772747241),
           (4, 432330772143187373, 1457787354239467078),
           (5, 2269042632621585813, 271289342846959209),
           (6, 459595690967326520, 247923395667062642),
           (7, 1888506785316944072, 921785063688832414),
           (8, 114442114781097478, 94453198003562826),
           (9, 2118706432147538908, 1528312526410001492),
           (10, 356350401917632119, 2240309207271314907),
           (11, 713603041279483440, 823569528660996607),
           (12, 870846301637373144, 318948861742844466),
           (13, 2093656847386277970, 1111508132540270293),
           (14, 1925818535337679864, 1637057865177633928),
           (15, 112307922632766665, 1739027035153223858)) c(j, a, b)
         GROUP BY doc_id, j""",

    // LSH over the q92 signatures: band key = the band's minhashes in
    // j order (plain string — band equality is row-set equality, no
    // bucket-hash to diverge on); 4 bands x 4 rows
    "q93_minhash_lsh_portable" ->
      s"""WITH $PortableSigCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bandkeys a JOIN bandkeys b
             ON a.band = b.band AND a.bkey = b.bkey
               AND a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           round(count(*) FILTER (WHERE sa.minhash = sb.minhash)
             / 16.0 + 1e-9, 4) AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = cand.id_a
         JOIN sig sb ON sb.doc_id = cand.id_b AND sb.j = sa.j
         GROUP BY id_a, id_b""",

    // same portable primitives, cross-stratum: NEW batch (src10..19,
    // strlen 5) LSH-checked against the snapshot (src0..9, strlen 4)
    // — the q107 stratum convention, near-dup form
    "q112_incremental_neardup" ->
      s"""WITH $PortableSigCtes,
         newids AS (
           SELECT doc_id FROM documents WHERE strlen(source) = 5),
         oldids AS (
           SELECT doc_id FROM documents WHERE strlen(source) = 4),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
           FROM bandkeys a JOIN bandkeys b
             ON a.band = b.band AND a.bkey = b.bkey
           WHERE a.doc_id IN (SELECT doc_id FROM newids)
             AND b.doc_id IN (SELECT doc_id FROM oldids))
         SELECT id_new, id_old,
           round(count(*) FILTER (WHERE sa.minhash = sb.minhash)
             / 16.0 + 1e-9, 4) AS est_jaccard
         FROM cand
         JOIN sig sa ON sa.doc_id = cand.id_new
         JOIN sig sb ON sb.doc_id = cand.id_old AND sb.j = sa.j
         GROUP BY id_new, id_old""",

    // portable SimHash: per-occurrence +1/-1 votes per bit of the
    // md5-prefix 60-bit word hash, sign of the net vote, relational
    // output — every step engine-replayable
    "q94_simhash_portable" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         occ AS (SELECT doc_id, unnest(ws) AS wd FROM w),
         xv AS (SELECT doc_id,
           ('0x' || substr(md5(wd), 1, 15))::BIGINT AS x FROM occ),
         bits AS (
           SELECT doc_id, b,
             sum(CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END) AS net
           FROM xv CROSS JOIN range(60) t(b)
           GROUP BY doc_id, b)
         SELECT doc_id, b::INTEGER AS bit,
           (CASE WHEN net > 0 THEN 1 ELSE 0 END)::INTEGER AS bitval
         FROM bits""",

    "q90_quota_sample" ->
      """SELECT doc_id, source, rn AS sample_rank FROM (
           SELECT d.doc_id, d.source, q.quota,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5(cast(d.doc_id AS varchar)), d.doc_id) AS rn
           FROM documents d
           JOIN (VALUES ('src0', 12), ('src1', 7), ('src2', 25),
                 ('src3', 3)) q(source, quota) USING (source))
         WHERE rn <= quota""",

    "q83_dup_clusters" -> DupClustersOracle,

    // survivors = ids equal to their cluster min, over the SAME
    // closure CTEs as q83 — the composition cannot drift from the
    // clustering it materializes
    "q125_neardup_survivors" -> (DupClustersCtes +
      """
       SELECT id AS doc_id FROM r GROUP BY id
       HAVING id = min(rep)"""),

    // identical oracle by design: the forced star-contraction loop
    // must produce exactly q83's clustering
    "q86_dup_clusters_star" -> DupClustersOracle,

    "q84_dsir_weights" ->
      """WITH w AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         g AS (
           SELECT doc_id, source, unnest(list_concat(ws,
             list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i + 1]))) AS g
           FROM w),
         b AS (
           SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT)
               % 10000 AS BIGINT) AS b
           FROM g),
         rawct AS (SELECT b, count(*) AS raw_ct FROM b GROUP BY b),
         tgtct AS (SELECT b, count(*) AS tgt_ct FROM b
                   WHERE source = 'src0' GROUP BY b),
         tots AS (SELECT (SELECT count(*) FROM b) AS rt,
                    (SELECT count(*) FROM b WHERE source = 'src0') AS tt)
         SELECT doc_id,
           round(avg(
             log2((coalesce(tgt_ct, 0) + 1.0) / (tt + 10000)) -
             log2((coalesce(raw_ct, 0) + 1.0) / (rt + 10000)))
             + 1e-9, 4) AS dsir_score,
           count(*) AS n_grams
         FROM b
         LEFT JOIN rawct USING (b)
         LEFT JOIN tgtct USING (b)
         CROSS JOIN tots
         GROUP BY doc_id""",

    "q85_seq_pack" ->
      """WITH tk AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\w{1,4}|[^\w\s]'))
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM tk)
         SELECT doc_id, n_tokens, cum_before,
           cum_before // 2048 AS seq_id,
           cum_before % 2048 AS seq_offset
         FROM c""",

    "q79_pii_redact" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{1,3}(?:\.\d{1,3}){3})',
               '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{1,3}(?:\.\d{1,3}){3})'))
             AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips
         FROM documents""",

    "q80_c4_lines" ->
      """WITH w AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
         d AS (
           SELECT doc_id, list_transform(
             range(1, CAST(ceil(len(ws) / 7.0) AS BIGINT) + 1),
             i -> array_to_string(ws[(i-1)*7+1:(i-1)*7+7], ' ') ||
               CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END)
             AS lines
           FROM w),
         k AS (
           SELECT doc_id, lines,
             list_filter(lines, l ->
               len(string_split_regex(trim(l), '\s+')) >= 3
               AND (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
                 OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(lower(l), 'lorem ipsum')
               AND NOT contains(l, '{')) AS kept
           FROM d)
         SELECT doc_id,
           coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(len(kept) AS INT) AS n_kept,
           CAST(len(lines) AS INT) AS n_lines
         FROM k""",

    "q82_line_dedup" ->
      """WITH w AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
         d AS (
           SELECT doc_id, list_transform(
             range(1, CAST(ceil(len(ws) / 4.0) AS BIGINT) + 1),
             i -> array_to_string(ws[(i-1)*4+1:(i-1)*4+4], ' '))
             AS lines
           FROM w),
         l AS (
           SELECT doc_id, generate_subscripts(lines, 1) AS pos,
             unnest(lines) AS line
           FROM d),
         dup AS (SELECT line FROM l GROUP BY line HAVING count(*) > 1),
         kept AS (SELECT l.doc_id, l.pos, l.line FROM l
                  LEFT JOIN dup USING (line) WHERE dup.line IS NULL),
         r AS (SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                 count(*) AS n_kept
               FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_kept, 0) AS n_kept,
           len(d.lines) - coalesce(r.n_kept, 0) AS n_dropped
         FROM d LEFT JOIN r USING (doc_id)""",

    "q81_colocated_join" ->
      """SELECT o_custkey AS custkey, count(*) AS order_count,
           round(sum(o_totalprice) + 1e-9, 2) AS total_spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",

    "q73_hash_sample" ->
      """WITH rates(source, rate) AS (
           VALUES ('src0', 0.8), ('src1', 0.5), ('src2', 0.25),
             ('src3', 0.1)),
         b AS (
           SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS UBIGINT) % 1000 AS BIGINT) AS bucket
           FROM documents)
         SELECT b.doc_id, b.source, b.bucket
         FROM b JOIN rates USING (source)
         WHERE b.bucket < CAST(floor(rate * 1000) AS BIGINT)""",

    // the split bucket is SALTED (':split') — independent of the
    // sampling bucket, so composed rate+split decisions decorrelate
    "q74_split_assign" ->
      """SELECT doc_id, bucket,
           CASE WHEN sbucket < 800 THEN 'train'
                WHEN sbucket < 900 THEN 'val'
                ELSE 'test' END AS split
         FROM (
           SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 8)) AS UBIGINT) % 1000 AS BIGINT) AS bucket,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
               ':split'), 1, 8)) AS UBIGINT) % 1000 AS BIGINT)
               AS sbucket
           FROM documents)""",

    "q72_repetition" ->
      """WITH base AS (
           SELECT doc_id, text,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split_regex(text, '\s+'),
               w -> w <> '') AS ws
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> ws[i] || ' ' || ws[i + 1])) AS gram
           FROM base),
         gc AS (SELECT doc_id, gram, count(*) AS c
                FROM g GROUP BY doc_id, gram),
         topc AS (SELECT doc_id, max(c) AS top2_count FROM gc
                  GROUP BY doc_id),
         topl AS (
           SELECT gc.doc_id, max(length(gc.gram)) AS top2_len
           FROM gc JOIN topc ON gc.doc_id = topc.doc_id
             AND gc.c = topc.top2_count
           GROUP BY gc.doc_id)
         SELECT b.doc_id,
           CAST(len(b.lines) AS INT) AS n_lines,
           CAST(len(b.lines) - len(list_distinct(b.lines)) AS INT)
             AS dup_lines,
           CAST(greatest(len(b.ws) - 1, 0) AS INT) AS n_grams,
           CAST(coalesce(topc.top2_count, 0) AS INT) AS top2_count,
           CAST(coalesce(topl.top2_len, 0) AS INT) AS top2_len,
           CAST(length(b.text) AS INT) AS text_chars,
           (len(b.lines) - len(list_distinct(b.lines))) * 10 <=
             len(b.lines) * 3 AS dup_line_ok,
           coalesce(topc.top2_count, 0) * coalesce(topl.top2_len, 0) * 5
             <= length(b.text) AS rep_2gram_ok
         FROM base b
         LEFT JOIN topc ON b.doc_id = topc.doc_id
         LEFT JOIN topl ON b.doc_id = topl.doc_id""",

    "q71_gopher_rules" ->
      s"""WITH $GopherCtes
         SELECT doc_id, word_count,
           word_count >= 50 AND word_count <= 100000 AS wc_ok,
           mwl_num >= word_count * 3 AND mwl_num <= word_count * 10
             AS mwl_ok,
           hashes * 10 <= word_count AS hash_ok,
           ell * 10 <= n_lines * 3 AS ellipsis_ok,
           bul * 10 <= n_lines * 9 AS bullet_ok,
           alpha * 5 >= word_count * 4 AS alpha_ok,
           stop_hits >= 2 AS stop_ok,
           $GopherKeepExpr AS keep
         FROM m""",

    "q70_jaccard_capped" ->
      """WITH w AS (
           SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
             FROM w)),
         dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         kept AS (
           SELECT sh.doc_id, sh.shingle FROM sh JOIN dfreq USING (shingle)
           WHERE df <= 10),
         sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM kept a JOIN kept b ON a.shingle = b.shingle
           WHERE a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, jaccard FROM (
           SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) /
               CAST(sa.sz + sb.sz - inter AS DOUBLE) + 1e-9, 4) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b)
         WHERE jaccard >= 0.2""",

    "q68_jaccard_prefix" ->
      """WITH w AS (
           SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS ws
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, shingle FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(ws) - 2, 0) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS shingle
             FROM w)),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
           WHERE a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, jaccard FROM (
           SELECT id_a, id_b,
             round(CAST(inter AS DOUBLE) /
               CAST(sa.sz + sb.sz - inter AS DOUBLE) + 1e-9, 4) AS jaccard
           FROM inter
           JOIN sz sa ON sa.doc_id = id_a
           JOIN sz sb ON sb.doc_id = id_b)
         WHERE jaccard >= 0.6""",

    "q24_ann_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
         s AS (
           SELECT q_id, c_id,
             round(
               list_sum(list_transform(list_zip(q_vec, c_vec),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q_vec,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c_vec,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               + 1e-9, 4) AS score
           FROM q, c WHERE c_id != q_id)
         SELECT q_id, c_id, score, rank FROM (
           SELECT q_id, c_id, score, row_number() OVER (
             PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
           FROM s)
         WHERE rank <= 5""",

    // IVF top-k: stride-sampled centroids at the CAPPED effective
    // stride (greatest(20, ceil-div(count, MaxCentroids)) — exact
    // integer arithmetic, so the round-15 centroid cap replays
    // cross-engine), nearest-centroid assignment and nProbe=3 probing
    // by RAW cosine with the (score DESC, id ASC) tie-break, then the
    // q24 scoring pattern over probed buckets only — final ranking on
    // the ROUNDED score like q24 (round 14 unified the tie-break
    // contract: raw-double ranking diverged from brute force at
    // 4-dp-tied rank boundaries on clustered corpora). All cosines are
    // index-ordered double sums — the same numeric contract q24
    // already hash-matches on.
    "q25_ivf_topk" -> ivfTopKOracleSql(stride = 20, nProbe = 3,
      maxCentroids = graft.operators.Similarity.MaxCentroids, k = 5),

    // the SAME oracle definition with the cap constants that make the
    // greatest() branch bite at every test SF (see the q126 query body)
    "q126_ivf_capped" -> ivfTopKOracleSql(stride = 1, nProbe = 2,
      maxCentroids = 16, k = 5),

    "q26_embedding_stats" ->
      """SELECT label, count(*) AS n,
         round(avg(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) + 1e-9, 4) AS avg_norm
         FROM embeddings GROUP BY label""",

    "q27_events_hourly" ->
      """SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_epoch,
         event_type, count(*) AS n, round(sum(value) + 1e-9, 2) AS total_value
         FROM events GROUP BY 1, 2""",

    "q28_json_extract" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
         FROM events""",

    "q29_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id,
             epoch_ns(ts) // 1000000000 AS sec,
             lag(epoch_ns(ts) // 1000000000) OVER (
               PARTITION BY user_id ORDER BY event_id) AS prev_sec
           FROM events),
         f AS (
           SELECT user_id, event_id,
             CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
               THEN 1 ELSE 0 END AS new_session
           FROM g),
         sess AS (
           SELECT user_id, event_id,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
           FROM f)
         SELECT user_id, session_seq, count(*) AS n_events,
           min(event_id) AS first_event, max(event_id) AS last_event
         FROM sess GROUP BY user_id, session_seq""",

    "q30_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",

    "q31_select_by_last_step" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type, row_number() OVER (
             PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 AND event_type IN ('purchase', 'signup')""",

    "q32_argmax_value" ->
      """SELECT event_type, event_id, value FROM (
           SELECT event_type, event_id, value, row_number() OVER (
             PARTITION BY event_type
             ORDER BY value DESC, event_id ASC) AS rn
           FROM events)
         WHERE rn = 1""",

    "q33_window_15min" ->
      """SELECT (epoch_ns(ts) // 1000000000 // 900) * 900 AS win_start,
         event_type, count(*) AS n, round(sum(value) + 1e-9, 2) AS total_value
         FROM events GROUP BY 1, 2""",

    "q34_order_limit" ->
      """SELECT event_id, user_id, event_type FROM events
         ORDER BY event_id DESC LIMIT 100""",

    "q35_distinct_count" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n FROM events GROUP BY event_type""",

    "q36_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey AS nationkey FROM supplier""",

    "q37_stale_window" ->
      """SELECT event_id, user_id FROM events
         WHERE epoch_ns(ts) // 1000000000 < 1704412800
           AND event_type = 'purchase'""",

    "q41_cube" ->
      """SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n,
         round(sum(value) + 1e-9, 2) AS total
         FROM events GROUP BY CUBE (event_type, user_id % 10)""",

    "q42_lag_delta" ->
      """SELECT user_id, event_id,
         round(value - coalesce(lag(value, 1) OVER (
           PARTITION BY user_id ORDER BY event_id), 0.0) + 1e-9, 2) + 0.0
           AS delta
         FROM events""",

    "q43_uuid" ->
      """SELECT doc_id,
         concat_ws('-',
           substring(md5(concat_ws('', doc_id, lang)), 1, 8),
           substring(md5(concat_ws('', doc_id, lang)), 9, 4),
           substring(md5(concat_ws('', doc_id, lang)), 13, 4),
           substring(md5(concat_ws('', doc_id, lang)), 17, 4),
           substring(md5(concat_ws('', doc_id, lang)), 21, 12))
           AS doc_uuid
         FROM documents""",

    // Portable SDG classify (see SdgClassifier.classifyPortableQ): the
    // oracle rebuilds the md5-derived [-4,4] weight matrix, quantizes
    // the embeddings with the same floor(x*1e6), and replays gate +
    // logit + argmax in exact integer algebra.
    "q40_sdg_classify" ->
      """WITH q AS (
           SELECT vec_id::VARCHAR AS id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS xq
           FROM embeddings),
         w AS (
           SELECT sdg, list_transform(range(0, 64),
             d -> ('0x' || substr(md5('sdgw_' || sdg || '_' || d), 1, 15))::BIGINT
               % 9 - 4) AS wq
           FROM range(0, 18) t(sdg)),
         scores AS (
           SELECT q.id, w.sdg,
             CAST(list_sum(list_transform(range(1, 65),
               i -> q.xq[i] * w.wq[i])) AS BIGINT) AS dot
           FROM q CROSS JOIN w),
         bi AS (
           SELECT id, dot AS bi_logit_q, dot >= 2000000 AS is_sdg
           FROM scores WHERE sdg = 0),
         nbest AS (
           SELECT id, sdg, dot, row_number() OVER (
             PARTITION BY id ORDER BY dot DESC, sdg ASC) AS rn
           FROM scores WHERE sdg >= 1)
         SELECT bi.id, bi.is_sdg, bi.bi_logit_q,
           CAST(CASE WHEN n.dot >= 3000000 THEN n.sdg ELSE -1 END AS INT)
             AS sdg_number
         FROM bi JOIN nbest n ON n.id = bi.id AND n.rn = 1""",

    // Portable embedding near-dup: replays the md5 feature-hash integer
    // embedding, the md5-derived ±1 hyperplane matrix, the 8-bit LSH
    // signature, and the integer-exact cosine verify — every float op
    // runs on exact integer inputs, so 4-dp values agree bit-for-bit.
    "q44_embedding_neardup" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS tok
           FROM documents),
         feat AS (
           SELECT doc_id, h % 64 AS bucket,
             CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
           FROM (SELECT doc_id,
                   ('0x' || substr(md5(k || '_' || tok), 1, 15))::BIGINT AS h
                 FROM toks CROSS JOIN (VALUES (0),(1)) kk(k))),
         vec AS (
           SELECT doc_id, bucket, sum(s)::BIGINT AS v
           FROM feat GROUP BY doc_id, bucket HAVING sum(s) <> 0),
         planes AS (
           SELECT p, d,
             CASE WHEN ('0x' || substr(md5('w_' || p || '_' || d), 1, 15))::BIGINT
               % 2 = 0 THEN 1 ELSE -1 END AS w
           FROM range(8) t1(p) CROSS JOIN range(64) t2(d)),
         sigbits AS (
           SELECT v.doc_id, pl.p,
             CASE WHEN sum(v.v * pl.w) >= 0 THEN 1 ELSE 0 END AS bit
           FROM vec v JOIN planes pl ON pl.d = v.bucket
           GROUP BY v.doc_id, pl.p),
         sig AS (
           SELECT doc_id, sum(bit * (1 << p))::BIGINT AS sig
           FROM sigbits GROUP BY doc_id),
         norms AS (
           SELECT doc_id, sum(v * v)::BIGINT AS norm2
           FROM vec GROUP BY doc_id),
         cand AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sig a JOIN sig b
             ON a.sig = b.sig AND a.doc_id < b.doc_id),
         nums AS (
           SELECT c.id_a, c.id_b, sum(va.v * vb.v)::BIGINT AS num
           FROM cand c
           JOIN vec va ON va.doc_id = c.id_a
           JOIN vec vb ON vb.doc_id = c.id_b AND vb.bucket = va.bucket
           GROUP BY c.id_a, c.id_b)
         SELECT n.id_a, n.id_b,
           round(n.num::DOUBLE / (sqrt(na.norm2) * sqrt(nb.norm2)) + 1e-9, 4)
             AS cos
         FROM nums n
         JOIN norms na ON na.doc_id = n.id_a
         JOIN norms nb ON nb.doc_id = n.id_b
         WHERE round(n.num::DOUBLE / (sqrt(na.norm2) * sqrt(nb.norm2)) + 1e-9, 4)
           >= 0.8""",

    // Portable HLL (see operators/Hll.scala): both estimates replay the
    // same md5-bucketed registers and exact-integer indicator sum.
    "q45_approx_distinct" ->
      s"""WITH u AS (${graft.operators.Hll.oracleSql(
            "user_id::VARCHAR", "approx_users")}),
         i AS (${graft.operators.Hll.oracleSql(
            "event_id::VARCHAR", "approx_ids")})
         SELECT u.event_type, u.approx_users, i.approx_ids
         FROM u JOIN i ON u.event_type = i.event_type""",

    "q46_url_clean" ->
      """SELECT doc_id,
         regexp_replace('https://doi.org/10.5281/zenodo.' || doc_id,
           '^https?://doi\.org/', '') AS doi,
         regexp_replace('https://hal.science/hal-' || doc_id || 'v3',
           'v\d+$', '') AS hal_url
         FROM documents""",

    "q47_first_segment" ->
      """SELECT doc_id, split_part(text, ' table ', 1) AS seg,
         length(split_part(text, ' table ', 1)) AS seg_len
         FROM documents""",

    "q48_status_class" ->
      """SELECT event_id, 100 + event_id % 500 AS status,
         CASE WHEN 100 + event_id % 500 BETWEEN 200 AND 299 THEN 'VALID'
              WHEN 100 + event_id % 500 BETWEEN 300 AND 399 THEN 'TO_UPDATE'
              WHEN 100 + event_id % 500 BETWEEN 400 AND 499 THEN 'TO_DELETE'
              ELSE 'UNKNOWN' END AS status_class
         FROM events""",

    "q49_url_host" ->
      """WITH u AS (
           SELECT doc_id,
             'https://' || source || '.example.org/doc/' || doc_id AS url
           FROM documents)
         SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host
         FROM u
         WHERE regexp_extract(url, '^[a-z]+://([^/]+)/', 1)
           LIKE '%.example.org'""",

    "q50_date_roundtrip" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS pubdate,
         CAST(epoch(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d'))
           AS BIGINT) AS pub_epoch
         FROM orders""",

    "q51_percentile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS p50,
         round(quantile_cont(l_quantity, 0.9) + 1e-9, 4) AS p90
         FROM lineitem GROUP BY l_returnflag""",

    "q52_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
         coalesce(round(sum(value) FILTER (event_type = 'click')
           + 1e-9, 2), 0.0) AS click,
         coalesce(round(sum(value) FILTER (event_type = 'error')
           + 1e-9, 2), 0.0) AS error,
         coalesce(round(sum(value) FILTER (event_type = 'purchase')
           + 1e-9, 2), 0.0) AS purchase,
         coalesce(round(sum(value) FILTER (event_type = 'signup')
           + 1e-9, 2), 0.0) AS signup,
         coalesce(round(sum(value) FILTER (event_type = 'view')
           + 1e-9, 2), 0.0) AS view
         FROM events GROUP BY 1""",

    "q53_window_ranks" ->
      """SELECT event_id, event_type,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w + 1e-9, 6) AS pct_rank,
         round(cume_dist() OVER w + 1e-9, 6) AS cume
         FROM events
         WINDOW w AS (PARTITION BY event_type
           ORDER BY value ASC, event_id ASC)""",

    "q54_bool_agg" ->
      """SELECT user_id,
         bool_or(event_type = 'purchase') AS has_purchase,
         bool_and(value >= 0) AS all_nonneg,
         count(*) AS n
         FROM events GROUP BY user_id""",

    "q55_lookup_errors" ->
      """WITH requested AS (
           SELECT c_custkey FROM customer WHERE c_custkey <= 200),
         responses AS (
           SELECT o_custkey, count(*) AS n_orders
           FROM orders GROUP BY o_custkey)
         SELECT c_custkey, coalesce(n_orders, 0) AS n_orders,
           CASE WHEN o_custkey IS NULL THEN 'not_returned'
             ELSE 'ok' END AS error_info
         FROM requested LEFT JOIN responses ON c_custkey = o_custkey""",

    "q56_grouping_sets" ->
      """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY GROUPING SETS ((r_name), (n_name), ())""",

    "q58_topk_agg" ->
      """SELECT user_id, event_type, cnt, rnk FROM (
           SELECT user_id, event_type, cnt, row_number() OVER (
             PARTITION BY user_id ORDER BY cnt DESC, event_type ASC)
             AS rnk
           FROM (SELECT user_id, event_type, count(*) AS cnt
                 FROM events GROUP BY user_id, event_type))
         WHERE rnk <= 2""",

    "q63_vector_codec" ->
      """SELECT vec_id, 4 * len(embedding) AS n_bytes,
         true AS roundtrip_ok
         FROM embeddings""",

    "q62_salted_join" ->
      """SELECT n_name, count(*) AS n_customers,
         round(sum(c_acctbal) + 1e-9, 2) AS total_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q61_batch_selection" ->
      """WITH last AS (
           SELECT user_id, event_id,
             CAST(floor(value * 100) AS BIGINT) AS weight
           FROM (
             SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY event_id DESC) AS rn
             FROM events)
           WHERE rn = 1 AND event_type = 'purchase'),
         bounded AS (
           SELECT * FROM last ORDER BY event_id DESC LIMIT 500),
         c AS (
           SELECT user_id, event_id, weight,
             CAST(sum(weight) OVER (ORDER BY event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_weight,
             row_number() OVER (ORDER BY event_id DESC) AS rn
           FROM bounded)
         SELECT user_id, event_id, weight, cum_weight FROM c
         WHERE cum_weight <= 50000
           AND rn < coalesce(
             (SELECT min(rn) FROM c WHERE cum_weight > 50000),
             9223372036854775807)""",

    "q60_string_agg" ->
      """SELECT event_type,
         array_to_string(list_sort(list_distinct(
           list(CAST(user_id % 10 AS VARCHAR)))), ',') AS user_buckets,
         count(*) AS n
         FROM events GROUP BY event_type""",

    "q59_range_frame" ->
      """SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec,
         count(*) OVER w AS n_trailing_30m,
         round(sum(value) OVER w + 1e-9, 2) AS val_trailing_30m
         FROM events
         WINDOW w AS (PARTITION BY user_id
           ORDER BY epoch_ns(ts) // 1000000000
           RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)""",

    "q57_l2_normalize" ->
      """WITH n AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
           FROM embeddings)
         SELECT vec_id, round(nrm + 1e-9, 4) AS norm,
           round(CAST(embedding[1] AS DOUBLE) / nrm + 1e-9, 4) + 0.0 AS u1,
           round(CAST(embedding[2] AS DOUBLE) / nrm + 1e-9, 4) + 0.0 AS u2
         FROM n""",

    "q69_dedup_keep_first" ->
      """SELECT doc_id, strlen(text) AS octets FROM (
           SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)),
               '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1""",

    "q64_stats_agg" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice) + 1e-9, 4) + 0.0
           AS qty_price_corr,
         round(stddev_samp(l_quantity) + 1e-9, 4) AS qty_stddev,
         round(var_samp(l_quantity) + 1e-9, 4) AS qty_var,
         round(regr_slope(l_extendedprice, l_quantity) + 1e-9, 4) + 0.0
           AS price_per_qty_slope,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",

    "q65_monthly_orders" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders,
         round(sum(o_totalprice) + 1e-9, 2) AS monthly_revenue
         FROM orders GROUP BY 1""",

    "q66_first_last" ->
      """SELECT user_id, event_id,
         first_value(event_type) OVER w AS first_type,
         last_value(event_type) OVER w AS last_type
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",

    "q67_ntile_decile" ->
      """SELECT decile, count(*) AS n FROM (
           SELECT o_orderkey,
             ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
               AS decile
           FROM orders)
         GROUP BY decile""",

    // BM25 replayed relationally: the float expression is written
    // operator-for-operator as the Spark side computes it (same
    // literals, same associativity), then quantized to micro-units
    // BEFORE the per-doc sum so the compare boundary is integer
    "q100_bm25_topk" ->
      s"""WITH $Bm25Ctes
         SELECT doc_id, n_terms, score_fp6, rank FROM (
           SELECT doc_id, n_terms, score_fp6, row_number() OVER (
             ORDER BY score_fp6 DESC, doc_id ASC) AS rank
           FROM bm)
         WHERE rank <= 50""",

    // RRF = sum of 1e9 // (60+rank) over the two systems' top-100s —
    // pure integer fusion; the semantic side replays q24's rounded-
    // cosine ranking for the vec_id=0 probe
    "q101_hybrid_rrf" ->
      s"""WITH $Bm25Ctes,
         lex AS (
           SELECT doc_id, rank_1 FROM (
             SELECT doc_id, row_number() OVER (
               ORDER BY score_fp6 DESC, doc_id ASC) AS rank_1
             FROM bm)
           WHERE rank_1 <= 100),
         s AS (
           SELECT c.vec_id AS doc_id,
             round(
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               + 1e-9, 4) AS score
           FROM embeddings c,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
           WHERE c.vec_id != 0),
         sem AS (
           SELECT doc_id, rank_2 FROM (
             SELECT doc_id, row_number() OVER (
               ORDER BY score DESC, doc_id ASC) AS rank_2
             FROM s)
           WHERE rank_2 <= 100)
         SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           rank_1, rank_2,
           (CASE WHEN rank_1 IS NULL THEN 0
                 ELSE 1000000000 // (60 + rank_1) END) +
           (CASE WHEN rank_2 IS NULL THEN 0
                 ELSE 1000000000 // (60 + rank_2) END) AS rrf_fp9
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id""",

    "q102_crawl_schedule" ->
      """SELECT doc_id, source,
         row_number() OVER w AS fetch_seq,
         (row_number() OVER w - 1) *
           (CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 250
                        ELSE 500 END) AS fetch_at_ms
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC)""",

    // interpolated KN replayed relationally: kept-bigram table, its
    // two marginals and B, the discounted + continuation-mass p, and
    // the D/total floor — float ops written exactly as the Spark side
    // computes them
    "q103_kneser_ney" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
         uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
         tot AS (SELECT CAST(sum(c1) AS BIGINT) AS total FROM uni),
         pairs AS (
           SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> array_to_string(ws[i:i+1], ' '))) AS bg
           FROM w),
         bgc AS (
           SELECT bg, count(*) AS c2 FROM pairs
           GROUP BY bg HAVING count(*) >= 21),
         bgs AS (
           SELECT bg, c2, string_split(bg, ' ')[1] AS w1,
             string_split(bg, ' ')[2] AS w2
           FROM bgc),
         bb AS (SELECT count(*) AS b FROM bgs),
         fan AS (SELECT w1, count(*) AS n1p FROM bgs GROUP BY w1),
         con AS (SELECT w2, count(*) AS n1pc FROM bgs GROUP BY w2),
         pr AS (
           SELECT p.doc_id,
             (greatest(COALESCE(CAST(bgs.c2 AS DOUBLE), 0.0) - 0.75,
                0.0)
              + 0.75 * CAST(COALESCE(fan.n1p, 0) AS DOUBLE)
                * (CAST(COALESCE(con.n1pc, 0) AS DOUBLE)
                   / CAST(bb.b AS DOUBLE)))
             / CAST(u1.c1 AS DOUBLE) AS p,
             t.total AS total
           FROM pairs p
           LEFT JOIN bgs USING (bg)
           JOIN uni u1 ON u1.w = string_split(p.bg, ' ')[1]
           LEFT JOIN fan ON fan.w1 = string_split(p.bg, ' ')[1]
           LEFT JOIN con ON con.w2 = string_split(p.bg, ' ')[2]
           CROSS JOIN bb CROSS JOIN tot t),
         sc AS (
           SELECT doc_id,
             CASE WHEN p > 0.0 THEN -log2(p)
                  ELSE -log2(0.75 / CAST(total AS DOUBLE)) END AS s
           FROM pr)
         SELECT doc_id,
           round(avg(s) + 1e-9, 4) AS avg_surprisal,
           count(*) AS n_transitions
         FROM sc GROUP BY doc_id""",

    // q24's cosine ranking (k=20) scored against label-match
    // relevance: integer hits, exact fixed-point MRR, 4-dp rounded
    // recall/nDCG with the IDCG sequence folded as Spark folds it
    "q106_retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding AS c_vec, label
               FROM embeddings),
         s AS (
           SELECT q_id, c_id,
             round(
               list_sum(list_transform(list_zip(q_vec, c_vec),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q_vec,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c_vec,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               + 1e-9, 4) AS score
           FROM q, c WHERE c_id != q_id),
         rk AS (
           SELECT q_id, c_id, rank FROM (
             SELECT q_id, c_id, row_number() OVER (
               PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
             FROM s)
           WHERE rank <= 20),
         rel AS (
           SELECT q.q_id, c.vec_id AS c_id
           FROM q JOIN embeddings c ON q.label = c.label
           WHERE c.vec_id != q.q_id),
         tot AS (
           SELECT q_id, count(*) AS n_relevant FROM rel GROUP BY q_id),
         h AS (
           SELECT rk.q_id, count(*) AS hits,
             min(rank) AS first_hit,
             sum(1.0 / log2(rank + 1)) AS dcg
           FROM rk JOIN rel USING (q_id, c_id)
           GROUP BY rk.q_id)
         SELECT tot.q_id,
           tot.n_relevant,
           COALESCE(h.hits, 0) AS hits,
           CASE WHEN h.first_hit IS NOT NULL
             THEN CAST(floor(1000000000.0 /
               CAST(h.first_hit AS DOUBLE)) AS BIGINT)
             ELSE 0 END AS mrr_fp9,
           round(CAST(COALESCE(h.hits, 0) AS DOUBLE) /
             CAST(tot.n_relevant AS DOUBLE) + 1e-9, 4) AS recall_at_k,
           round(COALESCE(h.dcg, 0.0) /
             list_sum(list_transform(
               range(1, least(tot.n_relevant, 20) + 1),
               i -> 1.0 / log2(i + 1))) + 1e-9, 4) AS ndcg_at_k
         FROM tot LEFT JOIN h ON tot.q_id = h.q_id""",

    "q107_incremental_dedup" ->
      """WITH fp AS (
           SELECT doc_id, source, text,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS f
           FROM documents),
         snap AS (
           SELECT DISTINCT f FROM fp WHERE strlen(source) = 4),
         first_in_batch AS (
           SELECT doc_id, text, f FROM (
             SELECT doc_id, text, f, row_number() OVER (
               PARTITION BY f ORDER BY doc_id) AS rn
             FROM fp WHERE strlen(source) = 5)
           WHERE rn = 1)
         SELECT doc_id, strlen(text) AS octets
         FROM first_in_batch
         WHERE f NOT IN (SELECT f FROM snap)""",

    // the same integer recurrence as Graph.pageRankFixed, unrolled:
    // init = scale//n, tele = scale*15//100//n, contribution =
    // rank*85//100//outdeg (all BIGINT floor division, left-assoc —
    // identical order to the Spark DIV chain), five chained CTEs
    "q108_pagerank" ->
      """WITH base AS (
           SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         und AS (
           SELECT src, dst FROM base
           UNION SELECT dst, src FROM base),
         deg AS (SELECT src, count(*) AS outdeg FROM und GROUP BY src),
         c AS (SELECT
             CAST(1000000000000 // k AS BIGINT) AS init,
             CAST(1000000000000 * 15 // 100 // k AS BIGINT) AS tele
           FROM (SELECT (SELECT count(*) FROM customer)
                      + (SELECT count(*) FROM supplier) AS k)),
         r0 AS (SELECT DISTINCT src AS node_id,
             (SELECT init FROM c) AS rank_fixed FROM und),
         r1 AS (SELECT e.dst AS node_id,
             CAST((SELECT tele FROM c) + sum(
               r.rank_fixed * 85 // 100 // d.outdeg) AS BIGINT)
               AS rank_fixed
           FROM und e JOIN deg d ON e.src = d.src
           JOIN r0 r ON r.node_id = e.src GROUP BY e.dst),
         r2 AS (SELECT e.dst AS node_id,
             CAST((SELECT tele FROM c) + sum(
               r.rank_fixed * 85 // 100 // d.outdeg) AS BIGINT)
               AS rank_fixed
           FROM und e JOIN deg d ON e.src = d.src
           JOIN r1 r ON r.node_id = e.src GROUP BY e.dst),
         r3 AS (SELECT e.dst AS node_id,
             CAST((SELECT tele FROM c) + sum(
               r.rank_fixed * 85 // 100 // d.outdeg) AS BIGINT)
               AS rank_fixed
           FROM und e JOIN deg d ON e.src = d.src
           JOIN r2 r ON r.node_id = e.src GROUP BY e.dst),
         r4 AS (SELECT e.dst AS node_id,
             CAST((SELECT tele FROM c) + sum(
               r.rank_fixed * 85 // 100 // d.outdeg) AS BIGINT)
               AS rank_fixed
           FROM und e JOIN deg d ON e.src = d.src
           JOIN r3 r ON r.node_id = e.src GROUP BY e.dst),
         r5 AS (SELECT e.dst AS node_id,
             CAST((SELECT tele FROM c) + sum(
               r.rank_fixed * 85 // 100 // d.outdeg) AS BIGINT)
               AS rank_fixed
           FROM und e JOIN deg d ON e.src = d.src
           JOIN r4 r ON r.node_id = e.src GROUP BY e.dst)
         SELECT node_id, rank_fixed FROM r5
         UNION ALL
         SELECT node_id, (SELECT tele FROM c) AS rank_fixed FROM (
           SELECT c_custkey AS node_id FROM customer
           UNION ALL
           SELECT s_suppkey + 1000000 FROM supplier) an
         WHERE node_id NOT IN (SELECT src FROM und)""",

    // same smooth-idf micro-unit expression as Retrieval.tfIdfTopTerms,
    // identical operator order: ((tf * (ln((n+1)/(df+1)) + 1)) * 1e6)
    // + 0.5, floored; ranking on the integer score with term tie-break
    "q109_tfidf_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x <> '')) AS w
           FROM documents WHERE text IS NOT NULL),
         nn AS (
           SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
         tf AS (
           SELECT doc_id, w, count(*) AS tf FROM toks
           GROUP BY doc_id, w),
         dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         scored AS (
           SELECT tf.doc_id, tf.w, tf.tf, dfq.df,
             CAST(floor(tf.tf * (ln(((SELECT n FROM nn) + 1.0)
               / (dfq.df + 1.0)) + 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS score_fp6
           FROM tf JOIN dfq USING (w))
         SELECT doc_id, w AS term, tf, df, score_fp6,
           CAST(rn AS INT) AS rnk
         FROM (
           SELECT *, row_number() OVER (
             PARTITION BY doc_id
             ORDER BY score_fp6 DESC, w ASC) AS rn
           FROM scored)
         WHERE rn <= 3""",

    // same integer quota derivation as Mixing.temperatureMixtureSqrt:
    // wq = floor(sqrt(count)*1e6 + 0.5) (IEEE sqrt — exactly rounded
    // in both engines), quota = target*wq // sum(wq), then the q90
    // md5-rank take
    "q110_temperature_mix" ->
      """WITH cnt AS (
           SELECT source, count(*) AS c FROM documents GROUP BY source),
         wq AS (
           SELECT source,
             CAST(floor(sqrt(c) * 1000000.0 + 0.5) AS BIGINT) AS wq
           FROM cnt),
         tot AS (SELECT CAST(sum(wq) AS BIGINT) AS t FROM wq),
         q AS (
           SELECT source, (200 * wq) // (SELECT t FROM tot) AS quota
           FROM wq),
         r AS (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(cast(doc_id AS varchar)), doc_id) AS rn
           FROM documents)
         SELECT doc_id, source, rn AS mix_rank
         FROM r JOIN q USING (source)
         WHERE rn <= quota""",

    // identical expression order to LanguageModel.pmiCollocations:
    // ln(((c2d * U) * U) / ((Td * c1x) * c1y)), floored micro-units
    "q111_pmi_collocations" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               x -> x <> '') AS ws
           FROM documents WHERE text IS NOT NULL),
         stats AS (
           SELECT CAST(sum(len(ws)) AS BIGINT) AS u,
             CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS t
           FROM w),
         uni AS (
           SELECT w, count(*) AS c1
           FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
         bgc AS (
           SELECT bg, count(*) AS c2 FROM (
             SELECT unnest(list_transform(
               range(1, greatest(len(ws) - 1, 0) + 1),
               i -> array_to_string(ws[i:i+1], ' '))) AS bg
             FROM w)
           GROUP BY bg HAVING count(*) >= 5)
         SELECT string_split(bg, ' ')[1] AS w1,
           string_split(bg, ' ')[2] AS w2,
           c2 AS pair_count,
           CAST(floor(ln((CAST(c2 AS DOUBLE) * s.u * s.u)
             / (CAST(s.t AS DOUBLE) * u1.c1 * u2.c1))
             * 1000000.0 + 0.5) AS BIGINT) AS pmi_fp6
         FROM bgc
         JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
         JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
         CROSS JOIN stats s""",

    // greedy earliest-match funnel: t1 = min(view), t_i = min(step_i
    // at/after t_{i-1}) — greedy-earliest is the max-depth witness
    "q113_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type,
             epoch_ns(ts) // 1000000000 AS sec
           FROM events),
         s1 AS (
           SELECT user_id, min(sec) AS t FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(sec) AS t FROM e
           JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND sec >= s1.t
           GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(sec) AS t FROM e
           JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND sec >= s2.t
           GROUP BY e.user_id)
         SELECT 1 AS step, 'view' AS step_name, count(*) AS users FROM s1
         UNION ALL
         SELECT 2, 'click', count(*) FROM s2
         UNION ALL
         SELECT 3, 'purchase', count(*) FROM s3""",

    "q114_cohort_retention" ->
      """WITH e AS (
           SELECT user_id,
             epoch_ns(ts) // 1000000000 // 604800 AS p
           FROM events),
         f AS (
           SELECT user_id, min(p) AS cohort_period FROM e
           GROUP BY user_id)
         SELECT cohort_period, p - cohort_period AS period_offset,
           count(DISTINCT user_id) AS active_users
         FROM e JOIN f USING (user_id)
         GROUP BY cohort_period, period_offset""",

    // brute-force cross join — the blocked PassJoin must reproduce it
    // exactly (same unit-cost Levenshtein in both engines)
    "q115_edit_distance_join" ->
      """WITH p AS (
           SELECT doc_id, substr(text, 1, 24) AS s FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.s, b.s) AS dist
         FROM p a JOIN p b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.s, b.s) <= 2""",

    // exact census answer — the MG candidate pass is plan-only
    "q116_heavy_hitters" ->
      """WITH w AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x <> '')) AS token
           FROM documents)
         SELECT token, count(*) AS cnt FROM w
         GROUP BY token
         HAVING count(*) * 30 > (SELECT count(*) FROM w)""",

    "q117_zipf_fit" ->
      """WITH w AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'),
             x -> x <> '')) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
         r AS (
           SELECT cnt, row_number() OVER (
             ORDER BY cnt DESC, w ASC) AS rank
           FROM c),
         p AS (
           SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5)
               AS HUGEINT) AS x,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5)
               AS HUGEINT) AS y
           FROM r),
         a AS (
           SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
             sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM p)
         SELECT CAST(n AS BIGINT) AS n_types,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) + 1e-9, 6) AS slope_6,
           round((CAST(sy AS DOUBLE)
               - CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 1000000.0 + 1e-9, 6) AS intercept_6
         FROM a""",

    // q75's per-doc surprisal replayed verbatim, then a plain ANSI
    // ntile(3) window — the two-phase range-partitioned ranking must
    // reproduce it bit-for-bit (ties broken by doc_id in both)
    "q118_ccnet_buckets" ->
      """WITH w AS (
           SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '\s+'),
               x -> x <> '')) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
         t AS (SELECT sum(cnt) AS total FROM c),
         s AS (
           SELECT doc_id,
             round(avg(-log2(CAST(cnt AS DOUBLE) /
               CAST(total AS DOUBLE))) + 1e-9, 4) AS avg_surprisal
           FROM w JOIN c USING (w), t
           GROUP BY doc_id),
         nt AS (
           SELECT d.doc_id, d.lang, s.avg_surprisal,
             ntile(3) OVER (PARTITION BY d.lang
               ORDER BY s.avg_surprisal, d.doc_id) AS nt
           FROM documents d JOIN s USING (doc_id))
         SELECT doc_id, lang, avg_surprisal,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM nt""",

    // the q83 clustering CTEs verbatim, then the q74 salted-md5 split
    // keyed on cluster_rep instead of doc_id
    "q119_leakage_split" -> (DupClustersCtes +
      """,
         cc AS (
           SELECT id AS doc_id, min(rep) AS cluster_rep
           FROM r GROUP BY id)
         SELECT doc_id, cluster_rep,
           CASE WHEN sb < 800 THEN 'train'
                WHEN sb < 900 THEN 'val'
                ELSE 'test' END AS split
         FROM (
           SELECT doc_id, cluster_rep,
             CAST(CAST(('0x' || substr(md5(CAST(cluster_rep AS VARCHAR)
               || ':split'), 1, 8)) AS UBIGINT) % 1000 AS BIGINT) AS sb
           FROM cc)"""),

    // closed-form water line replayed in SQL: strata sorted ascending
    // by count, capped suffix found by the prefix+slots*count
    // overflow test, integer DIV/mod remainder spread, then the q90
    // md5-rank take
    "q120_water_fill" ->
      """WITH c AS (
           SELECT source, count(*) AS cnt FROM documents
           GROUP BY source),
         o AS (
           SELECT source, cnt,
             CAST(row_number() OVER (ORDER BY cnt, source) AS BIGINT)
               AS i,
             coalesce(sum(cnt) OVER (ORDER BY cnt, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS pb,
             CAST(count(*) OVER () AS BIGINT) AS m
           FROM c),
         f AS (
           SELECT *, (pb + (m - i + 1) * cnt > 300) AS capped FROM o),
         j AS (
           SELECT min(CASE WHEN capped THEN i END) AS ji,
             min(CASE WHEN capped THEN pb END) AS jpb
           FROM f),
         q AS (
           SELECT f.source,
             CASE WHEN j.ji IS NULL OR f.i < j.ji THEN f.cnt
               ELSE (300 - j.jpb) // (f.m - j.ji + 1) +
                 (CASE WHEN f.i - j.ji <
                    (300 - j.jpb) % (f.m - j.ji + 1)
                  THEN 1 ELSE 0 END)
             END AS quota
           FROM f CROSS JOIN j)
         SELECT doc_id, source, rn AS mix_rank FROM (
           SELECT d.doc_id, d.source, q.quota,
             row_number() OVER (PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
           FROM documents d JOIN q USING (source))
         WHERE rn <= quota""",

    // Semantic decontamination: the q44 portable-embedding CTEs split
    // cross-strata — train sigs bucket-join eval sigs, integer-exact
    // cosine verify at 0.8, max per train doc; every train doc gets a
    // row with the contamination flag.
    "q121_semantic_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, source, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS tok
           FROM documents),
         feat AS (
           SELECT doc_id, source, h % 64 AS bucket,
             CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
           FROM (SELECT doc_id, source,
                   ('0x' || substr(md5(k || '_' || tok), 1, 15))::BIGINT AS h
                 FROM toks CROSS JOIN (VALUES (0),(1)) kk(k))),
         vec AS (
           SELECT doc_id, source, bucket, sum(s)::BIGINT AS v
           FROM feat GROUP BY doc_id, source, bucket
           HAVING sum(s) <> 0),
         planes AS (
           SELECT p, d,
             CASE WHEN ('0x' || substr(md5('w_' || p || '_' || d), 1, 15))::BIGINT
               % 2 = 0 THEN 1 ELSE -1 END AS w
           FROM range(8) t1(p) CROSS JOIN range(64) t2(d)),
         sigbits AS (
           SELECT v.doc_id, pl.p,
             CASE WHEN sum(v.v * pl.w) >= 0 THEN 1 ELSE 0 END AS bit
           FROM vec v JOIN planes pl ON pl.d = v.bucket
           GROUP BY v.doc_id, pl.p),
         sig AS (
           SELECT doc_id, sum(bit * (1 << p))::BIGINT AS sig
           FROM sigbits GROUP BY doc_id),
         norms AS (
           SELECT doc_id, sum(v * v)::BIGINT AS norm2
           FROM vec GROUP BY doc_id),
         train AS (
           SELECT s.doc_id, s.sig FROM sig s
           JOIN documents d ON d.doc_id = s.doc_id
           WHERE d.source <> 'src0'),
         ev AS (
           SELECT s.doc_id, s.sig FROM sig s
           JOIN documents d ON d.doc_id = s.doc_id
           WHERE d.source = 'src0'),
         hits AS (
           SELECT t.doc_id, max(
             round(n.num::DOUBLE / (sqrt(na.norm2) * sqrt(nb.norm2))
               + 1e-9, 4)) AS max_eval_cos
           FROM train t
           JOIN ev e ON e.sig = t.sig
           JOIN (
             SELECT va.doc_id AS a, vb.doc_id AS b,
               sum(va.v * vb.v)::BIGINT AS num
             FROM vec va JOIN vec vb ON vb.bucket = va.bucket
             WHERE va.source <> 'src0' AND vb.source = 'src0'
             GROUP BY va.doc_id, vb.doc_id) n
             ON n.a = t.doc_id AND n.b = e.doc_id
           JOIN norms na ON na.doc_id = t.doc_id
           JOIN norms nb ON nb.doc_id = e.doc_id
           WHERE round(n.num::DOUBLE / (sqrt(na.norm2) * sqrt(nb.norm2))
             + 1e-9, 4) >= 0.8
           GROUP BY t.doc_id)
         SELECT t.doc_id,
           h.max_eval_cos IS NOT NULL AS contaminated,
           coalesce(h.max_eval_cos, 0.0) AS max_eval_cos
         FROM (SELECT doc_id FROM documents WHERE source <> 'src0') t
         LEFT JOIN hits h ON h.doc_id = t.doc_id""",

    // Portable chunk packing: pinned-regex sentences, the reference's
    // exact truncate rule (cap-1 words + fused "..."), and the greedy
    // flush/co-pack loop as a per-doc resettable cumsum — a recursive
    // CTE stepping sentence-by-sentence, exactly packSlices' state
    // machine.
    "q122_chunks_portable" ->
      """WITH RECURSIVE norm AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(
             text, '\n+', ' ', 'g'), ' +', ' ', 'g')) AS t
           FROM documents),
         sentsl AS (
           SELECT doc_id,
             regexp_extract_all(t, '[^.!?]+[.!?]*') AS ss
           FROM norm),
         sidx AS (
           SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS raw_i
           FROM sentsl),
         sraw AS (
           SELECT doc_id, raw_i, trim(ss[raw_i]) AS s FROM sidx),
         sents AS (
           SELECT doc_id, s,
             row_number() OVER (PARTITION BY doc_id ORDER BY raw_i)
               AS idx,
             len(list_filter(string_split_regex(s, '\s+'),
               x -> x <> '')) AS w0
           FROM sraw WHERE s <> ''),
         tsents AS (
           SELECT doc_id, idx,
             CASE WHEN w0 > 32 THEN array_to_string(
               list_filter(string_split_regex(s, '\s+'),
                 x -> x <> '')[1:31], ' ') || '...'
             ELSE s END AS s,
             CASE WHEN w0 > 32 THEN 31 ELSE w0 END AS w
           FROM sents),
         pack AS (
           SELECT doc_id, idx, 1 AS slice, w AS running, s
           FROM tsents WHERE idx = 1
           UNION ALL
           SELECT nx.doc_id, nx.idx,
             CASE WHEN p.running + nx.w > 32 THEN p.slice + 1
               ELSE p.slice END,
             CASE WHEN p.running + nx.w > 32 THEN nx.w
               ELSE p.running + nx.w END,
             nx.s
           FROM pack p JOIN tsents nx
             ON nx.doc_id = p.doc_id AND nx.idx = p.idx + 1)
         SELECT doc_id, slice - 1 AS order_sequence,
           slice_text,
           len(list_filter(string_split_regex(slice_text, '\s+'),
             x -> x <> '')) AS n_words
         FROM (
           SELECT doc_id, slice,
             string_agg(s, ' ' ORDER BY idx) AS slice_text
           FROM pack GROUP BY doc_id, slice)""",

    // Char-trigram lang-id: the rank-profile model's tables and the
    // full rank/distance/argmin algebra are generated from the Scala
    // model itself (LangId.oracleSql — the Bpe.oracleSql discipline),
    // then joined back for the declared_lang column.
    "q123_lang_trigram" ->
      s"""SELECT d.doc_id, d.lang AS declared_lang, q.detected_lang
         FROM documents d
         JOIN (${graft.functions.LangId.oracleSql()}) q
           ON q.doc_id = d.doc_id""",

    // q124: the same \x{...} classes Java regex executes — RE2 shares
    // the syntax; 'g' flag because DuckDB's regexp_replace is
    // first-match-only by default. Integer censuses + one division.
    "q124_script_profile" -> {
      val counts = graft.functions.TextMetrics.ScriptRanges.map {
        case (n, r) =>
          s"length(regexp_replace(coalesce(text, ''), '[^$r]', '', 'g')) AS $n"
      }.mkString(",\n           ")
      val names = graft.functions.TextMetrics.ScriptRanges.map(_._1)
      val sum = names.mkString(" + ")
      val gr = s"greatest(${names.mkString(", ")})"
      val domCases = names.map(n =>
        s"WHEN $n > 0 AND $n >= $gr THEN '$n'").mkString("\n           ")
      s"""WITH c AS (
         SELECT doc_id,
           $counts
         FROM documents),
       s AS (
         SELECT *, $sum AS script_chars FROM c)
       SELECT doc_id, ${names.mkString(", ")}, script_chars,
         CASE $domCases ELSE 'none' END AS dominant_script,
         CASE WHEN script_chars > 0 THEN
           round($gr::DOUBLE / script_chars::DOUBLE + 1e-9, 4)
         END AS dominant_share
       FROM s"""
    }
  )

  /** Shared BM25 oracle body (q100/q101): tokenize with the census
    * convention, filter to the query terms map-side, tf / df / corpus
    * scalars, micro-unit quantized per-term contributions. */
  private val Bm25Ctes: String =
    """toks AS (
         SELECT doc_id, list_filter(
           string_split_regex(lower(trim(text)), '\s+'),
           x -> x <> '') AS ws
         FROM documents WHERE text IS NOT NULL),
       stats AS (
         SELECT count(*) AS n, CAST(sum(len(ws)) AS BIGINT) AS tot
         FROM toks),
       tf AS (
         SELECT doc_id, dl, w, count(*) AS tf FROM (
           SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM toks)
         WHERE w IN ('vector', 'stream', 'window')
         GROUP BY doc_id, dl, w),
       dfq AS (
         SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
       bm AS (
         SELECT tf.doc_id, count(*) AS n_terms,
           CAST(sum(CAST(floor(
             ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             * (tf.tf * (1.2 + 1)) /
               (tf.tf + 1.2 * ((1 - 0.75) +
                 0.75 * tf.dl / (CAST(stats.tot AS DOUBLE) / stats.n)))
             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_fp6
         FROM tf, dfq, stats WHERE tf.w = dfq.w
         GROUP BY tf.doc_id)"""
}
