package graft.ledger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.TopK

/** The query-engine heart: batch-selection operators over an append-only
  * process-state ledger (reference: modules/retrieve_data_from_database.py).
  *
  * All operators are pure `DataFrame => DataFrame` transforms so Catalyst
  * plans the physical execution (window vs agg+join, broadcast vs SMJ) —
  * the reference delegates the same decisions to PostgreSQL's planner.
  *
  * Scale notes (100 TB): `latestState` is a single hash-partition shuffle on
  * the group key; cap skew with AQE. `byteCapAdmit` needs a TOTAL order —
  * inherently a global operation, but the admitted prefix is bounded by
  * `cap`, so we pre-prune with an over-admission filter before the single-
  * partition window (see method doc).
  */
object Ledger {

  /** Greatest-n-per-group: the row with max `orderCol` per `keyCols`
    * (reference J1: retrieve_data_from_database.py:46-60,80-103 — subquery
    * grouped-max + self-join; here a ranking window, which Spark executes
    * as one shuffle instead of two).
    *
    * Ties broken by `tieBreak` descending to keep output deterministic.
    */
  def latestState(ledger: DataFrame, keyCols: Seq[String], orderCol: String,
      tieBreak: String): DataFrame =
    TopK.perKey(ledger, keyCols.map(col),
      Seq(col(orderCol).desc, col(tieBreak).desc), lit(1))

  /** Documents whose LATEST ledger state is in `steps` (reference:
    * retrieve_documents_ids_according_process_title,
    * retrieve_data_from_database.py:166-200 + last-state check :373-403). */
  def selectByLastStep(ledger: DataFrame, steps: Seq[String],
      keyCol: String = "document_id", stepCol: String = "title",
      orderCol: String = "operation_order"): DataFrame =
    latestState(ledger, Seq(keyCol), orderCol, orderCol)
      .where(col(stepCol).isin(steps: _*))

  /** Byte-weighted admission control (reference A2/R5:
    * retrieve_data_from_database.py:204-247): walk rows in `orderBy` order,
    * admit while the running total of `sizeCol` stays <= cap, and STOP at
    * the first overflow (reference `break` at :236-237) — later small rows
    * are NOT admitted even if they would fit.
    *
    * Implemented as: cumulative sum over an ordered window + a guard that
    * cuts at min(rank where cum > cap). With strictly positive sizes the
    * guard is redundant (cumsum is monotone), but zero-size rows after the
    * first overflow must still be dropped to match reference semantics.
    *
    * Scale note: a global ordered window is single-partition. For 100 TB
    * inputs, callers should bound the candidate set FIRST (the reference
    * does the same: ORDER BY + LIMIT happens in SQL before the greedy cap,
    * :192-200); `limitRows` applies that pre-bound here.
    */
  def byteCapAdmit(df: DataFrame, orderBy: Seq[Column], sizeCol: String,
      cap: Long, limitRows: Int = 100000,
      keepCumAs: Option[String] = None): DataFrame = {
    val bounded = df.orderBy(orderBy: _*).limit(limitRows)
    val w = Window.orderBy(orderBy: _*)
    val cum = bounded
      .withColumn("__cum", sum(col(sizeCol))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(w))
    // first violating rank (null if none) — evaluated as a window min over
    // the whole (bounded, small) frame
    val cut = cum.withColumn("__cut",
      min(when(col("__cum") > cap, col("__rn")))
        .over(Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val admitted = cut.where(col("__cum") <= cap &&
      (col("__cut").isNull || col("__rn") < col("__cut")))
    keepCumAs match {
      case Some(name) => admitted.withColumnRenamed("__cum", name)
        .drop("__rn", "__cut")
      case None => admitted.drop("__cum", "__rn", "__cut")
    }
  }

  /** As-of resolution: latest `right`-side row per key at-or-before a cutoff
    * (reference J5/W1: retrieve_data_from_database.py:337-358 — row_number
    * over (PARTITION BY doc, corpus ORDER BY used_since DESC) then rn=1).
    */
  def asOfLatest(df: DataFrame, partitionCols: Seq[String], timeCol: String,
      cutoff: Column, tieBreak: String): DataFrame =
    TopK.perKey(df.where(col(timeCol) <= cutoff), partitionCols.map(col),
      Seq(col(timeCol).desc, col(tieBreak).desc), lit(1))

  /** Deterministic pseudo-random sample (reference O4:
    * retrieve_data_from_database.py:286-291 ORDER BY random() LIMIT n; here
    * seedable so the DuckDB oracle can reproduce it — FIXTURES.md
    * determinism requirements). Uses a modulus over a key column rather
    * than rand() so both engines agree bit-for-bit. */
  def deterministicSample(df: DataFrame, keyCol: String, modulus: Int,
      residue: Int = 0): DataFrame =
    df.where(pmod(col(keyCol), lit(modulus)) === residue)

  /** Incremental latest-state maintenance: fold a batch of NEW ledger
    * events into an existing compacted snapshot (one row per key)
    * without touching ledger history. Equivalent to
    * `latestState(history ∪ delta)` but the window input is
    * |keys| + |delta| instead of |history| — at 100 TB the ledger
    * grows forever while the snapshot stays at corpus cardinality, so
    * per-batch maintenance cost stops depending on history length.
    * Pair with a periodic compaction job that persists the snapshot
    * (the reference's PG "current state" is exactly this snapshot,
    * derived there by the J1 subquery on every read). */
  def mergeLatestState(snapshot: DataFrame, delta: DataFrame,
      keyCols: Seq[String], orderCol: String,
      tieBreak: String): DataFrame =
    latestState(snapshot.unionByName(delta), keyCols, orderCol, tieBreak)

  /** Next operation_order values for a ledger append: existing per-document
    * max + row_number within the new batch (reference relies on a PG
    * sequence, migration 821173cf9c5d:310-315; SURVEY §7.5.5).
    *
    * When a batch carries multiple new states for one key, their relative
    * order is taken from `orderWithin` (e.g. a batch sequence column); by
    * default every non-key column of `newStates`, in schema order — fully
    * deterministic across runs and partitionings (ordering by the
    * partition key alone would leave ties nondeterministic). */
  def withNextOperationOrder(newStates: DataFrame, ledger: DataFrame,
      keyCol: String = "document_id",
      orderCol: String = "operation_order",
      orderWithin: Seq[String] = Seq.empty): DataFrame = {
    val maxes = ledger.groupBy(keyCol)
      .agg(max(col(orderCol)).as("__prev_max"))
    val orderCols =
      (if (orderWithin.nonEmpty) orderWithin
       else newStates.columns.filterNot(_ == keyCol).toSeq).map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    newStates.join(maxes, Seq(keyCol), "left")
      .withColumn(orderCol,
        coalesce(col("__prev_max"), lit(0L)) + row_number().over(w))
      .drop("__prev_max")
  }
}
