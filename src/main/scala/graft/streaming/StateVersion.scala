package graft.streaming

/** Stream-state schema/semantics version guard (round 18).
  *
  * The banded streaming operators' state encodings have changed
  * twice (parallel Seqs → distinct-signature classes in round 17;
  * the version stamp itself in round 18), and each change silently
  * costs a full re-ingest: a checkpoint written by the old encoding
  * either fails Spark's state-schema validation with a raw
  * deserialization error, or — worse, when the schema happens to
  * stay compatible while the SEMANTICS change — restores into wrong
  * behavior with no error at all. The stamp closes both holes: every
  * state class carries `ver` as its FIRST field, every fold checks it
  * on restore, and a mismatch fails fast with a named, actionable
  * error instead of a deserialization surprise three stack frames
  * inside Spark.
  *
  * Version lineage (shared by ALL five custom-state operators —
  * SimHashStream / NearDupStream / EditDistanceStream, whose
  * encodings have moved in lockstep, plus FrontierScheduler and
  * StateMachine, stamped in the same round so the restore-path
  * guarantee is uniform; the built-in stateful operators —
  * dropDuplicates, windowed aggs, interval joins — carry Spark's own
  * state schema versioning):
  * 1 = parallel id/signature Seqs (rounds 10-16, unstamped);
  * 2 = distinct-class contraction (round 17, unstamped);
  * 3 = stamped state (round 18 — the first encoding that can
  * DETECT its successors). The three pair matchers now share one
  * fold, [[ClassBuckets.Fold]], which does their check; a change to
  * its state encoding is one change, pinned by StreamStateSchemaSpec. */
object StateVersion {

  /** The version this binary writes and requires. */
  val Current: Int = 3

  /** Fail fast with a named error if a restored state's stamp does
    * not match this binary's encoding. `op` names the operator for
    * the error message (the checkpoint path is in Spark's own log
    * context). */
  def check(op: String, found: Int): Unit =
    if (found != Current) throw new IllegalStateException(
      s"graft $op stream state version $found does not match this " +
        s"binary's ${Current}: the checkpoint was written by a " +
        "different state encoding. Restart the query from a fresh " +
        "checkpoint — the operator is deterministic and its pairs " +
        "are idempotent-upsert, so a replay reproduces the output " +
        "exactly.")
}
