package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one place an operator registers a cache that must outlive its
  * call. An operator whose returned frame still reads an
  * internally-persisted dataset lazily cannot free the cache inside
  * the call (the caller has not evaluated yet), so each invocation
  * releases the PREVIOUS invocation's caches instead — a long-lived
  * session pins at most one invocation's caches per operator, not one
  * per invocation.
  *
  * An operator holds ONE slot and opens ONE [[ReleaseSlot.Pins]] per
  * invocation with [[pins]]; everything the invocation keeps past its
  * call goes through that `Pins`.
  *
  * ORDERING CONTRACT: opening `pins(spark)` releases the session's
  * previous invocation FIRST, before this invocation persists
  * anything. Spark's cache manager dedupes persist() on the analyzed
  * plan, so on identical lineage a persist-then-release order would
  * register nothing new and the previous release would then drop the
  * very entry this call relies on — alternating cache hits with full
  * recomputes across repeated invocations. Each `pin`/`hold`
  * re-registers the invocation's release right after it, so an action
  * that fails or is cancelled later cannot orphan a cache for the
  * session's lifetime.
  *
  * SAFETY CONTRACT: only RECOMPUTABLE backing goes here —
  * `persist()`/broadcast caches, where a late evaluation of a
  * superseded frame recomputes and is slower but never wrong. NEVER
  * hold a `localCheckpoint` release: checkpointing discards lineage,
  * so releasing it crashes a still-live consumer with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing (the
  * checkpoint loops release their OWN superseded rounds synchronously
  * through `Dedup.releaseCheckpoint`, where no external reader can
  * exist).
  *
  * SESSION CONTRACT: releases are keyed by the OWNING [[SparkSession]]
  * — a JVM fronting several sessions (multi-tenant server, test
  * harness with `newSession()` sandboxes) can run the same operator
  * concurrently from different sessions without releasing each
  * other's live caches, and a session's entry dies with the session
  * (weak keys — a stopped, unreferenced session's release becomes
  * unreachable together with the caches it would have dropped).
  * WITHIN one session the at-most-one-in-flight-per-operator
  * assumption of the batch-pipeline model remains: two concurrent
  * same-session invocations release each other's caches mid-query —
  * never a wrong result (persist-backed frames recompute from
  * deterministic lineage), but each query degrades to recompute-only,
  * and for a NONDETERMINISTIC input frame the recompute widens the
  * window in which an adaptive operator's routing decision (census)
  * and its executed plan read different snapshots — such callers must
  * persist their input themselves (the documented input contract of
  * every adaptive operator) or serialize same-session invocations per
  * operator.
  */
final class ReleaseSlot private () {
  // WeakHashMap, not ConcurrentHashMap: slot traffic is a few puts per
  // operator INVOCATION (not per row), so a short synchronized block
  // costs nothing, and weak keys are load-bearing — a strong key would
  // pin every ephemeral session (and its release's captured frames)
  // for the JVM lifetime. Releases run OUTSIDE the lock: unpersist()
  // can block on the cache manager.
  private val last = new java.util.WeakHashMap[SparkSession, () => Unit]()

  /** Open one invocation's pins for `spark`, first releasing what this
    * session's previous invocation pinned. */
  def pins(spark: SparkSession): ReleaseSlot.Pins = {
    val prev = synchronized { last.remove(spark) }
    if (prev != null) prev()
    new ReleaseSlot.Pins(spark, this)
  }

  private def set(spark: SparkSession, release: () => Unit): Unit =
    synchronized { last.put(spark, release); () }
}

object ReleaseSlot {
  def apply(): ReleaseSlot = new ReleaseSlot

  /** What one invocation keeps past its call, released together on the
    * session's next [[ReleaseSlot.pins]] of the same slot. */
  final class Pins private[ReleaseSlot] (spark: SparkSession,
      slot: ReleaseSlot) {
    private var frames = List.empty[DataFrame]
    private var held = List.empty[() => Unit]

    private def register(): Unit = {
      val fs = frames
      val hs = held
      slot.set(spark, () => { fs.foreach(_.unpersist()); hs.foreach(_()) })
    }

    /** Persist `df` at MEMORY_AND_DISK until the next invocation. */
    def pin(df: DataFrame): DataFrame = {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      frames ::= df; register(); df
    }

    /** Drop one pinned frame now; the others stay pinned. */
    def unpin(df: DataFrame): Unit = {
      df.unpersist(); frames = frames.filterNot(_ eq df); register()
    }

    /** Keep a non-frame resource (a broadcast) until the next
      * invocation, which runs `release`. */
    def hold(release: () => Unit): Unit = { held ::= release; register() }
  }
}
