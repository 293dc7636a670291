package graft

import graft.operators.ReleaseSlot

/** The [[ReleaseSlot]] contracts: opening `pins(spark)` releases only
  * the SAME session's previous invocation, `unpin` drops one frame,
  * and a `hold` release runs with the invocation's frames. The
  * session cases drive the slot with counting `hold` thunks (the slot
  * never inspects them) against the shared session and an isolated
  * `newSession()` twin — the multi-session-JVM shape the contract
  * exists for. */
class ReleaseSlotSpec extends SparkSuite {

  test("slots are keyed per session: cross-session swaps never fire " +
      "each other's hooks; same-session swaps fire in order") {
    val s1 = initSpark()
    val s2 = s1.newSession()
    val slot = ReleaseSlot()
    var released = Vector.empty[String]

    slot.pins(s1).hold(() => released :+= "a1")
    // a DIFFERENT session opening must not release s1's invocation
    slot.pins(s2).hold(() => released :+= "b1")
    assert(released.isEmpty,
      "cross-session open released a live invocation")
    // a same-session open releases that session's previous one only
    slot.pins(s1).hold(() => released :+= "a2")
    assert(released == Vector("a1"))
    slot.pins(s2).hold(() => released :+= "b2")
    assert(released == Vector("a1", "b1"))
  }

  test("a hold runs on the next same-session open, not another " +
      "session's") {
    val s1 = initSpark()
    val s2 = s1.newSession()
    val slot = ReleaseSlot()
    var released = Vector.empty[String]

    val p1 = slot.pins(s1)
    p1.hold(() => released :+= "a1")
    // a later hold on the same invocation adds to it, firing nothing
    p1.hold(() => released :+= "a2")
    assert(released.isEmpty, "hold() fired a release")
    slot.pins(s2)
    assert(released.isEmpty, "a second session's open fired a release")
    slot.pins(s1)
    assert(released.toSet == Set("a1", "a2"),
      "the next same-session open missed the held releases")
    // that open pinned nothing, so the next one releases nothing
    slot.pins(s1)
    assert(released.size == 2)
  }

  test("unpin drops only its frame; the rest release on the next open") {
    val s = initSpark()
    import s.implicits._
    val slot = ReleaseSlot()
    val pins = slot.pins(s)
    val a = pins.pin((1 to 50).toDF("a"))
    val b = pins.pin((1 to 60).toDF("b"))
    a.count(); b.count()
    val cached = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    assert(a.storageLevel == cached && b.storageLevel == cached)
    pins.unpin(a)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "unpin left its frame cached")
    assert(b.storageLevel == cached, "unpin dropped another frame")
    slot.pins(s)
    assert(b.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the next open did not release the remaining frame")
  }
}
