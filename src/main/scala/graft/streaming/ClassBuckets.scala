package graft.streaming

import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}

import org.apache.spark.sql.streaming.GroupState

/** The capped distinct-class fold shared by the stateful pair matchers
  * ([[SimHashStream]], [[NearDupStream]], [[EditDistanceStream]]).
  *
  * A group (band bucket or PassJoin block) keeps its members in
  * [[ClassBuckets.Table]]s grouped by distinct KEY (signature or
  * string): a mass-duplication clique occupies one class, and an
  * arrival is scored once per class, not once per member. The pair
  * score is a pure function of the two keys, so the contraction is
  * exact. The cap bounds classes per table, never members. */
private[graft] object ClassBuckets {

  /** Cap sized from a stated corpus: `expectedDocs` itself, floored at
    * the operator's `floor` and clamped to Int. A table's class count
    * is its distinct-key count, which cannot exceed the documents that
    * produced the keys, so within stated scale this cap never
    * truncates, however skewed the buckets. Cost is bounded by the
    * contraction instead: one score per distinct class per arrival. A
    * deployment that must bound state below the corpus's real key
    * diversity passes an explicit cap to the operator's `*Capped`
    * entry point. */
  def classCap(expectedDocs: Long, floor: Int): Int = {
    require(expectedDocs >= 0, s"expectedDocs: $expectedDocs")
    math.max(floor.toLong, expectedDocs).min(Int.MaxValue.toLong).toInt
  }

  /** Distinct class keys in first-seen order, each with its member ids
    * in arrival order, a key→class index, and every id the table has
    * seen (retained members plus, within one fold, dropped overflow
    * arrivals). Indexed through ArrayBuffers: a restored Seq may be a
    * List, whose apply is O(i). */
  final class Table[K] {
    val keys = new ArrayBuffer[K]()
    val members = new ArrayBuffer[ArrayBuffer[Long]]()
    val seen = new HashSet[Long]()
    private val index = new HashMap[K, Int]()

    def load(key: K, ids: Seq[Long]): Unit = {
      index(key) = keys.length
      keys += key
      val m = new ArrayBuffer[Long](ids.size)
      ids.foreach { id => m += id; seen += id }
      members += m
    }

    def classOf(key: K): Int = index.getOrElse(key, -1)

    def render[C](cls: (K, Seq[Long]) => C): Seq[C] =
      keys.indices.map(i => cls(keys(i), members(i).toSeq))
  }

  /** One operator's fold over one group's micro-batch: the parts that
    * differ per operator are the abstract members; [[apply]] is the
    * fold itself. Arrivals fold in `order` so pairing is deterministic
    * under Spark's unordered group iterator. Per arrival:
    *   - an id its own table has seen is an at-least-once replay and
    *     is skipped (exactly-once pairing over at-least-once delivery);
    *   - it is scored once per class of the table it verifies against
    *     (its own, or the opposite role's), and every class with a
    *     score >= 0 emits one row per member other than itself;
    *   - then it joins its key's class in its own table (duplication
    *     never spends cap), claims a new class while the table holds
    *     fewer than `cap`, or emits the operator's overflow marker and
    *     is dropped from state. */
  abstract class Fold[S, A, K, R](op: String, cap: Int,
      order: Ordering[A]) {
    /** The restored state's [[StateVersion]] stamp. */
    protected def stamp(s: S): Int
    /** Loads a restored, version-checked state into the tables. */
    protected def restore(s: S): Unit
    /** The tables as state, stamped `ver`. */
    protected def render(ver: Int): S
    protected def id(a: A): Long
    protected def key(a: A): K
    /** The table `a` joins. */
    protected def own(a: A): Table[K]
    /** The table `a` is scored against. */
    protected def against(a: A): Table[K] = own(a)
    /** `a`'s score against class key `k`; negative emits nothing. */
    protected def score(a: A, k: K): Int
    protected def row(a: A, member: Long, score: Int): R
    protected def marker(a: A): R

    final def apply(arrivals: Iterator[A], state: GroupState[S])
        : Iterator[R] = {
      state.getOption.foreach { s =>
        StateVersion.check(op, stamp(s))
        restore(s)
      }
      val out = Seq.newBuilder[R]
      var grew = false
      arrivals.toSeq.sorted(order).foreach { a =>
        val aid = id(a)
        val mine = own(a)
        if (!mine.seen(aid)) {
          val vs = against(a)
          var i = 0
          while (i < vs.keys.length) {
            val s = score(a, vs.keys(i))
            if (s >= 0) {
              val ms = vs.members(i)
              var j = 0
              while (j < ms.length) {
                if (ms(j) != aid) out += row(a, ms(j), s)
                j += 1
              }
            }
            i += 1
          }
          val k = key(a)
          val c = mine.classOf(k)
          if (c < 0 && mine.keys.length >= cap) out += marker(a)
          else {
            if (c >= 0) mine.members(c) += aid
            else mine.load(k, aid :: Nil)
            grew = true
          }
          mine.seen += aid
        }
      }
      if (grew) state.update(render(StateVersion.Current))
      out.result().iterator
    }
  }
}
