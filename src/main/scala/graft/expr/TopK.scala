package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Greatest-n-per-group, the engine's one place for it, in two forms:
  *
  *  - [[perKey]], the window form: rank each key's rows by a total order
  *    and keep the first `limit`. Rows stay rows (every column of the
  *    input survives), the limit may differ per row (a per-stratum
  *    quota), and a literal limit lets Spark cut each key's rows to the
  *    limit before the shuffle. Every keep-first, latest-state, quota
  *    sample and nearest-neighbor ranking goes through it.
  *  - [[topKBy]], the aggregate form (SURVEY §2.11's "optional
  *    TypedImperativeAggregate"): a bounded heap per group over a
  *    struct of the ranked fields, returned as an array. Use it where
  *    groups are huge, k is fixed, and an array per group is the wanted
  *    output: partial (map-side) top-k per partition means each
  *    partition ships at most k rows per group, and the reduce side
  *    merges heaps instead of sorting every row (the plan shape Spark
  *    gives max_by/min_by, generalized to k > 1 with composite
  *    directional ordering).
  *
  * Determinism, both forms: ties rank by the remaining order fields —
  * callers end the order with a unique tie-break (reference discipline,
  * FIXTURES.md).
  */
object TopK {

  /** The first `limit` rows of each `keys` group in `order`:
    * `row_number() over (partitionBy keys orderBy order) <= limit`,
    * with the rank kept as `rankCol` (1-based, int) or dropped.
    *
    * `order` must be a total order within a key — end it with a unique
    * tie-break — or which rows survive a tie depends on the shuffle.
    * `limit` is an int literal (`lit(k)`) for a fixed k, or a column of
    * the input for a per-row limit (a stratum's quota). Only a literal
    * lets Spark plan `WindowGroupLimit` (Partial below the shuffle,
    * Final above it), which cuts each partition's rows per key to the
    * limit before they are shuffled; a column limit ranks every row. */
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      limit: Column, rankCol: Option[String] = None): DataFrame = {
    val rank = rankCol.getOrElse("__rank")
    val kept = df
      .withColumn(rank,
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .where(col(rank) <= limit)
    if (rankCol.isEmpty) kept.drop(rank) else kept
  }

  /** `topKBy(struct(a, b, ...), k, descending)` → array of the k
    * first-ranked structs, in rank order. `descending(i)` flips field i
    * (true = larger-first). */
  def topKBy(sortStruct: Column, k: Int,
      descending: Seq[Boolean]): Column =
    ColumnBridge.column(
      TopKStructs(ColumnBridge.expression(sortStruct), k, descending)
        .toAggregateExpression())
}

case class TopKStructs(child: Expression, k: Int,
    descending: Seq[Boolean],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]] {

  require(k > 0, "k must be positive")

  private lazy val structType = child.dataType.asInstanceOf[StructType]

  /** negative ⟺ a ranks before b (composite, per-field direction;
    * nulls rank last). */
  @transient private lazy val rankOrdering: Ordering[InternalRow] =
    new Ordering[InternalRow] {
      private val fields = structType.fields
      private val dirs =
        Array.tabulate(fields.length)(i =>
          if (i < descending.length && descending(i)) -1 else 1)
      private val orderings = fields.map(f =>
        TypeUtils.getInterpretedOrdering(f.dataType))
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var i = 0
        while (i < fields.length) {
          val an = a.isNullAt(i); val bn = b.isNullAt(i)
          if (an || bn) {
            if (!an) return -1
            if (!bn) return 1
          } else {
            val av = a.get(i, fields(i).dataType)
            val bv = b.get(i, fields(i).dataType)
            val c = orderings(i).asInstanceOf[Ordering[Any]].compare(av, bv)
            if (c != 0) return c * dirs(i)
          }
          i += 1
        }
        0
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    // head = worst kept row (PriorityQueue dequeues the LARGEST by its
    // ordering; under rankOrdering, largest = last-ranked)
    new mutable.PriorityQueue[InternalRow]()(rankOrdering)

  private def offer(buf: mutable.PriorityQueue[InternalRow],
      row: InternalRow): Unit = {
    if (buf.size < k) buf.enqueue(row.copy())
    else if (rankOrdering.compare(row, buf.head) < 0) {
      buf.dequeue()
      buf.enqueue(row.copy())
    }
  }

  override def update(buf: mutable.PriorityQueue[InternalRow],
      input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[InternalRow])
    buf
  }

  override def merge(buf: mutable.PriorityQueue[InternalRow],
      other: mutable.PriorityQueue[InternalRow])
      : mutable.PriorityQueue[InternalRow] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(
      buf.toArray.sorted(rankOrdering).map(_.asInstanceOf[Any]))

  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def serialize(buf: mutable.PriorityQueue[InternalRow])
      : Array[Byte] = {
    val rows = buf.toArray.map(r => toUnsafe(r).copy().getBytes)
    val total = 4 + rows.map(4 + _.length).sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.PriorityQueue[InternalRow] = {
    val buf = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      val row = new UnsafeRow(structType.length)
      row.pointTo(arr, len)
      buf.enqueue(row)
      i += 1
    }
    buf
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StructType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"topKBy requires a struct input, got $other")
    }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStructs =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStructs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStructs =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "top_k_by"
}
