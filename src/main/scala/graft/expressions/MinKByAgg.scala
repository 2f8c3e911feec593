package graft.expressions

import java.util.{Comparator, PriorityQueue}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import MinKByAgg.Entry

/** Exact bottom-k `(key, id)` pairs per group: the k smallest under
  * `(key ASC, id ASC)`, which is Spark's own sort order — the
  * `Window.orderBy(key, id)` order of the `row_number` spelling — so both
  * select the identical membership and ranks. The key is a DOUBLE (cast
  * where [[MinKByAgg.of]] builds the aggregate) compared as Spark sorts
  * doubles (−0.0 equals 0.0, NaN last); the id payload is any orderable
  * type, compared with Spark's interpreted ordering for that type. The k
  * largest values are the same aggregate on a negated key:
  * `min_k_by(-v, v, k)`.
  *
  * As a `TypedImperativeAggregate` it combines map-side: each partition
  * ships at most k pairs per group through the shuffle regardless of group
  * size — O(n log k) work, O(k) shuffle bytes per group — where window
  * `row_number` must co-locate and sort the FULL group on one partition
  * (the hot-group hazard GroupCap documents). At 100 TB group sizes this is
  * the difference between shuffling the corpus and shuffling k·|groups|
  * pairs. Rows with a null key or id are skipped.
  *
  * Returns `array<struct<key: double, id: T>>` sorted ascending.
  */
case class MinKByAgg(
    keyChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[PriorityQueue[Entry]] {

  require(k > 0 && k <= 65536, "k in 1..65536")

  override def children: Seq[Expression] = Seq(keyChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", DoubleType, nullable = false),
      StructField("id", idChild.dataType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_min_k_by"

  override def checkInputDataTypes(): TypeCheckResult =
    if (keyChild.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a DOUBLE key (MinKByAgg.of casts it)")
    else TypeUtils.checkForOrderingExpr(idChild.dataType, prettyName)

  @transient private lazy val idOrd: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idChild.dataType)

  /** `(key ASC, id ASC)` of a candidate pair against a heap entry. */
  private def cmp(key: Double, id: Any, e: Entry): Int = {
    val c = SQLOrderingUtil.compareDoubles(key, e.key)
    if (c != 0) c else idOrd.compare(id, e.id)
  }

  @transient private lazy val bestFirst: Comparator[Entry] = (a, b) => cmp(a.key, a.id, b)
  // heap order: head = the current worst survivor, the eviction candidate
  @transient private lazy val worstFirst: Comparator[Entry] = bestFirst.reversed()

  private def enters(heap: PriorityQueue[Entry], key: Double, id: Any): Boolean =
    heap.size < k || cmp(key, id, heap.peek()) < 0

  private def push(heap: PriorityQueue[Entry], e: Entry): Unit = {
    if (heap.size == k) heap.poll()
    heap.add(e)
  }

  override def createAggregationBuffer(): PriorityQueue[Entry] =
    new PriorityQueue[Entry](k + 1, worstFirst)

  override def update(heap: PriorityQueue[Entry], input: InternalRow): PriorityQueue[Entry] = {
    val kv = keyChild.eval(input)
    // the key alone rules most rows out of a full heap: the payload is
    // evaluated only when the key can enter, and copied out of the
    // (reused) input row only when the pair does
    if (kv != null) {
      val key = kv.asInstanceOf[Double]
      if (heap.size < k || SQLOrderingUtil.compareDoubles(key, heap.peek().key) <= 0) {
        val id = idChild.eval(input)
        if (id != null && enters(heap, key, id))
          push(heap, new Entry(key, InternalRow.copyValue(id)))
      }
    }
    heap
  }

  override def merge(a: PriorityQueue[Entry], b: PriorityQueue[Entry]): PriorityQueue[Entry] = {
    val it = b.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (enters(a, e.key, e.id)) push(a, e)
    }
    a
  }

  private def toArrayData(entries: Array[Entry]): GenericArrayData =
    new GenericArrayData(entries.map(e => InternalRow(e.key, e.id)))

  override def eval(heap: PriorityQueue[Entry]): Any = {
    val entries = heap.toArray(new Array[Entry](heap.size))
    java.util.Arrays.sort(entries, bestFirst)
    toArrayData(entries)
  }

  // the buffer travels as one UnsafeRow holding the output-typed array
  // (the serialisation of Spark's own `Collect`)
  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(heap: PriorityQueue[Entry]): Array[Byte] =
    projection(InternalRow(toArrayData(heap.toArray(new Array[Entry](heap.size))))).getBytes

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Entry] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val heap = createAggregationBuffer()
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getStruct(i, 2)
      heap.add(new Entry(s.getDouble(0), s.get(1, idChild.dataType)))
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinKByAgg =
    copy(keyChild = newChildren(0), idChild = newChildren(1))
}

object MinKByAgg {

  /** One heap pair; `id` is owned (never points into a reused row). */
  final class Entry(val key: Double, val id: Any)

  /** The constructor the Column API and the SQL registration
    * (`graft_min_k_by`) share: the key is cast to DOUBLE here, so any
    * numeric key (INT, DECIMAL, …) takes the same path.
    */
  def of(key: Expression, id: Expression, k: Int): MinKByAgg =
    MinKByAgg(Cast(key, DoubleType), id, k)

  /** Column API: `min_k_by(key, id, k)` aggregate →
    * `array<struct<key double, id T>>` ascending.
    */
  def min_k_by(key: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      of(ColumnBridge.expression(key), ColumnBridge.expression(id), k).toAggregateExpression())
}
