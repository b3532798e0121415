package graft.expressions

import java.nio.ByteBuffer
import java.util.{PriorityQueue => JPriorityQueue}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** One (value, key) heap entry — key kept as an exact Long (a Double-packed
  * key would silently lose precision above 2^53). */
final class TopKEntry(val v: Double, val key: Long)

object TopKBuffer {
  /** THE total order, used by the heap, the insert guard, and eval alike:
    * <0 ⇒ a strictly stronger than b. Strength = (-v ASC, key ASC) via
    * java.lang.Double.compare on the NEGATED values — the exact order the
    * udaf twin's `Ordering.by { case (v, k) => (-v, k) }` induces, so the
    * two implementations agree even on NaN (weakest — compare(-a, -b)
    * puts NaN last, where compare(b, a) would put it first) and on
    * -0.0 < 0.0. Primitive ==/> here would make the retained set
    * arrival-order dependent for those values. */
  def stronger(av: Double, ak: Long, bv: Double, bk: Long): Int = {
    val c = java.lang.Double.compare(-av, -bv)
    if (c != 0) c else java.lang.Long.compare(ak, bk)
  }
}

/** Bounded top-k buffer: a min-heap ordered weakest-first, capped at k
  * elements — so a billion-row group holds exactly k entries on the map
  * side, the merge side, and the wire. A unique key makes the retained
  * set (and its order) deterministic. */
final class TopKBuffer(val k: Int) {
  val heap = new JPriorityQueue[TopKEntry](math.max(k, 1),
    (a: TopKEntry, b: TopKEntry) =>
      TopKBuffer.stronger(b.v, b.key, a.v, a.key)) // weakest first

  def insert(v: Double, key: Long): Unit = {
    if (heap.size < k) heap.offer(new TopKEntry(v, key))
    else {
      val w = heap.peek()
      if (TopKBuffer.stronger(v, key, w.v, w.key) < 0) {
        heap.poll(); heap.offer(new TopKEntry(v, key))
      }
    }
  }
}

/** Native Catalyst TypedImperativeAggregate: exact top-k keys by value —
  * `graft_topk_keys(value, key, k)` from SQL text or the Column API.
  *
  * This is the ENGINE-NATIVE aggregate tier of the extension ladder
  * (SURVEY.md §2.12), one rung below the `Aggregator`+`udaf()` pair
  * (`graft.functions.TopKKeys`): the same mechanism Spark's own
  * `percentile`, `collect_list`, and the DataSketches functions use —
  * an arbitrary JVM object as the aggregation buffer, shipped between
  * map and reduce sides through `serialize`/`deserialize` (here
  * 4+16·k bytes), planned by ObjectHashAggregateExec (the hash-agg
  * variant built for sketch-like buffers; falls back to sort-based
  * aggregation under memory pressure).
  *
  * vs `collect_list`+`sort_array`+`slice`: that buffer is O(group size)
  * and spills on hot groups; this buffer is O(k) everywhere — partials,
  * shuffle rows, merge — identical state for a hundred-row or a
  * billion-row group.
  *
  * Determinism: ordering is (value DESC, key ASC) with a unique key ⇒
  * unique result list, so entries built on it sit under the DuckDB hash
  * gate. Null value or key rows are skipped (SQL aggregate convention).
  * `k` must be a foldable positive INT literal. */
case class TopKKeysAgg(
    valueExpr: Expression,
    keyExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = {
    require(kExpr.foldable, "graft_topk_keys: k must be a literal")
    val v = kExpr.eval(InternalRow.empty).asInstanceOf[Int]
    require(v > 0, s"graft_topk_keys: k must be positive, got $v")
    v
  }

  // explicit check instead of ExpectsInputTypes: AbstractDataType (the
  // inputTypes element type) is private[sql] in Spark 4
  override def checkInputDataTypes(): TypeCheckResult = {
    val want = Seq(DoubleType, LongType, IntegerType)
    val got = children.map(_.dataType)
    if (got != want)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_keys expects (DOUBLE value, BIGINT key, INT k), got (${got.mkString(", ")})")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_topk_keys: k must be a literal (foldable), got a non-constant expression")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(valueExpr, keyExpr, kExpr)
  override def prettyName: String = "graft_topk_keys"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = valueExpr.eval(input)
    val key = keyExpr.eval(input)
    if (v != null && key != null)
      buf.insert(v.asInstanceOf[Double], key.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val it = other.heap.iterator()
    while (it.hasNext) { val e = it.next(); buf.insert(e.v, e.key) }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val arr = buf.heap.toArray(Array.empty[TopKEntry])
    // strongest first — the same total order the buffer retains by
    java.util.Arrays.sort(arr, (a: TopKEntry, b: TopKEntry) =>
      TopKBuffer.stronger(a.v, a.key, b.v, b.key))
    new GenericArrayData(arr.map(_.key))
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.heap.size)
    bb.putInt(buf.heap.size)
    val it = buf.heap.iterator()
    while (it.hasNext) {
      val e = it.next(); bb.putDouble(e.v); bb.putLong(e.key)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKKeysAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKKeysAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKKeysAgg =
    copy(valueExpr = newChildren(0), keyExpr = newChildren(1), kExpr = newChildren(2))
}

object TopKKeysAgg {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, NumericType}

  /** The builder GraftExtensions injects for `graft_topk_keys`, the one
    * place the function is registered.
    *
    * Builtin aggregates get implicit numeric coercion from the analyzer;
    * a raw TypedImperativeAggregate does not, so the builder inserts the
    * casts (decimal/int value → double, int key → bigint) exactly where a
    * SQL user expects them. Non-numeric children pass through untouched
    * so checkInputDataTypes names the offender. */
  def build(exprs: Seq[Expression]): TopKKeysAgg = {
    def coerce(e: Expression, to: DataType): Expression =
      if (e.dataType == to) e
      else e.dataType match {
        case _: NumericType => Cast(e, to)
        case _ => e
      }
    TopKKeysAgg(
      coerce(exprs(0), DoubleType),
      coerce(exprs(1), LongType),
      coerce(exprs(2), IntegerType))
  }
}
