package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** `bounded_collect(col, cap)` — collect_list with a hard per-group
  * memory bound: at most `cap` longs are ever held per aggregation
  * buffer, on update AND on merge. Built for bucket-join gating
  * ([[graft.operators.Dedup.candidatePairs]]): with cap = maxBucket+1,
  * a group whose true size exceeds the cap still yields a cap-sized
  * array (the overflow sentinel a downstream size() filter drops),
  * while every group within the cap is collected exactly — so the
  * count-gate pass and the collect pass collapse into ONE aggregation
  * over the input, with no skew OOM risk: a degenerate 100M-member
  * bucket costs cap·8 bytes of buffer, not 800 MB.
  *
  * Which elements survive truncation is arrival-order-dependent and
  * deliberately unspecified — truncated groups must be filtered out,
  * never consumed.
  */
object BoundedCollect {

  def bounded_collect(c: Column, cap: Int): Column =
    Bridge.column(BoundedCollectLong(Bridge.expression(c), cap).toAggregateExpression())
}

/** Growable long buffer capped at `cap` elements. */
final class LongCapBuffer(val cap: Int) extends Serializable {
  var arr: Array[Long] = new Array[Long](math.min(cap, 16))
  var n: Int = 0

  def add(v: Long): Unit = if (n < cap) {
    if (n == arr.length)
      arr = java.util.Arrays.copyOf(arr, math.min(cap, arr.length * 2))
    arr(n) = v
    n += 1
  }
}

case class BoundedCollectLong(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongCapBuffer] {

  require(cap >= 1, s"bounded_collect cap must be >= 1, got $cap")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_collect requires a BIGINT child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): LongCapBuffer = new LongCapBuffer(cap)

  override def update(buf: LongCapBuffer, input: InternalRow): LongCapBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: LongCapBuffer, other: LongCapBuffer): LongCapBuffer = {
    var i = 0
    while (i < other.n && buf.n < buf.cap) { buf.add(other.arr(i)); i += 1 }
    buf
  }

  override def eval(buf: LongCapBuffer): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.n))

  override def serialize(buf: LongCapBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.n * 8)
    bb.putInt(buf.cap); bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LongCapBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new LongCapBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.add(bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BoundedCollectLong =
    copy(child = newChildren.head)
}
