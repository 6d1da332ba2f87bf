package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch cell assignment, shared by the aggregate and by
  * probe-side column expressions. The hash family is md5-derived so a
  * DuckDB oracle can reproduce every cell exactly:
  * cell(item, r) = int(first 8 hex chars of md5(item || "#" || r)) mod width
  * — in SQL, `('0x' || substr(md5(item || '#' || r), 1, 8))::BIGINT % width`.
  */
object CountMin {
  // One digest instance per executor thread: cellOf runs depth times
  // per input row, and MessageDigest.getInstance allocates.
  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def cellOf(item: String, r: Int, width: Int): Int = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest((item + "#" + r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % width).toInt
  }

  def cm_sketch(c: Column, depth: Int, width: Int): Column =
    Bridge.column(CountMinSketch(Bridge.expression(c), depth, width).toAggregateExpression())
}

/** Mutable d×w counter grid, flattened row-major. */
final class CmBuffer(val depth: Int, val width: Int) extends Serializable {
  val cells = new Array[Long](depth * width)

  def add(item: String, weight: Long = 1L): Unit = {
    var r = 0
    while (r < depth) {
      cells(r * width + CountMin.cellOf(item, r, width)) += weight
      r += 1
    }
  }

  def merge(o: CmBuffer): Unit = {
    var i = 0
    while (i < cells.length) { cells(i) += o.cells(i); i += 1 }
  }
}

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a
  * `TypedImperativeAggregate`: point-frequency estimation in fixed
  * d×w space. Each partial is a d×w long grid; the shuffle carries
  * exactly d·w·8 bytes per partition regardless of vocabulary size —
  * the complement of [[MisraGries]] (MG returns the heavy items, CM
  * answers point queries for ANY item, one-sided error:
  * true ≤ est ≤ true + εN with ε = e/w at depth ln(1/δ)).
  *
  * The grid is fully deterministic (md5-derived cells, exact long
  * sums), so a SQL oracle can rebuild the SAME grid from the exact
  * count table and hash-match the estimates — collisions and all.
  *
  * Output: array<array<long>> — `depth` rows of `width` cells; probe
  * with element_at(element_at(sk, r+1), cell+1).
  */
case class CountMinSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmBuffer] {

  require(depth >= 1 && width >= 1, s"cm_sketch($depth, $width): d, w must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cm_sketch requires a STRING child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def createAggregationBuffer(): CmBuffer = new CmBuffer(depth, width)

  override def update(buf: CmBuffer, input: InternalRow): CmBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: CmBuffer, other: CmBuffer): CmBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: CmBuffer): Any =
    new GenericArrayData(Array.tabulate[Any](depth) { r =>
      new GenericArrayData(
        java.util.Arrays.copyOfRange(buf.cells, r * width, (r + 1) * width))
    })

  override def serialize(buf: CmBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.cells.length * 8)
    bb.putInt(buf.depth); bb.putInt(buf.width)
    buf.cells.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new CmBuffer(bb.getInt(), bb.getInt())
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CountMinSketch =
    copy(child = newChildren.head)
}
