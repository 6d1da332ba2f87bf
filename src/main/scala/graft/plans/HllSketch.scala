package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Mutable HLL register file (2^p byte registers). */
final class HllBuffer(val p: Int) extends Serializable {
  val m: Int = 1 << p
  val registers: Array[Byte] = new Array[Byte](m)

  def add(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val rest = hash << p
    val rank = (if (rest == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  def merge(o: HllBuffer): Unit = {
    var i = 0
    while (i < m) {
      if (o.registers(i) > registers(i)) registers(i) = o.registers(i)
      i += 1
    }
  }

  /** Standard HLL estimate with small-range (linear counting) bias
    * correction. */
  def estimate: Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += 1.0 / (1L << registers(i))
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m * m / sum
    val corrected =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(corrected)
  }
}

/** HyperLogLog distinct-count as a `TypedImperativeAggregate` — the
  * custom-sketch shape for aggregations Spark's codegen'd aggregates
  * can't express (mutable opaque buffer + custom serialization). The
  * buffer is 2^p bytes per group and merges with a register-wise max,
  * so the shuffle carries sketches, not values — the 100 TB
  * count-distinct pattern.
  *
  * (Spark's own approx_count_distinct is HLL++; this exists to
  * demonstrate the imperative-aggregate machinery end-to-end and to
  * allow custom precisions/merge policies.)
  */
/** One wire format for every HLL aggregate: p byte + register file.
  * A single codec — not three copies — so the bin writer and the
  * merge reader can never drift. */
private[plans] object HllCodec {
  def write(buf: HllBuffer): Array[Byte] = {
    val out = new Array[Byte](1 + buf.m)
    out(0) = buf.p.toByte
    System.arraycopy(buf.registers, 0, out, 1, buf.m)
    out
  }
  def read(bytes: Array[Byte]): HllBuffer = {
    val buf = new HllBuffer(bytes(0).toInt)
    System.arraycopy(bytes, 1, buf.registers, 0, buf.m)
    buf
  }
}

case class HllDistinct(
    child: Expression,
    p: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    HllDistinct.atomicInputCheck("hll_distinct", child)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)

  override def update(buf: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(HllDistinct.hashOf(v))
    buf
  }

  override def merge(buf: HllBuffer, other: HllBuffer): HllBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: HllBuffer): Any = buf.estimate

  override def serialize(buf: HllBuffer): Array[Byte] = HllCodec.write(buf)

  override def deserialize(bytes: Array[Byte]): HllBuffer = HllCodec.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllDistinct =
    copy(child = newChildren.head)
}

/** Partial-HLL emitter: same register file, but eval() returns the
  * SERIALIZED sketch — the write side of a distinct-count cube (one
  * binary row per shard/day; see QuantileSketchBinAgg for the pattern
  * write-up). Register-wise max makes HLL the ideal cube sketch:
  * merge is lossless, any shard partition of the data yields the
  * identical merged register file. */
case class HllBinAgg(
    child: Expression,
    p: Int = 11,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    HllDistinct.atomicInputCheck("hll_bin", child)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)
  override def update(buf: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(HllDistinct.hashOf(v))
    buf
  }
  override def merge(buf: HllBuffer, other: HllBuffer): HllBuffer = {
    buf.merge(other); buf
  }
  override def eval(buf: HllBuffer): Any = serialize(buf)
  override def serialize(buf: HllBuffer): Array[Byte] = HllCodec.write(buf)
  override def deserialize(bytes: Array[Byte]): HllBuffer = HllCodec.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): HllBinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllBinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllBinAgg =
    copy(child = newChildren.head)
}

/** Rollup side: register-wise max over persisted HLL binaries, then
  * the standard estimate. Lossless vs a single whole-data sketch. */
case class HllMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hll_merge requires a BINARY child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  // placeholder precision; the first merged sketch's p takes over
  override def createAggregationBuffer(): HllBuffer = new HllBuffer(4)
  override def update(buf: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val other = deserialize(v.asInstanceOf[Array[Byte]])
    if (isEmpty(other)) buf
    else if (isEmpty(buf)) other
    else { buf.merge(other); buf }
  }
  override def merge(buf: HllBuffer, other: HllBuffer): HllBuffer =
    // BOTH sides can be the p=4 empty placeholder (a partition whose
    // rows were all null never grows a real sketch): merging a real
    // 2048-register buffer with a 16-register placeholder would read
    // past the placeholder's registers — skip empties on either side
    if (isEmpty(other)) buf
    else if (isEmpty(buf)) other
    else { buf.merge(other); buf }
  private def isEmpty(buf: HllBuffer): Boolean = {
    var i = 0
    while (i < buf.m) { if (buf.registers(i) != 0) return false; i += 1 }
    true
  }
  override def eval(buf: HllBuffer): Any = buf.estimate
  override def serialize(buf: HllBuffer): Array[Byte] = HllCodec.write(buf)
  override def deserialize(bytes: Array[Byte]): HllBuffer = HllCodec.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HllMergeAgg =
    copy(child = newChildren.head)
}

object HllDistinct {
  /** Shared XXH64 value hash (seed 42) for both sketch writers. */
  /** Analysis-time input gate shared by hll_distinct / hll_bin: only
    * atomic types, whose JVM boxed values have stable value-based
    * hashCodes, may feed `hashOf`. Array/struct/map inputs would fall
    * into the hashCode branch with REPRESENTATION-dependent results
    * (UnsafeArrayData vs GenericArrayData hash differently), silently
    * corrupting estimates — reject them before execution instead. */
  def atomicInputCheck(fn: String, child: Expression)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types._
    child.dataType match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | BooleanType | DateType | TimestampType |
          TimestampNTZType | _: DecimalType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$fn requires an atomic input type (string/numeric/date/timestamp), " +
            s"got ${other.simpleString}")
    }
  }

  def hashOf(v: Any): Long = v match {
    case s: UTF8String => XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
    case l: Long => XXH64.hashLong(l, 42L)
    case i: Int => XXH64.hashLong(i.toLong, 42L)
    case other => XXH64.hashLong(other.hashCode().toLong, 42L)
  }

  import org.apache.spark.sql.graft.Bridge.{column, expression => e}
  def hll_distinct(c: Column): Column = column(HllDistinct(e(c)).toAggregateExpression())
  def hll_bin(c: Column): Column = column(HllBinAgg(e(c)).toAggregateExpression())
  def hll_merge(c: Column): Column = column(HllMergeAgg(e(c)).toAggregateExpression())
}
