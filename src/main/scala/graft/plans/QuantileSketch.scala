package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable compactor-stack quantile summary (the MRL/KLL shape with
  * uniform level capacity k and a deterministic alternating compaction
  * offset — no RNG, so a given ingest order always yields the same
  * summary). Level l holds values of weight 2^l; a full level sorts,
  * keeps every other element, and promotes them one level up —
  * weight-preserving because only an even count ever compacts (an odd
  * straggler stays at its level).
  */
final class QkBuffer(val k: Int) extends Serializable {
  import scala.collection.mutable.ArrayBuffer
  val levels: ArrayBuffer[ArrayBuffer[Double]] = ArrayBuffer(ArrayBuffer())
  val flips: ArrayBuffer[Boolean] = ArrayBuffer(false)
  var count: Long = 0L

  def add(v: Double): Unit = {
    levels(0) += v
    count += 1
    if (levels(0).length >= k) compact(0)
  }

  /** Sort level l, promote every 2nd element (alternating offset) to
    * level l+1; an odd max-straggler stays. Cascades upward. */
  private def compact(l: Int): Unit = {
    val buf = levels(l)
    if (buf.length < 2) return
    val sorted = buf.sorted
    val m = sorted.length / 2 // pairs to compact
    val off = if (flips(l)) 1 else 0
    flips(l) = !flips(l)
    if (l + 1 >= levels.length) { levels += ArrayBuffer(); flips += false }
    var i = 0
    while (i < m) { levels(l + 1) += sorted(2 * i + off); i += 1 }
    buf.clear()
    if (sorted.length % 2 == 1) buf += sorted(sorted.length - 1)
    if (levels(l + 1).length >= k) compact(l + 1)
  }

  def merge(o: QkBuffer): Unit = {
    var l = 0
    while (l < o.levels.length) {
      if (l >= levels.length) { levels += ArrayBuffer(); flips += false }
      levels(l) ++= o.levels(l)
      l += 1
    }
    count += o.count
    l = 0
    while (l < levels.length) {
      if (levels(l).length >= k) compact(l)
      l += 1
    }
  }

  /** Nearest-rank quantiles: value at rank ceil(p·N) in the weighted
    * sorted multiset (exact when no compaction ever fired). */
  def quantiles(ps: Array[Double]): Array[Double] = {
    val sorted = weightedItems().sortBy(_._1)
    ps.map { p =>
      val target = math.max(1L, math.ceil(p * count).toLong)
      var cum = 0L
      var i = 0
      var out = if (sorted.nonEmpty) sorted.last._1 else Double.NaN
      var done = false
      while (i < sorted.length && !done) {
        cum += sorted(i)._2
        if (cum >= target) { out = sorted(i)._1; done = true }
        i += 1
      }
      out
    }
  }

  private def weightedItems(): scala.collection.mutable.ArrayBuffer[(Double, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      levels(l).foreach(v => out += ((v, w)))
      l += 1
    }
    out
  }
}

/** Mergeable quantile sketch as a `TypedImperativeAggregate` —
  * completes the bounded-state sketch family (HLL distinct,
  * Misra-Gries heavy hitters, Count-Min point frequency): each partial
  * carries at most k·⌈log₂(N/k)⌉ doubles through the shuffle no matter
  * how many rows it saw, where an exact grouped quantile materializes
  * the whole column per group.
  *
  * Guarantee regimes: with k ≥ group size no compaction fires and the
  * answer IS the exact nearest-rank quantile (the oracle gate runs
  * here, like q128's exact-regime Misra-Gries); under compaction each
  * promoted level adds ≤ its weight to the rank uncertainty —
  * QuantileSketchSpec pins the empirical bound at 200k rows.
  *
  * Output: array<double>, one value per requested quantile fraction.
  */
case class QuantileSketchAgg(
    child: Expression,
    k: Int,
    // Seq, not Array: case-class equality must be STRUCTURAL so
    // Catalyst can canonicalize/dedupe identical sketch aggregates
    ps: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QkBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"qsketch requires a DOUBLE child (cast first), got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): QkBuffer = new QkBuffer(k)

  override def update(buf: QkBuffer, input: InternalRow): QkBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: QkBuffer, other: QkBuffer): QkBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: QkBuffer): Any =
    new GenericArrayData(buf.quantiles(ps.toArray).map(x => x: Any))

  override def serialize(buf: QkBuffer): Array[Byte] = QkCodec.write(buf)
  override def deserialize(bytes: Array[Byte]): QkBuffer = QkCodec.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(child = newChildren.head)
}

/** Serialization-sharing base: the three sketch aggregates (value →
  * quantiles, value → binary, binary → quantiles) differ only in what
  * flows in and out; the buffer wire format is shared so a PERSISTED
  * sketch column round-trips into a later merge — the sketch-cube
  * pattern: daily jobs store one binary row per (shard, day), rollups
  * merge sketches instead of rescanning 100 TB of raw rows. */
object QkCodec {
  def write(buf: QkBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeLong(buf.count)
    out.writeInt(buf.levels.length)
    var l = 0
    while (l < buf.levels.length) {
      out.writeBoolean(buf.flips(l))
      out.writeInt(buf.levels(l).length)
      buf.levels(l).foreach(out.writeDouble)
      l += 1
    }
    out.flush(); bos.toByteArray
  }

  def read(bytes: Array[Byte]): QkBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new QkBuffer(in.readInt())
    buf.count = in.readLong()
    val nLevels = in.readInt()
    buf.levels.clear(); buf.flips.clear()
    var l = 0
    while (l < nLevels) {
      buf.flips += in.readBoolean()
      val n = in.readInt()
      val lvl = scala.collection.mutable.ArrayBuffer[Double]()
      var i = 0
      while (i < n) { lvl += in.readDouble(); i += 1 }
      buf.levels += lvl
      l += 1
    }
    buf
  }
}

/** Partial-sketch emitter: aggregates raw doubles into a SERIALIZED
  * sketch (binary column) instead of answering quantiles — the write
  * side of the sketch cube. */
case class QuantileSketchBinAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QkBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"qsketch_bin requires a DOUBLE child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): QkBuffer = new QkBuffer(k)
  override def update(buf: QkBuffer, input: InternalRow): QkBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }
  override def merge(buf: QkBuffer, other: QkBuffer): QkBuffer = {
    buf.merge(other); buf
  }
  override def eval(buf: QkBuffer): Any = QkCodec.write(buf)
  override def serialize(buf: QkBuffer): Array[Byte] = QkCodec.write(buf)
  override def deserialize(bytes: Array[Byte]): QkBuffer = QkCodec.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchBinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchBinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QuantileSketchBinAgg =
    copy(child = newChildren.head)
}

/** Rollup side: merges PERSISTED sketch binaries (however they were
  * sharded — day, source, tenant) and answers quantiles over the
  * union, never re-reading raw rows. */
case class QuantileSketchMergeAgg(
    child: Expression,
    ps: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QkBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"qsketch_merge requires a BINARY child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // placeholder capacity; the first merged sketch's k takes over
  // (update RETURNS the deserialized buffer when ours is still empty)
  override def createAggregationBuffer(): QkBuffer = new QkBuffer(64)
  override def update(buf: QkBuffer, input: InternalRow): QkBuffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val other = QkCodec.read(v.asInstanceOf[Array[Byte]])
    if (buf.count == 0L) other else { buf.merge(other); buf }
  }
  override def merge(buf: QkBuffer, other: QkBuffer): QkBuffer =
    if (buf.count == 0L) other else { buf.merge(other); buf }
  override def eval(buf: QkBuffer): Any =
    new GenericArrayData(buf.quantiles(ps.toArray).map(x => x: Any))
  override def serialize(buf: QkBuffer): Array[Byte] = QkCodec.write(buf)
  override def deserialize(bytes: Array[Byte]): QkBuffer = QkCodec.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QuantileSketchMergeAgg =
    copy(child = newChildren.head)
}

object QuantileSketch {
  import org.apache.spark.sql.graft.Bridge.{column, expression => e}
  def qsketch(c: Column, k: Int, ps: Seq[Double]): Column =
    column(QuantileSketchAgg(e(c), k, ps).toAggregateExpression())

  /** The persistence pair: `qsketch_bin` emits a serialized partial
    * sketch, `qsketch_merge` merges persisted sketches and answers
    * quantiles. */
  def qsketch_bin(c: Column, k: Int): Column =
    column(QuantileSketchBinAgg(e(c), k).toAggregateExpression())

  def qsketch_merge(c: Column, ps: Seq[Double]): Column =
    column(QuantileSketchMergeAgg(e(c), ps).toAggregateExpression())
}
