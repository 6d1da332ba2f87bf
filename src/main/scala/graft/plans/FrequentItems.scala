package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Misra-Gries summary: at most `k` counters. */
final class MgBuffer(val k: Int) extends Serializable {
  val counters = new java.util.HashMap[String, Long](k * 2)

  /** Classic MG step: bump a tracked key, start tracking if a slot is
    * free, else decrement every counter (dropping zeros). */
  def add(item: String, weight: Long = 1L): Unit = {
    val cur = counters.get(item)
    if (cur != 0L || counters.containsKey(item)) counters.put(item, cur + weight)
    else if (counters.size < k) counters.put(item, weight)
    else {
      // Decrement-all by the largest amount that keeps the invariant:
      // min(weight, smallest counter) — one pass instead of `weight`
      // unit rounds.
      var dec = weight
      val it0 = counters.values().iterator()
      while (it0.hasNext) { val v = it0.next(); if (v < dec) dec = v }
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - dec
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
      val rem = weight - dec
      if (rem > 0L && counters.size < k) counters.put(item, rem)
    }
  }

  /** Mergeable-summaries MG merge (Agarwal et al.): sum counts, then
    * if over capacity subtract the (k+1)-th largest count from all and
    * drop non-positives — preserves the n/(k+1) error bound. */
  def merge(o: MgBuffer): Unit = {
    val it = o.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counters.get(e.getKey)
      counters.put(e.getKey, cur + e.getValue)
    }
    if (counters.size > k) {
      val vals = new Array[Long](counters.size)
      var i = 0
      val vit = counters.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1) // (k+1)-th largest
      val eit = counters.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val nv = e.getValue - cut
        if (nv <= 0L) eit.remove() else e.setValue(nv)
      }
    }
  }
}

/** Misra-Gries heavy hitters as a `TypedImperativeAggregate`: at most
  * `k` counters per partial, merged with the mergeable-summaries rule,
  * so the shuffle carries ≤ k (item, count) pairs per partition — the
  * 100 TB frequent-items pattern (a full groupBy count materializes
  * the whole vocabulary; this never holds more than k entries
  * anywhere).
  *
  * Guarantee: for true frequency f(x) over n rows,
  * f(x) − n/(k+1) ≤ est(x) ≤ f(x), and every item with
  * f(x) > n/(k+1) is present in the summary. Corollary used by the
  * oracle gate: when k ≥ |distinct items| no decrement ever fires and
  * the summary IS the exact count table.
  *
  * Output: array<struct<item string, cnt long>> sorted (cnt desc,
  * item asc) — deterministic for equal summaries.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] {

  // Reject non-string children at analysis time (the buffer keys on
  // String) instead of a runtime ClassCastException in update().
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_topk requires a STRING child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    buf.merge(other); buf
  }

  // wire format and row order are MgWire's — ONE definition shared
  // with mg_bin/mg_merge, so the in-flight partial format can never
  // drift from the persisted-sketch format it is documented to share
  override def eval(buf: MgBuffer): Any = MgWire.toRows(buf)

  override def serialize(buf: MgBuffer): Array[Byte] = MgWire.write(buf)

  override def deserialize(bytes: Array[Byte]): MgBuffer = MgWire.read(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren.head)
}

/** Shared MG wire format: k, size, then (utf8-len, bytes, count). */
private[plans] object MgWire {
  def write(buf: MgBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.counters.size)
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }
  def read(bytes: Array[Byte]): MgBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new MgBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.counters.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }
  /** Deterministic (cnt desc, item asc) struct-array rendering. */
  def toRows(buf: MgBuffer): GenericArrayData = {
    val entries = new Array[(String, Long)](buf.counters.size)
    var i = 0
    val it = buf.counters.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1
    }
    val sorted = entries.sortBy { case (item, cnt) => (-cnt, item) }
    new GenericArrayData(sorted.map { case (item, cnt) =>
      InternalRow(UTF8String.fromString(item), cnt): Any
    })
  }
}

/** Partial-MG emitter: eval() returns the SERIALIZED summary — the
  * write side of a heavy-hitter cube (one binary row per shard/day;
  * same pattern as HllBinAgg / QuantileSketchBinAgg). Downstream
  * rollups merge persisted binaries with the mergeable-summaries rule
  * instead of rescanning the token stream; in the exact regime
  * (k ≥ distinct items) the rollup is lossless. */
case class MgBinAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_bin requires a STRING child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)
  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }
  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    buf.merge(other); buf
  }
  override def eval(buf: MgBuffer): Any = MgWire.write(buf)
  override def serialize(buf: MgBuffer): Array[Byte] = MgWire.write(buf)
  override def deserialize(bytes: Array[Byte]): MgBuffer = MgWire.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): MgBinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgBinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MgBinAgg =
    copy(child = newChildren.head)
}

/** Rollup side: merge persisted MG binaries (capacity rides in the
  * wire format — the placeholder buffer is replaced by the first real
  * summary, as in HllMergeAgg), emitting the same sorted
  * array<struct<item,cnt>> as mg_topk. */
case class MgMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_merge requires a BINARY child, got ${child.dataType.simpleString}")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def createAggregationBuffer(): MgBuffer = new MgBuffer(0)
  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val other = MgWire.read(v.asInstanceOf[Array[Byte]])
    if (buf.k == 0) other else { buf.merge(other); buf }
  }
  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer =
    if (buf.k == 0) other
    else if (other.k == 0) buf
    else { buf.merge(other); buf }
  override def eval(buf: MgBuffer): Any = MgWire.toRows(buf)
  override def serialize(buf: MgBuffer): Array[Byte] = MgWire.write(buf)
  override def deserialize(bytes: Array[Byte]): MgBuffer = MgWire.read(bytes)
  override def withNewMutableAggBufferOffset(newOffset: Int): MgMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MgMergeAgg =
    copy(child = newChildren.head)
}

object MisraGries {
  import org.apache.spark.sql.graft.Bridge.{column, expression => e}
  def mg_topk(c: Column, k: Int): Column = column(MisraGries(e(c), k).toAggregateExpression())
  def mg_bin(c: Column, k: Int): Column = column(MgBinAgg(e(c), k).toAggregateExpression())
  def mg_merge(c: Column): Column = column(MgMergeAgg(e(c)).toAggregateExpression())
}
