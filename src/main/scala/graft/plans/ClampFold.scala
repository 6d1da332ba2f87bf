package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** The clamp semigroup: one row's contribution to a bounded running
  * accumulation `z → min(max(z + a, lo), hi)` (an inventory balance
  * with a floor and a capacity, a battery's state of charge, a rate
  * limiter's token bucket). These transfer functions are CLOSED under
  * composition —
  *
  *   (a₁,l₁,h₁) ∘then∘ (a₂,l₂,h₂) =
  *     (a₁+a₂, max(l₁+a₂, l₂), min(max(h₁+a₂, l₂), h₂))
  *
  * — which is what makes the otherwise order-dependent recurrence
  * computable as a PARALLEL PREFIX: fold each partition's rows into
  * one composite triple, prefix-compose the per-partition triples
  * (bounded, one per partition), and apply. A plain running-sum
  * decomposition does NOT exist for the two-sided clamp (the bound
  * interactions are the whole point), so without this semigroup the
  * only exact evaluation is a sequential scan through one task.
  *
  * Bounds are nullable longs (null = unbounded on that side); a null
  * delta row composes as the identity. Composition preserves
  * lo ≤ hi whenever every input row satisfies it.
  */
final class ClampBuf extends Serializable {
  var a: Long = 0L
  var hasLo: Boolean = false
  var lo: Long = 0L
  var hasHi: Boolean = false
  var hi: Long = 0L

  /** In-place `this := this ∘then∘ (a2, lo2?, hi2?)` (this applies
    * first, the argument second). */
  def composeWith(a2: Long, hasLo2: Boolean, lo2: Long,
      hasHi2: Boolean, hi2: Long): Unit = {
    // hi before lo: the hi formula reads the PRE-compose state
    var nHasHi = false
    var nHi = 0L
    if (hasHi) {
      var t = hi + a2
      if (hasLo2 && lo2 > t) t = lo2
      nHasHi = true
      nHi = t
    }
    if (hasHi2 && (!nHasHi || hi2 < nHi)) { nHasHi = true; nHi = hi2 }
    var nHasLo = false
    var nLo = 0L
    if (hasLo) { nHasLo = true; nLo = lo + a2 }
    if (hasLo2 && (!nHasLo || lo2 > nLo)) { nHasLo = true; nLo = lo2 }
    a += a2
    hasLo = nHasLo; lo = nLo
    hasHi = nHasHi; hi = nHi
  }

  /** Apply the composite transfer function to a start value. */
  def apply(z0: Long): Long = {
    var z = z0 + a
    if (hasLo && z < lo) z = lo
    if (hasHi && z > hi) z = hi
    z
  }
}

/** `clamp_fold(delta, lo, hi)` — composes the clamp transfer functions
  * of the rows IN THE ORDER THEY ARRIVE and returns the composite
  * triple as `struct<a: bigint, lo: bigint, hi: bigint>` (null bound =
  * unbounded). Order-sensitive by design: use it over ORDERED window
  * frames (running frames call update row-by-row in frame order) or
  * over inputs whose order is otherwise pinned —
  * `Accumulate.clampedRunningBalance` is the scale-safe driver.
  * `merge` composes partial buffers in merge order, which is only
  * correct when partials arrive ordered (window evaluation never
  * merges; an unordered groupBy would, so don't use it there unless
  * every row's triple commutes, e.g. unbounded plain sums). */
case class ClampFoldAgg(
    delta: Expression,
    loBound: Expression,
    hiBound: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ClampBuf] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq("delta" -> delta, "lo" -> loBound, "hi" -> hiBound)
      .filter(_._2.dataType != LongType)
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      bad.map { case (n, e) =>
        s"clamp_fold $n must be BIGINT, got ${e.dataType.simpleString}"
      }.mkString("; "))
  }

  override def children: Seq[Expression] = Seq(delta, loBound, hiBound)
  override def nullable: Boolean = false
  override def dataType: DataType = ClampFoldAgg.outType

  override def createAggregationBuffer(): ClampBuf = new ClampBuf

  override def update(buf: ClampBuf, input: InternalRow): ClampBuf = {
    val d = delta.eval(input)
    if (d != null) {
      val l = loBound.eval(input)
      val h = hiBound.eval(input)
      buf.composeWith(d.asInstanceOf[Long],
        l != null, if (l != null) l.asInstanceOf[Long] else 0L,
        h != null, if (h != null) h.asInstanceOf[Long] else 0L)
    }
    buf
  }

  override def merge(buf: ClampBuf, other: ClampBuf): ClampBuf = {
    buf.composeWith(other.a, other.hasLo, other.lo, other.hasHi, other.hi)
    buf
  }

  override def eval(buf: ClampBuf): Any = {
    val r = new GenericInternalRow(3)
    r.setLong(0, buf.a)
    if (buf.hasLo) r.setLong(1, buf.lo) else r.setNullAt(1)
    if (buf.hasHi) r.setLong(2, buf.hi) else r.setNullAt(2)
    r
  }

  override def serialize(buf: ClampBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(26)
    bb.putLong(buf.a)
    bb.put(if (buf.hasLo) 1.toByte else 0.toByte).putLong(buf.lo)
    bb.put(if (buf.hasHi) 1.toByte else 0.toByte).putLong(buf.hi)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ClampBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new ClampBuf
    buf.a = bb.getLong()
    buf.hasLo = bb.get() == 1; buf.lo = bb.getLong()
    buf.hasHi = bb.get() == 1; buf.hi = bb.getLong()
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ClampFoldAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ClampFoldAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ClampFoldAgg =
    copy(delta = newChildren(0), loBound = newChildren(1), hiBound = newChildren(2))
}

object ClampFoldAgg {
  val outType: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("lo", LongType, nullable = true),
    StructField("hi", LongType, nullable = true)))
}

object ClampFold {
  def clamp_fold(delta: Column, lo: Column, hi: Column): Column = {
    import org.apache.spark.sql.graft.Bridge.{column, expression => e}
    column(ClampFoldAgg(e(delta), e(lo), e(hi)).toAggregateExpression())
  }

  /** Apply a composite triple column to a start value: the balance
    * after the folded rows. Pure Column arithmetic (codegen'd). */
  def clamp_apply(z0: Column, triple: Column): Column = {
    import org.apache.spark.sql.functions._
    val base = z0 + triple.getField("a")
    val lod = when(triple.getField("lo").isNotNull,
      greatest(base, triple.getField("lo"))).otherwise(base)
    when(triple.getField("hi").isNotNull,
      least(lod, triple.getField("hi"))).otherwise(lod)
  }
}
