package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper callable from generated Java (see SimHashUtil for the
  * pattern). One MD5 digest per call via a per-thread reused
  * MessageDigest — no provider lookup, no hex string, no radix parse.
  */
object Md5ChunksUtil {
  /** Per-thread scratch: the MessageDigest (HotSpot intrinsifies the
    * JDK MD5 compression — keep it rather than hand-rolling), a
    * grow-on-demand input buffer (UTF8String.getBytes would allocate
    * AND copy per token when the string is an array slice, which split
    * tokens always are), the 16-byte digest output, and the 4-long
    * chunk staging array (UnsafeArrayData.fromPrimitiveArray copies,
    * so reusing the staging array is safe). Net per-call allocation:
    * only the returned UnsafeArrayData. */
  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    var in: Array[Byte] = new Array[Byte](64)
    val out = new Array[Byte](16)
    val chunks = new Array[Long](4)
    /** memo for [[chunkAt]]: length of the input whose chunks are
      * currently staged, or -1 (sc.in holds that input's bytes). */
    var lastN: Int = -1
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  private def fill(sc: Scratch, s: UTF8String, n: Int): Unit = {
    if (sc.in.length < n) {
      // clamp: highestOneBit(n)*2 overflows negative past 2^30, so a
      // pathological >1 GiB token must still get a buffer of exactly n
      // rather than a NegativeArraySizeException
      sc.in = new Array[Byte](math.max(n, Integer.highestOneBit(n) * 2))
      sc.lastN = -1
    }
    s.writeToMemory(sc.in, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    val md = sc.md
    md.reset()
    md.update(sc.in, 0, n)
    md.digest(sc.out, 0, 16)
    val d = sc.out
    val out = sc.chunks
    var i = 0
    while (i < 4) {
      val o = i << 2
      out(i) = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
        ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
      i += 1
    }
  }

  /** Scalar variant — chunk `idx` (0-3) of md5(s) as a long, with a
    * per-thread single-entry memo on the input BYTES: the four
    * `md5_chunk(w, i)` expressions in one projection evaluate the
    * digest once and hit the memo three times, so the hot path
    * allocates NOTHING per token (the array variant's one
    * UnsafeArrayData per token was measured to matter: at 2M docs its
    * GC churn under a cached corpus cost the md5 family ~3× vs the
    * allocation-free xxhash64 family, after being at parity at 1M).
    * The memo compares the full input bytes, so a miss is always
    * recomputed — never stale, thread-confined, deterministic. */
  def chunkAt(s: UTF8String, idx: Int): Long = {
    val sc = scratch.get()
    val n = s.numBytes()
    if (n != sc.lastN ||
        !org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
          s.getBaseObject, s.getBaseOffset,
          sc.in, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n)) {
      fill(sc, s, n)
      sc.lastN = n
    }
    sc.chunks(idx)
  }

  /** The four 32-bit big-endian chunks of md5(utf8Bytes(s)) as
    * unsigned values in longs — element i equals the oracle's
    * `('0x' || substr(md5(s), 8·i+1, 8))::BIGINT` (the q554
    * coefficient derivation; `Fx.md5Prefix` composes chunks 0 and 1
    * into any 1–15 hex-digit prefix) without ever materializing
    * the 32-char hex string or running four radix-16 string parses
    * per token (SCALE.md's r17 dissection pinned the md5 family's 2×
    * per-doc cost drift at 1M docs on exactly that string churn). */
  def chunks(s: UTF8String): UnsafeArrayData = {
    val sc = scratch.get()
    val n = s.numBytes()
    fill(sc, s, n)
    sc.lastN = n
    UnsafeArrayData.fromPrimitiveArray(sc.chunks)
  }
}

/** r19 (optimization): byte-identical fast path for `md5(string)`.
  * Spark's builtin `Md5` goes through commons-codec `DigestUtils.md5Hex`
  * — a `MessageDigest.getInstance` PROVIDER LOOKUP per row, plus a
  * string→binary cast copy, a hex `char[]`+`String`, and a
  * `UTF8String.fromString` re-encode — ~5 allocations and a registry
  * probe per call. Measured on this host: 1M × 53-byte digests =
  * 280–450 ms via getInstance-per-call vs 145 ms with a reused
  * MessageDigest (see OPTIMIZATION_r19.md). The engine md5-hashes
  * every 8-word window / shingle / n-gram on the dedup and
  * decontamination hot paths, so the per-call constant multiplies by
  * corpus size at 100 TB. This helper reuses [[Md5ChunksUtil]]'s
  * discipline: per-thread MessageDigest + grow-on-demand input buffer,
  * one `byte[32]` hex output allocation per call (wrapped, not copied,
  * by `UTF8String.fromBytes`). Output is bit-identical to
  * `md5(cast(s as binary))` — lowercase hex over the UTF-8 bytes — so
  * swapping call sites never perturbs an oracle hash (Md5ChunksSpec
  * pins the parity). */
object Md5HexUtil {
  private val HEX: Array[Byte] = "0123456789abcdef".getBytes
  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    var in: Array[Byte] = new Array[Byte](64)
    val out = new Array[Byte](16)
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }
  def hex(s: UTF8String): UTF8String = {
    val sc = scratch.get()
    val n = s.numBytes()
    if (sc.in.length < n)
      // clamp past 2^30 like Md5ChunksUtil.fill: grow must never go negative
      sc.in = new Array[Byte](math.max(n, Integer.highestOneBit(n) * 2))
    s.writeToMemory(sc.in, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    val md = sc.md
    md.reset()
    md.update(sc.in, 0, n)
    md.digest(sc.out, 0, 16)
    val h = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = sc.out(i) & 0xff
      h(i << 1) = HEX(b >>> 4)
      h((i << 1) + 1) = HEX(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(h)
  }
}

/** Codegen'd drop-in for `org.apache.spark.sql.functions.md5` over a
  * STRING column (see [[Md5HexUtil]]); same null semantics, same
  * lowercase-hex output. */
case class Md5Hex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"requires STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    Md5HexUtil.hex(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5HexUtil.hex($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Hex =
    copy(child = newChild)
}

/** Native codegen'd `array<bigint>` of the four md5 32-bit chunks of a
  * string — the oracle-mirrorable minhash coefficient source for the
  * blocked set-similarity join (operators/IndexingQueries.blockedSetJoin)
  * at near-native cost: one digest pass per token, primitive longs out,
  * inside whole-stage codegen. Semantics are exactly the hex-substring/
  * conv chain the DuckDB oracle still spells out, so q554Sql is
  * untouched. */
case class Md5Chunks(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"requires STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    Md5ChunksUtil.chunks(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5ChunksUtil.chunks($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Chunks =
    copy(child = newChild)
}

/** Allocation-free scalar form: chunk `idx` of md5(child) as a long
  * via the per-thread memo (see [[Md5ChunksUtil.chunkAt]]) — the four
  * sibling expressions in one projection share one digest. */
case class Md5Chunk(child: Expression, idx: Int) extends UnaryExpression {
  require(idx >= 0 && idx < 4, s"md5 chunk index out of range: $idx")
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"requires STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    Md5ChunksUtil.chunkAt(v.asInstanceOf[UTF8String], idx)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5ChunksUtil.chunkAt($c, $idx)")
  override protected def withNewChildInternal(newChild: Expression): Md5Chunk =
    copy(child = newChild)
}
