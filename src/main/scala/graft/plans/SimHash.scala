package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers callable from generated Java (top-level objects get
  * static forwarders). FNV-1a 64-bit per token; SimHash folds token
  * hashes with bit voting; rolling hash is polynomial base-31 over
  * bytes (wrapping long arithmetic) — all self-contained and
  * deterministic, no dependency beyond the JDK.
  */
object SimHashUtil {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** 64-bit SimHash over SPACE-separated (0x20) tokens of the UTF-8
    * string — the exact split the DuckDB oracle mirrors; tabs/newlines
    * are token bytes, not separators. */
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    def vote(from: Int, until: Int): Unit = if (until > from) {
      val h = fnv1a(bytes, from, until)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { vote(start, i); start = i + 1 }
      i += 1
    }
    vote(start, bytes.length)
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Polynomial base-31 rolling hash of the raw bytes (wrapping). */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }
}

/** Native 64-bit SimHash of a string column — a codegen'd Catalyst
  * `Expression` (no UDF serialization overhead, participates in
  * whole-stage codegen). The per-row cost is one pass over the bytes.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"requires STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    SimHashUtil.compute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashUtil.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Polynomial rolling-hash fingerprint expression (document
  * fingerprinting primitive; base-31 over UTF-8 bytes). */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"requires STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    SimHashUtil.rollingHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashUtil.rollingHash($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/** Column-API entry points of the scalar natives. Each is built
  * directly as a Column over the native expression (Spark 4 no longer
  * exposes `new Column(Expression)`, hence the Bridge), so no session
  * needs a registration. The SQL names live in [[GraftExtensions]]. */
object GraftFunctions {
  import org.apache.spark.sql.graft.Bridge.{column, expression => e}
  def simhash64(c: Column): Column = column(SimHash64(e(c)))
  def md5_chunks(c: Column): Column = column(Md5Chunks(e(c)))
  def md5_chunk(c: Column, idx: Int): Column = column(Md5Chunk(e(c), idx))
  /** Drop-in fast `md5` over STRING (bit-identical hex; [[Md5Hex]]). */
  def md5_fast(c: Column): Column = column(Md5Hex(e(c)))
  /** All sliding W-word windows of a word array, ' '-joined —
    * byte-identical to transform(sequence(1, n-W+1), i ->
    * array_join(slice(arr, i, W), " ")) with the n < W empty-array
    * guard folded in ([[WordWindows]]). */
  def word_windows(c: Column, w: Int): Column = column(WordWindows(e(c), w))
  def rolling_hash(c: Column): Column = column(RollingHash(e(c)))
  def vec_cosine(a: Column, b: Column): Column = column(CosineSim(e(a), e(b)))
  def vec_dot(a: Column, b: Column): Column = column(DotProduct(e(a), e(b)))
  def nfc_normalize(c: Column): Column = column(NfcNormalize(e(c)))
  def nfc_is_normalized(c: Column): Column = column(NfcIsNormalized(e(c)))
}
