package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place that binds the engine's native functions to SQL
  * names, in any session built with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (every [[graft.SparkEntry.session]] and SQL-only clients such as
  * thrift/connect alike). The Column API needs no binding at all: its
  * helpers ([[GraftFunctions]], [[HllDistinct]], [[MisraGries]], ...)
  * build the native expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{intLit, psLit}

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))

    fn("simhash64", classOf[SimHash64], es => SimHash64(es.head))
    fn("md5_fast", classOf[Md5Hex], es => Md5Hex(es.head))
    fn("md5_chunks", classOf[Md5Chunks], es => Md5Chunks(es.head))
    fn("md5_chunk", classOf[Md5Chunk], es => Md5Chunk(es(0), intLit(es(1), "md5_chunk index")))
    fn("word_windows", classOf[WordWindows],
      es => WordWindows(es(0), intLit(es(1), "word_windows width")))
    fn("rolling_hash", classOf[RollingHash], es => RollingHash(es.head))
    fn("vec_cosine", classOf[CosineSim], es => CosineSim(es(0), es(1)))
    fn("vec_dot", classOf[DotProduct], es => DotProduct(es(0), es(1)))
    fn("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head))
    fn("nfc_is_normalized", classOf[NfcIsNormalized], es => NfcIsNormalized(es.head))
    // Native bounded-state aggregates (sketch family); literal
    // arguments are read at function-build time.
    fn("mg_topk", classOf[MisraGries],
      es => MisraGries(es.head, intLit(es(1), "mg_topk k")).toAggregateExpression())
    fn("mg_bin", classOf[MgBinAgg],
      es => MgBinAgg(es.head, intLit(es(1), "mg_bin k")).toAggregateExpression())
    fn("mg_merge", classOf[MgMergeAgg], es => MgMergeAgg(es.head).toAggregateExpression())
    fn("hll_distinct", classOf[HllDistinct], es => HllDistinct(es.head).toAggregateExpression())
    fn("hll_bin", classOf[HllBinAgg], es => HllBinAgg(es.head).toAggregateExpression())
    fn("hll_merge", classOf[HllMergeAgg], es => HllMergeAgg(es.head).toAggregateExpression())
    fn("qsketch", classOf[QuantileSketchAgg], es => QuantileSketchAgg(es.head,
      intLit(es(1), "qsketch k"), psLit(es(2), "qsketch ps")).toAggregateExpression())
    fn("qsketch_bin", classOf[QuantileSketchBinAgg], es => QuantileSketchBinAgg(es.head,
      intLit(es(1), "qsketch_bin k")).toAggregateExpression())
    fn("qsketch_merge", classOf[QuantileSketchMergeAgg], es => QuantileSketchMergeAgg(es.head,
      psLit(es(1), "qsketch_merge ps")).toAggregateExpression())
    fn("cm_sketch", classOf[CountMinSketch], es => CountMinSketch(es.head,
      intLit(es(1), "cm_sketch depth"), intLit(es(2), "cm_sketch width")).toAggregateExpression())
    fn("clamp_fold", classOf[ClampFoldAgg],
      es => ClampFoldAgg(es(0), es(1), es(2)).toAggregateExpression())
    fn("bounded_collect", classOf[BoundedCollectLong], es => BoundedCollectLong(es.head,
      intLit(es(1), "bounded_collect cap")).toAggregateExpression())
    // The declarative dot-product fold becomes the native kernel
    // automatically for any session built with these extensions.
    ext.injectOptimizerRule(_ => FoldToNativeVectorOps)
  }
}

object GraftExtensions {
  private def intLit(e: Expression, what: String): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def psLit(e: Expression, what: String): Array[Double] = e.eval(null) match {
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray()
    case other => throw new IllegalArgumentException(
      s"$what must be an array<double> literal, got $other")
  }
}
