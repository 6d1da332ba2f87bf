package graft

import graft.plans._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.functions.{col, lit, sort_array}
import org.apache.spark.sql.graft.Bridge

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions applies injections cleanly; SQL function path works") {
    // apply() must register both functions without throwing (the
    // spark.sql.extensions config path instantiates + applies exactly
    // this object at session build time)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)

    // end-to-end SQL path through the session registry
    val r = spark.sql("SELECT simhash64('a b c') AS sh, rolling_hash('abc') AS rh").head()
    assert(r.getLong(0) != 0L)
    assert(r.getLong(1) ==
      "abc".getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31 + (b & 0xff)))
  }

  test("FoldToNativeVectorOps rewrites the dot-product fold to the native kernel") {
    import spark.implicits._
    import graft.plans.{DotProduct, FoldToNativeVectorOps}
    // an RDD source, not a local Seq: the optimizer evaluates a projection
    // over a LocalRelation before FoldToNativeVectorOps could see it
    val df = spark.sparkContext.parallelize(Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))), 1)
      .toDF("a", "b")
    val folded = df.select(
      graft.operators.Similarity.dot($"a", $"b").as("d"))
    val rewritten = FoldToNativeVectorOps(folded.queryExecution.analyzed)
    assert(rewritten.expressions.exists(_.exists(_.isInstanceOf[DotProduct])),
      s"fold not rewritten:\n$rewritten")
    // value parity: fold, rewritten fold, native SQL function, and
    // expectation agree
    val fold = withoutFoldRewrite {
      assert(!plansDotProduct(folded), "the reference fold must not run the native kernel")
      folded.head().getDouble(0)
    }
    assert(plansDotProduct(folded), "the session's optimizer did not rewrite the fold")
    df.createOrReplaceTempView("vecs")
    val native = spark.sql("SELECT vec_dot(a, b) AS d FROM vecs").head().getDouble(0)
    assert(fold == 32.0 && folded.head().getDouble(0) == 32.0 && native == 32.0)
    // a non-dot fold must NOT be rewritten (sum of squares)
    val other = df.select(org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.zip_with($"a", $"b", (x, y) => x * y),
      org.apache.spark.sql.functions.lit(1.0), (acc, e) => acc + e).as("s"))
    val untouched = FoldToNativeVectorOps(other.queryExecution.analyzed)
    assert(!untouched.expressions.exists(_.exists(_.isInstanceOf[DotProduct])))
  }

  test("native vec_dot matches fold null semantics on mismatched lengths") {
    import spark.implicits._
    // an RDD source, not a local Seq: the optimizer evaluates a projection
    // over a LocalRelation before FoldToNativeVectorOps could see it
    val df = spark.sparkContext.parallelize(Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0))), 1)
      .toDF("a", "b")
    val dot = df.select(graft.operators.Similarity.dot($"a", $"b").as("d"))
    val folded = withoutFoldRewrite {
      assert(!plansDotProduct(dot), "the reference fold must not run the native kernel")
      dot.head()
    }
    df.createOrReplaceTempView("vecs_mismatch")
    val native = spark.sql("SELECT vec_dot(a, b) AS d FROM vecs_mismatch").head()
    assert(folded.isNullAt(0), "zip_with pads with null, poisoning the fold")
    assert(native.isNullAt(0), "native must mirror the fold's null")
    assert(dot.head().isNullAt(0), "the rewritten fold must keep the fold's null")
  }

  // ---- one row per native function: Column helper vs SQL name ------

  /** One input partition, so every group has exactly one partial
    * aggregation buffer and order-sensitive folds see the same order
    * on both paths. */
  private lazy val nativesIn: DataFrame = {
    import spark.implicits._
    val texts = Seq((0, "the quick brown fox", 3L, 1.5), (0, "the lazy dog", -2L, 2.5),
      (1, "Cafe\u0301 cre\u0300me", 7L, 0.5), (1, "a b c", 1L, 4.0), (2, "the the the", -9L, 3.0))
    val df = texts.map { case (g, s, l, d) =>
      (g, s, l, d, s.split(" ").toSeq, Seq(d, 2.0), Seq(1.0, d)) }
      .toDF("g", "s", "l", "d", "w", "a", "b").coalesce(1)
    df.createOrReplaceTempView("natives_in")
    df
  }

  /** `helper` is the bare Column helper; `frame` places it in a query
    * whose SQL-name twin is `sql` (both yield columns g?, v). */
  private case class Native(name: String, cls: Class[_], helper: Column,
      frame: Column => DataFrame, sql: String)

  private def scalar(name: String, cls: Class[_], helper: Column, args: String) =
    Native(name, cls, helper, c => nativesIn.select(nativesIn("g"), c.as("v")),
      s"SELECT g, $name($args) AS v FROM natives_in")

  private def grouped(name: String, cls: Class[_], helper: Column, args: String) =
    Native(name, cls, helper, c => nativesIn.groupBy("g").agg(c.as("v")),
      s"SELECT g, $name($args) AS v FROM natives_in GROUP BY g")

  private def merged(name: String, cls: Class[_], helper: Column, mergeSql: String,
      bin: Column, binSql: String) =
    Native(name, cls, helper, c => nativesIn.groupBy("g").agg(bin.as("b")).agg(c.as("v")),
      s"SELECT $mergeSql AS v FROM (SELECT $binSql AS b FROM natives_in GROUP BY g)")

  private val natives: Seq[Native] = {
    import GraftFunctions._
    Seq(
      scalar("simhash64", classOf[SimHash64], simhash64(col("s")), "s"),
      scalar("md5_fast", classOf[Md5Hex], md5_fast(col("s")), "s"),
      scalar("md5_chunks", classOf[Md5Chunks], md5_chunks(col("s")), "s"),
      scalar("md5_chunk", classOf[Md5Chunk], md5_chunk(col("s"), 1), "s, 1"),
      scalar("word_windows", classOf[WordWindows], word_windows(col("w"), 2), "w, 2"),
      scalar("rolling_hash", classOf[RollingHash], rolling_hash(col("s")), "s"),
      scalar("vec_cosine", classOf[CosineSim], vec_cosine(col("a"), col("b")), "a, b"),
      scalar("vec_dot", classOf[DotProduct], vec_dot(col("a"), col("b")), "a, b"),
      scalar("nfc_normalize", classOf[NfcNormalize], nfc_normalize(col("s")), "s"),
      scalar("nfc_is_normalized", classOf[NfcIsNormalized], nfc_is_normalized(col("s")), "s"),
      grouped("mg_topk", classOf[MisraGries], MisraGries.mg_topk(col("s"), 10), "s, 10"),
      grouped("mg_bin", classOf[MgBinAgg], MisraGries.mg_bin(col("s"), 10), "s, 10"),
      merged("mg_merge", classOf[MgMergeAgg], MisraGries.mg_merge(col("b")), "mg_merge(b)",
        MisraGries.mg_bin(col("s"), 10), "mg_bin(s, 10)"),
      grouped("hll_distinct", classOf[HllDistinct], HllDistinct.hll_distinct(col("s")), "s"),
      grouped("hll_bin", classOf[HllBinAgg], HllDistinct.hll_bin(col("s")), "s"),
      merged("hll_merge", classOf[HllMergeAgg], HllDistinct.hll_merge(col("b")), "hll_merge(b)",
        HllDistinct.hll_bin(col("s")), "hll_bin(s)"),
      grouped("qsketch", classOf[QuantileSketchAgg],
        QuantileSketch.qsketch(col("d"), 64, Seq(0.5, 0.9)), "d, 64, array(0.5d, 0.9d)"),
      grouped("qsketch_bin", classOf[QuantileSketchBinAgg],
        QuantileSketch.qsketch_bin(col("d"), 64), "d, 64"),
      merged("qsketch_merge", classOf[QuantileSketchMergeAgg],
        QuantileSketch.qsketch_merge(col("b"), Seq(0.5)), "qsketch_merge(b, array(0.5d))",
        QuantileSketch.qsketch_bin(col("d"), 64), "qsketch_bin(d, 64)"),
      grouped("cm_sketch", classOf[CountMinSketch], CountMin.cm_sketch(col("s"), 2, 16), "s, 2, 16"),
      grouped("clamp_fold", classOf[ClampFoldAgg],
        ClampFold.clamp_fold(col("l"), lit(-5L), lit(5L)), "l, -5L, 5L"),
      // arrival order inside a bounded_collect buffer is unspecified
      Native("bounded_collect", classOf[BoundedCollectLong],
        BoundedCollect.bounded_collect(col("l"), 10),
        c => nativesIn.groupBy("g").agg(sort_array(c).as("v")),
        "SELECT g, sort_array(bounded_collect(l, 10)) AS v FROM natives_in GROUP BY g"))
  }

  /** Row rendering that compares binary sketch payloads by content. */
  private def canon(df: DataFrame): Seq[String] = df.collect().toSeq.map { r: Row =>
    r.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")
  }.sorted

  test("the table covers every SQL name GraftExtensions binds") {
    val reg = spark.sessionState.functionRegistry
    val bound = reg.listFunction()
      .filter(f => reg.lookupFunction(f).exists(_.getClassName.startsWith("graft.plans.")))
      .map(_.funcName).toSet
    assert(bound === natives.map(_.name).toSet)
  }

  for (nat <- natives) {
    val n = nat.name
    test(s"$n: Column helper needs no name lookup; SQL name gives the same value") {
      // (a) the helper is the native expression itself, not a by-name call
      assert(!Bridge.expression(nat.helper).exists(_.isInstanceOf[UnresolvedFunction]),
        s"$n helper is a by-name function call")
      val viaColumn = nat.frame(nat.helper)
      assert(viaColumn.queryExecution.analyzed.exists(
        _.expressions.exists(_.exists(nat.cls.isInstance))),
        s"$n did not resolve to ${nat.cls.getSimpleName}")
      // (b) the SQL name, resolved through the session's extensions
      val viaSql = spark.sql(nat.sql)
      val got = canon(viaColumn)
      assert(got.nonEmpty)
      assert(canon(viaSql) === got)
    }
  }
}
