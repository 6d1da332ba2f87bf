package graft

import graft.plans.{GraftFunctions, SimHashUtil}
import org.apache.spark.unsafe.types.UTF8String

class SimHashSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** Independent model implementation to check the expression against. */
  private def modelSimhash(text: String): Long = {
    val votes = new Array[Int](64)
    text.split(" ").filter(_.nonEmpty).foreach { tok =>
      val bytes = tok.getBytes("UTF-8")
      var h = SimHashUtil.FnvOffset
      bytes.foreach { b => h ^= (b & 0xffL); h *= SimHashUtil.FnvPrime }
      (0 until 64).foreach { i =>
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
  }

  test("SimHash64 expression matches the model, via SQL and Column API") {
    import spark.implicits._
    val texts = Seq("the quick brown fox", "a b c", "single", "x  y")
    val df = texts.toDF("t")
    val got = df.select(GraftFunctions.simhash64(col("t"))).collect().map(_.getLong(0))
    assert(got.toSeq == texts.map(modelSimhash))
    val sqlGot = df.createOrReplaceTempView("tv")
    val viaSql = spark.sql("select simhash64(t) from tv").collect().map(_.getLong(0))
    assert(viaSql.toSeq == texts.map(modelSimhash))
  }

  test("similar texts have small hamming distance, dissimilar large") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val near = base.replace("lazy", "sleepy")
    val far = "completely unrelated words about spark catalyst expression codegen internals"
    val (hNear, hFar) = (ham(modelSimhash(base), modelSimhash(near)),
      ham(modelSimhash(base), modelSimhash(far)))
    assert(hNear < hFar, s"near=$hNear far=$hFar")
  }

  test("rolling hash matches java-style polynomial hash and differs on permutation") {
    import spark.implicits._
    def model(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    val df = Seq("abc", "cba").toDF("t")
    val got = df.select(GraftFunctions.rolling_hash(col("t"))).collect().map(_.getLong(0))
    assert(got(0) == model("abc") && got(1) == model("cba"))
    assert(got(0) != got(1))
  }

  test("null input yields null") {
    import spark.implicits._
    val df = Seq[Option[String]](None).toDF("t")
    assert(df.select(GraftFunctions.simhash64(col("t"))).head.isNullAt(0))
  }

  test("non-string input is rejected at analysis") {
    import spark.implicits._
    val df = Seq(1).toDF("n")
    intercept[Exception] {
      df.select(GraftFunctions.simhash64(col("n"))).collect()
    }
  }
}
