package graft

import graft.plans.{GraftFunctions, UnicodeNormUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class UnicodeNormSpec extends SparkSpec {

  private val decomposed = "e\u0301clair" // e + combining acute
  private val composed = "\u00e9clair"    // precomposed e-acute

  test("nfc composes combining sequences to the precomposed form") {
    import spark.implicits._
    val out = Seq(decomposed).toDF("t")
      .select(GraftFunctions.nfc_normalize(col("t"))).head.getString(0)
    assert(out == composed)
    assert(out == java.text.Normalizer.normalize(decomposed, java.text.Normalizer.Form.NFC))
  }

  test("ascii and already-normalized input pass through untouched (zero-copy)") {
    val ascii = UTF8String.fromString("plain ascii text")
    assert(UnicodeNormUtil.nfc(ascii) eq ascii)
    val comp = UTF8String.fromString(composed)
    assert(UnicodeNormUtil.nfc(comp) eq comp)
  }

  test("nfc is idempotent") {
    val once = UnicodeNormUtil.nfc(UTF8String.fromString(decomposed))
    assert(UnicodeNormUtil.nfc(once) == once)
  }

  test("nfc_is_normalized flags decomposed input without allocating") {
    import spark.implicits._
    val rows = Seq(decomposed, composed, "ascii").toDF("t")
      .select(col("t"), GraftFunctions.nfc_is_normalized(col("t")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(!rows(decomposed) && rows(composed) && rows("ascii"))
  }

  test("sql registration and codegen/interpreted parity") {
    import spark.implicits._
    Seq(decomposed, composed, "mixed \u00e9 and e\u0301", "").toDF("t")
      .createOrReplaceTempView("nfc_tv")
    val viaSql = spark.sql(
      "select nfc_normalize(t), nfc_is_normalized(t) from nfc_tv order by t").collect()
    val interpreted = spark.sql(
      "select t from nfc_tv order by t").collect().map { r =>
      val s = UTF8String.fromString(r.getString(0))
      (UnicodeNormUtil.nfc(s).toString, UnicodeNormUtil.isNfc(s))
    }
    assert(viaSql.map(r => (r.getString(0), r.getBoolean(1))).toSeq == interpreted.toSeq)
  }

  test("null input yields null") {
    import spark.implicits._
    val r = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.nfc_normalize(col("t")),
        GraftFunctions.nfc_is_normalized(col("t"))).head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("non-string input is rejected at analysis time") {
    import spark.implicits._
    val df = Seq(1L).toDF("n")
    val ex = intercept[Exception] {
      df.select(GraftFunctions.nfc_normalize(col("n"))).head
    }
    assert(ex.getMessage.toLowerCase.contains("string") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
