package graft

import graft.plans.GraftFunctions.word_windows
import org.apache.spark.sql.functions._

/** Parity pin for the native all-windows generator: word_windows(w, W)
  * must be byte-identical to the Catalyst chain it replaces on the
  * q140/q152 window-dedup hot path —
  *   when(size(w) >= W, transform(sequence(1, size(w)-W+1),
  *        i -> array_join(slice(w, i, W), " "))).otherwise(array())
  * including unicode, empty words, n < W, n == W, and null elements
  * (array_join skips nulls — the slow path must reproduce that). */
class WordWindowsSpec extends SparkSpec {

  private def builtin(c: org.apache.spark.sql.Column, w: Int) =
    when(size(c) >= w,
      transform(sequence(lit(1), size(c) - (w - 1)),
        i => array_join(slice(c, i, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))

  test("word_windows == builtin transform/slice/array_join chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("the", "a", "Straße", "日本語", "", "x", "longerword",
      "café", "y2", "©symbol")
    val docs = (1 to 200).map { i =>
      val n = rnd.nextInt(25) // includes n < W and n == 0
      (i.toLong, (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).toArray)
    }
    val df = docs.toDF("id", "w")
    for (width <- Seq(1, 2, 8)) {
      val got = df.select($"id", word_windows($"w", width).as("v"))
      val exp = df.select($"id", builtin($"w", width).as("v"))
      assert(got.except(exp).isEmpty && exp.except(got).isEmpty,
        s"width=$width mismatch")
      // exact per-row order, not just set equality
      val g = got.orderBy($"id").collect().map(_.getSeq[String](1).toList)
      val e = exp.orderBy($"id").collect().map(_.getSeq[String](1).toList)
      assert(g.toSeq == e.toSeq, s"width=$width element order drifted")
    }
  }

  test("null array yields empty (the folded guard); null elements reproduce array_join skip-null semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, null.asInstanceOf[Array[String]]),
      (2L, Array[String]("a", null, "b", "c", null, "d")),
      (3L, Array[String](null, null, null))
    ).toDF("id", "w")
    for (width <- Seq(2, 3)) {
      val got = df.select($"id", word_windows($"w", width).as("v"))
        .orderBy($"id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1).toList)
      val exp = df.select($"id", builtin($"w", width).as("v"))
        .orderBy($"id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1).toList)
      assert(got.toSeq == exp.toSeq, s"width=$width null-handling mismatch")
    }
  }

  test("SQL surface resolves through the session extensions") {
    import spark.implicits._
    val df = Seq((1L, Array("a", "b", "c"))).toDF("id", "w")
    df.createOrReplaceTempView("ww_probe")
    val got = spark.sql("SELECT word_windows(w, 2) AS v FROM ww_probe")
      .collect().head.getSeq[String](0)
    assert(got == Seq("a b", "b c"))
  }
}
