package graft

import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Parity gate for the native md5-chunk expression that feeds the q554
  * oracle-family minhash: element i of md5_chunks(s) must be
  * byte-identical to the hex-substring/conv chain the DuckDB oracle
  * spells out — the whole point of the expression is removing the
  * per-token string churn WITHOUT moving a single bit of q554's
  * signature semantics. */
class Md5ChunksSpec extends SparkSpec {

  private val texts = Seq(
    "", "a", "the", "z1", "z9999", "x123456",
    "Ünïcödé-töken", "日本語", "a b c with spaces",
    "0", "ffffffff", (1 to 200).map(_ => "w").mkString)

  test("md5_chunks matches the conv(substring(md5)) oracle derivation bit-for-bit") {
    import spark.implicits._
    val df = texts.toDF("t")
    val viaConv = df.select((1 to 4).map(i =>
      conv(substring(md5($"t"), (i - 1) * 8 + 1, 8), 16, 10).cast("long")
        .as(s"a$i")): _*).collect().map(r => (0 to 3).map(r.getLong))
    val viaNative = df.select((1 to 4).map(i =>
      element_at(GraftFunctions.md5_chunks($"t"), i).as(s"a$i")): _*)
      .collect().map(r => (0 to 3).map(r.getLong))
    assert(viaNative.toSeq === viaConv.toSeq)
    // unsigned range: every chunk in [0, 2^32)
    viaNative.flatten.foreach(v => assert(v >= 0L && v < 4294967296L, v))
  }

  // Fx.md5Prefix(t, k) == conv(substring(md5(t), 1, k), 16, 10) at every
  // width the engine uses (q527: 2, the splits/arms/folds: 8, KMV: 13,
  // q55/q176/q263: 15, i.e. (chunk0 << 28) | (chunk1 >>> 4)) plus the
  // 1-digit edge; null in, null out on both the one- and two-chunk paths;
  // 0 and 16 digits refused (16 would overflow a signed BIGINT)
  test("15-hex-char composition: (chunk0 << 28) | (chunk1 >>> 4) == conv(substring(md5, 1, 15), 16, 10) — the q55 simhash16 word hash") {
    import spark.implicits._
    val df = texts.toDF("t")
    for (k <- Seq(1, 2, 8, 13, 15)) {
      val viaConv = df.select(
        conv(substring(md5($"t"), 1, k), 16, 10).cast("long").as("h"))
        .collect().map(_.getLong(0))
      val viaPrefix = df.select(Fx.md5Prefix($"t", k).as("h"))
        .collect().map(_.getLong(0))
      assert(viaPrefix.toSeq === viaConv.toSeq, s"hexChars=$k")
    }
    val nullRow = Seq[Option[String]](None).toDF("t")
      .select(Fx.md5Prefix($"t", 8), Fx.md5Prefix($"t", 15)).collect()
    assert(nullRow.head.isNullAt(0) && nullRow.head.isNullAt(1))
    Seq(0, 16).foreach { k =>
      intercept[IllegalArgumentException](Fx.md5Prefix($"t", k))
    }
  }

  test("scalar md5_chunk(w, i) matches the array form element-wise (memoized digest)") {
    import spark.implicits._
    val df = texts.toDF("t")
    val viaArray = df.select((1 to 4).map(i =>
      element_at(GraftFunctions.md5_chunks($"t"), i).as(s"a$i")): _*)
      .collect().map(r => (0 to 3).map(r.getLong))
    val viaScalar = df.select((0 to 3).map(i =>
      GraftFunctions.md5_chunk($"t", i).as(s"a$i")): _*)
      .collect().map(r => (0 to 3).map(r.getLong))
    assert(viaScalar.toSeq === viaArray.toSeq)
    // memo never goes stale across alternating inputs in one projection
    val mixed = Seq(("a", "b"), ("a", "a"), ("b", "a")).toDF("x", "y")
      .select(GraftFunctions.md5_chunk($"x", 0).as("cx"),
        GraftFunctions.md5_chunk($"y", 0).as("cy")).collect()
    def c0(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    assert(mixed.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((c0("a"), c0("b")), (c0("a"), c0("a")), (c0("b"), c0("a"))))
  }

  test("md5_chunks matches a JDK MessageDigest model and is null-safe") {
    import spark.implicits._
    def model(s: String): Seq[Long] = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (0 to 3).map { i =>
        ((d(4 * i) & 0xffL) << 24) | ((d(4 * i + 1) & 0xffL) << 16) |
          ((d(4 * i + 2) & 0xffL) << 8) | (d(4 * i + 3) & 0xffL)
      }
    }
    val got = texts.toDF("t")
      .select(GraftFunctions.md5_chunks($"t").as("c")).collect()
      .map(_.getSeq[Long](0).toSeq)
    assert(got.toSeq === texts.map(model))
    val nullRow = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.md5_chunks($"t")).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("md5_fast is bit-identical to builtin md5 over strings, null/empty included") {
    import spark.implicits._
    // interpreter path AND codegen path must both match the builtin:
    // alternating lengths exercise the grow-on-demand buffer reuse
    val long1 = (1 to 5000).map(i => s"w$i").mkString(" ")
    val all = texts ++ Seq(long1, "after-long-short")
    val df = all.toDF("t")
    val builtin = df.select(md5($"t")).collect().map(_.getString(0))
    val fast = df.select(GraftFunctions.md5_fast($"t")).collect().map(_.getString(0))
    assert(fast.toSeq === builtin.toSeq)
    // null in, null out — same as the builtin
    val nullRow = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.md5_fast($"t")).collect()
    assert(nullRow.head.isNullAt(0))
    // SQL surface (GraftExtensions injection) resolves too
    val viaSql = spark.sql("SELECT md5_fast('abc') AS h").collect().head.getString(0)
    assert(viaSql === "900150983cd24fb0d6963f7d28e17f72")
  }
}
