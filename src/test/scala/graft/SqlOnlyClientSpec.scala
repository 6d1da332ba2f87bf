package graft

/** The SQL-only-client contract: a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` — the exact
  * config a thrift/connect client supplies — reaches EVERY native
  * function by SQL string, with no registration call. The shared test
  * session is built that way ([[SparkEntry.session]]), so this spec
  * exercises the config-string path itself. One round-trip per
  * injected function.
  */
class SqlOnlyClientSpec extends SparkSpec {

  test("scalar natives round-trip by SQL string") {
    val r = spark.sql(
      """SELECT simhash64('a b c')                            AS sh,
        |       rolling_hash('abc')                           AS rh,
        |       vec_cosine(array(1d, 2d), array(1d, 2d))      AS vc,
        |       vec_dot(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS vd,
        |       nfc_normalize('é')                      AS nn,
        |       nfc_is_normalized('é')                  AS ni
        |""".stripMargin).head()
    // parity with the Column-API path
    import org.apache.spark.sql.functions.{col, lit}
    val expectSh = spark.range(1)
      .select(graft.plans.GraftFunctions.simhash64(lit("a b c"))).head().getLong(0)
    assert(r.getLong(0) === expectSh)
    assert(r.getLong(1) ===
      "abc".getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31 + (b & 0xff)))
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) === 32.0)
    assert(r.getString(4) === "é", "NFC must compose e + combining acute")
    assert(!r.getBoolean(5), "decomposed input is not NFC-normalized")
  }

  test("sketch aggregates round-trip by SQL string") {
    spark.range(0, 1000)
      .selectExpr("cast(id % 37 as string) AS s", "cast(id % 37 as double) AS v",
        "cast(id % 4 as int) AS g")
      .createOrReplaceTempView("sk")

    val hll = spark.sql("SELECT hll_distinct(s) AS est FROM sk").head().getLong(0)
    assert(hll === 37L, s"hll exact at small cardinality, got $hll")

    val merged = spark.sql(
      """SELECT hll_merge(b) AS est
        |FROM (SELECT hll_bin(s) AS b FROM sk GROUP BY g)""".stripMargin)
      .head().getLong(0)
    assert(merged === 37L, "bin+merge rollup must equal the direct estimate")

    val top = spark.sql("SELECT mg_topk(s, 50) AS t FROM sk").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(top.nonEmpty && top.map(_.getLong(1)).max >= 27L,
      "37-cycle over 1000 rows: every item has ~27 occurrences")

    val mgM = spark.sql(
      """SELECT mg_merge(b) AS t
        |FROM (SELECT mg_bin(s, 50) AS b FROM sk GROUP BY g)""".stripMargin).head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(mgM.nonEmpty)

    val med = spark.sql("SELECT qsketch(v, 128, array(0.5d)) AS q FROM sk")
      .head().getSeq[Double](0)
    assert(med.length === 1 && med.head >= 15.0 && med.head <= 21.0,
      s"median of 0..36 cycle should be ~18, got ${med.head}")

    val qM = spark.sql(
      """SELECT qsketch_merge(b, array(0.5d)) AS q
        |FROM (SELECT qsketch_bin(v, 128) AS b FROM sk GROUP BY g)""".stripMargin)
      .head().getSeq[Double](0)
    assert(qM.length === 1 && qM.head >= 15.0 && qM.head <= 21.0)

    val cm = spark.sql("SELECT cm_sketch(s, 3, 64) AS m FROM sk").head()
      .getSeq[scala.collection.Seq[Long]](0)
    assert(cm.length === 3 && cm.head.length === 64)
    assert(cm.head.sum === 1000L, "each CM row ingests every update once")

    val cf = spark.sql(
      """SELECT clamp_fold(d, -5L, 5L) AS t
        |FROM VALUES (10L), (-2L), (1L) AS v(d)""".stripMargin).head()
      .getStruct(0)
    // fold of +10 (clamps to 5), -2, +1 from any start in-bounds: the
    // composite triple applied to 0 must equal the sequential result 4
    val applied = math.min(math.max(
      math.min(math.max(0L + 10L, -5L), 5L) - 2L + 1L, -5L), 5L)
    val a = cf.getLong(0)
    val lo = if (cf.isNullAt(1)) Long.MinValue else cf.getLong(1)
    val hi = if (cf.isNullAt(2)) Long.MaxValue else cf.getLong(2)
    assert(math.min(math.max(0L + a, lo), hi) === applied,
      s"clamp_fold triple $cf must reproduce the sequential fold $applied")
  }

  test("the optimizer rule rides along: the declarative dot fold becomes the native kernel") {
    // arrays must come from COLUMNS — literal arrays constant-fold to
    // the answer before any optimizer rule could see the fold shape
    spark.range(1, 4)
      .selectExpr("array(cast(id as double), 2d) AS a", "array(3d, 4d) AS b")
      .createOrReplaceTempView("fold_vecs")
    val q = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x * y),
        |                 0d, (acc, x) -> acc + x) AS d
        |FROM fold_vecs WHERE a[0] = 1d""".stripMargin)
    val optimized = q.queryExecution.optimizedPlan
    assert(optimized.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.DotProduct])),
      s"injected optimizer rule did not rewrite the fold:\n$optimized")
    assert(q.head().getDouble(0) === 11.0)
  }
}
