package graft

import graft.plans.HllDistinct

class HllSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("HLL distinct estimate within 5% of exact on lineitem partkeys") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      HllDistinct.hll_distinct(col("l_partkey")).as("est")).head()
    val (exact, est) = (r.getLong(0), r.getLong(1))
    val err = math.abs(est - exact).toDouble / exact
    assert(err < 0.05, s"exact=$exact est=$est err=$err")
  }

  test("HLL works grouped and via SQL, merges across partitions") {
    import spark.implicits._
    val df = (1 to 20000).map(i => (i % 4, s"v${i % 1000}")).toDF("g", "s")
      .repartition(8)
    df.createOrReplaceTempView("hll_in")
    val rows = spark.sql(
      "SELECT g, hll_distinct(s) AS est FROM hll_in GROUP BY g ORDER BY g").collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val est = r.getLong(1)
      // each group sees 250 distinct of the 1000 values
      assert(math.abs(est - 250) < 20, s"group ${r.getInt(0)}: $est")
    }
  }

  test("approx_percentile sketch lands within accuracy bound of exact percentiles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val row = li.agg(
      expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("approx"),
      expr("percentile(l_extendedprice, array(0.5, 0.95))").as("exact"))
      .head
    val approx = row.getSeq[Double](0)
    val exact = row.getSeq[Double](1)
    // accuracy=1000 → rank error ≤ n/1000; assert value error ≤ 2% here
    approx.zip(exact).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.02, s"approx=$a exact=$e")
    }
  }

  test("hll_distinct/hll_bin reject array input at analysis time (representation-dependent hash)") {
    import spark.implicits._
    val df = Seq(Seq(1L, 2L), Seq(3L)).toDF("xs")
    for (agg <- Seq(
        HllDistinct.hll_distinct(col("xs")),
        expr("hll_bin(xs)"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.agg(agg).collect())
      assert(e.getMessage.contains("atomic input type"),
        s"expected the atomic-input analysis error, got: ${e.getMessage}")
    }
  }

  test("HLL of nulls-only input estimates zero") {
    import spark.implicits._
    val df = Seq[Option[String]](None, None).toDF("s")
    assert(df.agg(HllDistinct.hll_distinct(col("s"))).head.getLong(0) == 0L)
  }

  test("HLL cube: sharded hll_bin -> hll_merge rollup is LOSSLESS vs whole-data sketch") {
    import spark.implicits._
    val rows = (1 to 50000).map(i => (s"d${i % 13}", s"user${i % 7321}"))
    val df = rows.toDF("day", "u")
    val dir = java.nio.file.Files.createTempDirectory("hllcube").toString + "/cube"
    // write one persisted register file per day shard
    df.groupBy($"day").agg(HllDistinct.hll_bin($"u").as("sk"))
      .write.parquet(dir)
    val rolled = spark.read.parquet(dir)
      .agg(HllDistinct.hll_merge($"sk")).head.getLong(0)
    val whole = df.agg(HllDistinct.hll_distinct($"u")).head.getLong(0)
    // register-wise max is exactly associative: any sharding merges to
    // the identical register file, so the estimates are EQUAL, not
    // merely close
    assert(rolled == whole, s"rollup $rolled != whole-data $whole")
    val exact = rows.map(_._2).distinct.size
    assert(math.abs(rolled - exact).toDouble / exact < 0.05,
      s"estimate $rolled vs exact $exact")
  }

  test("hll_merge survives all-null partitions (empty placeholder on either merge side)") {
    import spark.implicits._
    // one day's sketch + null sketch rows isolated in their own
    // partitions: those partials stay the 16-register placeholder and
    // must merge harmlessly with the real 2048-register sketch in
    // EITHER order
    val bins = (1 to 1000).map(i => ("d1", s"u$i")).toDF("day", "u")
      .groupBy($"day").agg(HllDistinct.hll_bin($"u").as("sk"))
      .select($"sk")
      .unionByName(Seq(1, 2, 3).toDF("x").select(lit(null).cast("binary").as("sk")))
      .repartition(4)
    val est = bins.agg(HllDistinct.hll_merge($"sk")).head.getLong(0)
    assert(math.abs(est - 1000).toDouble / 1000 < 0.05, s"estimate $est")
  }

  test("HLL sketch algebra: intersection estimate via inclusion-exclusion over shard sketches") {
    import spark.implicits._
    // two sources with a known overlap: A = 0..5999, B = 4000..9999
    val a = (0 until 6000).map(i => ("A", s"u$i"))
    val b = (4000 until 10000).map(i => ("B", s"u$i"))
    val df = (a ++ b).toDF("src", "u")
    val sketches = df.groupBy($"src").agg(HllDistinct.hll_bin($"u").as("sk"))
    val nA = df.filter($"src" === "A").agg(HllDistinct.hll_distinct($"u")).head.getLong(0)
    val nB = df.filter($"src" === "B").agg(HllDistinct.hll_distinct($"u")).head.getLong(0)
    val nUnion = sketches.agg(HllDistinct.hll_merge($"sk")).head.getLong(0)
    val nInter = nA + nB - nUnion // inclusion-exclusion on estimates
    assert(math.abs(nInter - 2000).toDouble / 2000 < 0.15,
      s"intersection estimate $nInter vs exact 2000")
  }
}
