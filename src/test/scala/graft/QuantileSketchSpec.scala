package graft

import graft.plans.{QkBuffer, QuantileSketch}
import org.apache.spark.sql.functions._

class QuantileSketchSpec extends SparkSpec {

  private def exactNearestRank(xs: Seq[Double], p: Double): Double = {
    val sorted = xs.sorted
    sorted(math.max(1, math.ceil(p * xs.size).toLong).toInt - 1)
  }

  test("exact regime: k >= n answers exact nearest-rank quantiles") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(1000)(rnd.nextDouble() * 1e6)
    val buf = new QkBuffer(2048)
    xs.foreach(buf.add)
    for (p <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val got = buf.quantiles(Array(p))(0)
      assert(got == exactNearestRank(xs, p), s"p=$p")
    }
  }

  test("compaction regime: rank error bounded at 200k rows, k=256") {
    val rnd = new scala.util.Random(11)
    val n = 200000
    val xs = Array.fill(n)(rnd.nextDouble())
    val buf = new QkBuffer(256)
    xs.foreach(buf.add)
    // state must stay bounded: k doubles per level, ~log2(n/k) levels
    val held = buf.levels.map(_.length).sum
    assert(held <= 256 * 12, s"sketch holds $held values")
    val sorted = xs.sorted
    for (p <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val got = buf.quantiles(Array(p))(0)
      // empirical rank of the estimate vs the target rank
      val rank = sorted.count(_ <= got)
      val err = math.abs(rank - p * n) / n.toDouble
      assert(err < 0.02, s"p=$p rank error $err")
    }
  }

  test("merge preserves count and keeps the bound") {
    val rnd = new scala.util.Random(13)
    val parts = Seq.fill(8)(Array.fill(20000)(rnd.nextGaussian()))
    val bufs = parts.map { xs =>
      val b = new QkBuffer(256); xs.foreach(b.add); b
    }
    val merged = bufs.reduce { (a, b) => a.merge(b); a }
    val all = parts.flatten.sorted
    assert(merged.count == all.length)
    for (p <- Seq(0.25, 0.5, 0.75)) {
      val got = merged.quantiles(Array(p))(0)
      val rank = all.count(_ <= got)
      assert(math.abs(rank - p * all.length) / all.length.toDouble < 0.03, s"p=$p")
    }
  }

  test("distributed agg: serde + partial-merge path matches exact (exact regime)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 5000).map(i => (s"g${i % 3}", rnd.nextDouble() * 100))
    val df = rows.toDF("g", "x").repartition(4)
    val got = df.groupBy($"g")
      .agg(QuantileSketch.qsketch($"x", 8192, Seq(0.5)).as("q"))
      .select($"g", element_at($"q", 1).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      assert(got(g) == exactNearestRank(vs.map(_._2), 0.5), s"group $g")
    }
  }

  test("sketch persistence: binary round-trip through parquet, merged rollup == direct (exact regime)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (1 to 3000).map(i => (s"d${i % 5}", rnd.nextDouble() * 10))
    val df = rows.toDF("day", "x")
    // write one serialized partial sketch per day — the cube row
    val dir = java.nio.file.Files.createTempDirectory("sketchcube").toString + "/cube"
    df.groupBy($"day")
      .agg(QuantileSketch.qsketch_bin($"x", 8192).as("sk"))
      .write.parquet(dir)
    // roll up from DISK, never re-reading raw rows
    val rolled = spark.read.parquet(dir)
      .agg(QuantileSketch.qsketch_merge($"sk", Seq(0.25, 0.5, 0.75)).as("q"))
      .select(element_at($"q", 1), element_at($"q", 2), element_at($"q", 3))
      .head()
    val direct = df
      .agg(QuantileSketch.qsketch($"x", 8192, Seq(0.25, 0.5, 0.75)).as("q"))
      .select(element_at($"q", 1), element_at($"q", 2), element_at($"q", 3))
      .head()
    assert(rolled == direct, s"rollup $rolled != direct $direct")
    assert(rolled.getDouble(1) == exactNearestRank(rows.map(_._2), 0.5))
  }

  test("sketch persistence: lossy-regime rollup keeps the rank bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 100000).map(i => (s"d${i % 20}", rnd.nextGaussian()))
    val df = rows.toDF("day", "x")
    val rolled = df.groupBy($"day")
      .agg(QuantileSketch.qsketch_bin($"x", 256).as("sk"))
      .agg(QuantileSketch.qsketch_merge($"sk", Seq(0.5)).as("q"))
      .select(element_at($"q", 1)).head().getDouble(0)
    val sorted = rows.map(_._2).sorted
    val rank = sorted.count(_ <= rolled)
    assert(math.abs(rank - 0.5 * rows.size) / rows.size.toDouble < 0.03,
      s"merged-rollup median rank off: $rank of ${rows.size}")
  }

  test("analysis-time rejection of non-double children") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq("a").toDF("s")
        .agg(QuantileSketch.qsketch($"s", 16, Seq(0.5))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("double"))
  }
}
