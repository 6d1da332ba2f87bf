package graft

import graft.plans.{CmBuffer, CountMin}

class CountMinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val depth = 3
  private val width = 64

  /** Driver-side reference estimate from the exact count table. */
  private def refEstimates(counts: Map[String, Long]): Map[String, Long] = {
    val grid = Array.ofDim[Long](depth, width)
    counts.foreach { case (w, c) =>
      (0 until depth).foreach(r => grid(r)(CountMin.cellOf(w, r, width)) += c)
    }
    counts.map { case (w, _) =>
      w -> (0 until depth).map(r => grid(r)(CountMin.cellOf(w, r, width))).min
    }
  }

  private def sketchEstimates(data: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val df = data.toDF("w").repartition(8)
    val sk = df.agg(CountMin.cm_sketch($"w", depth, width).as("sk"))
      .collect()(0).getSeq[Seq[Long]](0)
    data.distinct.map { w =>
      w -> (0 until depth).map(r => sk(r)(CountMin.cellOf(w, r, width))).min
    }.toMap
  }

  test("distributed sketch equals the canonical single-pass grid") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(20000)(s"tok${rnd.nextInt(500)}")
    val counts = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(sketchEstimates(data) == refEstimates(counts))
  }

  test("one-sided error: est >= true, bounded by eN at the CM guarantee") {
    val rnd = new scala.util.Random(13)
    val data = Seq.fill(30000)(s"w${rnd.nextInt(2000)}")
    val counts = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val est = sketchEstimates(data)
    val n = data.size.toLong
    counts.foreach { case (w, c) =>
      assert(est(w) >= c, s"$w undercounted: ${est(w)} < $c")
    }
    // e/width * n is the per-row expected overcount bound; with
    // depth=3 independent rows the min is comfortably under 3x that.
    val bound = 3L * math.ceil(math.E / width * n).toLong
    counts.foreach { case (w, c) =>
      assert(est(w) - c <= bound, s"$w overcount ${est(w) - c} > $bound")
    }
  }

  test("merge is exact: partition layout cannot change the grid") {
    import spark.implicits._
    val data = (1 to 5000).map(i => s"x${i % 97}")
    def grid(parts: Int): Seq[Seq[Long]] =
      data.toDF("w").repartition(parts)
        .agg(CountMin.cm_sketch($"w", depth, width).as("sk"))
        .collect()(0).getSeq[Seq[Long]](0)
    assert(grid(1) == grid(16))
  }

  test("cellOf == conv(substring(md5(item#r), 1, 8), 16, 10) % width via builtin md5") {
    import spark.implicits._
    val items = (0 until 200).map(i => s"tok$i") ++ Seq("", "Ünïcödé", "日本語")
    val rows = for (w <- items; r <- 0 until depth) yield (w, r)
    val viaSql = rows.toDF("w", "r")
      .select($"w", $"r", (conv(substring(md5(concat($"w", lit("#"), $"r")), 1, 8), 16, 10)
        .cast("long") % width).cast("int").as("cell"))
      .collect().map(x => (x.getString(0), x.getInt(1)) -> x.getInt(2)).toMap
    rows.foreach { case (w, r) =>
      assert(CountMin.cellOf(w, r, width) === viaSql((w, r)), s"$w#$r")
    }
  }

  test("unit: buffer add/merge agree with cellOf") {
    val a = new CmBuffer(depth, width)
    val b = new CmBuffer(depth, width)
    a.add("alpha"); a.add("alpha"); b.add("beta", 3L)
    a.merge(b)
    (0 until depth).foreach { r =>
      assert(a.cells(r * width + CountMin.cellOf("alpha", r, width)) >= 2L)
      assert(a.cells(r * width + CountMin.cellOf("beta", r, width)) >= 3L)
    }
    assert(a.cells.sum == depth * 5L)
  }

  test("non-string child rejected at analysis time") {
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1, 2).toDF("n").agg(expr("cm_sketch(n, 3, 64)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
