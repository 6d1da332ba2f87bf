package graft

import graft.plans.MisraGries
import org.apache.spark.sql.Row

class FrequentItemsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def summary(rows: Seq[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  test("exact regime: k >= distinct count reproduces the full count table") {
    import spark.implicits._
    val df = (1 to 5000).map(i => s"v${i % 17}").toDF("s").repartition(8)
    val got = summary(
      df.agg(MisraGries.mg_topk($"s", 64).as("top"))
        .select(explode($"top")).select($"col.item", $"col.cnt").collect().toSeq)
    val exact = df.groupBy($"s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
  }

  test("lossy regime: n/(k+1) error bound holds and heavy items survive") {
    import spark.implicits._
    // 3 heavy items (10k each) + 5000 singleton tail, shuffled across
    // partitions so merge() runs for real.
    val heavy = for (h <- 1 to 3; _ <- 1 to 10000) yield s"heavy$h"
    val tail = (1 to 5000).map(i => s"tail$i")
    val data = new scala.util.Random(7).shuffle((heavy ++ tail).toVector)
    val df = data.toDF("s").repartition(16)
    val k = 50
    val n = data.size.toLong
    val got = summary(
      df.agg(MisraGries.mg_topk($"s", k).as("top"))
        .select(explode($"top")).select($"col.item", $"col.cnt").collect().toSeq)
    assert(got.size <= k)
    val bound = n / (k + 1) + 1
    (1 to 3).foreach { h =>
      val est = got.getOrElse(s"heavy$h", 0L)
      assert(est >= 10000L - bound && est <= 10000L,
        s"heavy$h est=$est bound=$bound")
    }
    // No estimate may exceed its true count (MG never overcounts).
    got.foreach { case (item, est) =>
      val truth = if (item.startsWith("heavy")) 10000L else 1L
      assert(est <= truth, s"$item overcounted: $est > $truth")
    }
  }

  test("weighted add path decrements in one pass (unit)") {
    val b = new graft.plans.MgBuffer(2)
    b.add("a", 10); b.add("b", 5); b.add("c", 3)
    // c displaces 3 from both: a=7, b=2; c untracked (rem 0)
    assert(b.counters.get("a") == 7L && b.counters.get("b") == 2L)
    assert(!b.counters.containsKey("c"))
  }

  test("non-string child is rejected at analysis time, not runtime") {
    import spark.implicits._
    val df = Seq(1, 2, 2, 3).toDF("n")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(MisraGries.mg_topk($"n", 8).as("top")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("nulls ignored, output deterministically ordered") {
    import spark.implicits._
    val df = Seq(Some("x"), None, Some("y"), Some("x"), None).toDF("s")
    val rows = df.agg(MisraGries.mg_topk($"s", 8).as("top"))
      .select(explode($"top")).select($"col.item", $"col.cnt").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 2L), ("y", 1L)))
  }

  test("mg_bin/mg_merge: persisted partials roll up losslessly in the exact regime") {
    import spark.implicits._
    // 3 shards × skewed items; k=8 ≥ 4 distinct → exact everywhere.
    val rows = (1 to 300).map { i =>
      (i % 3, if (i % 7 == 0) "rare" else s"w${i % 3}")
    }
    val dir = java.nio.file.Files.createTempDirectory("mgbin").toString
    rows.toDF("shard", "item")
      .groupBy($"shard")
      .agg(graft.plans.MisraGries.mg_bin($"item", 8).as("sk"))
      .write.mode("overwrite").parquet(dir) // BINARY column survives parquet
    val merged = spark.read.parquet(dir)
      .agg(graft.plans.MisraGries.mg_merge($"sk").as("top"))
      .select(explode($"top")).select($"col.item", $"col.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(merged == exact, s"merged=$merged exact=$exact")
  }

  test("mg_merge on the lossy path keeps capacity from the wire format") {
    import spark.implicits._
    // k=2 over 5 distinct: the merged summary must keep ≤ 2 counters
    // and still surface the dominant item.
    val rows = (1 to 1000).map(i => (i % 4, if (i % 5 == 0) s"t${i % 5}" else "dom"))
    val merged = rows.toDF("shard", "item")
      .groupBy($"shard").agg(graft.plans.MisraGries.mg_bin($"item", 2).as("sk"))
      .agg(graft.plans.MisraGries.mg_merge($"sk").as("top"))
      .select(explode($"top")).select($"col.item", $"col.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(merged.length <= 2)
    assert(merged.head._1 == "dom")
  }
}
