package graft

import graft.plans.BoundedCollect
import org.apache.spark.sql.functions._

class BoundedCollectSpec extends SparkSpec {

  test("collects exactly under the cap, truncates at cap, skips nulls") {
    import spark.implicits._
    val df = Seq(
      ("small", Some(3L)), ("small", Some(1L)), ("small", Some(2L)),
      ("nulls", Some(7L)), ("nulls", None),
      ("big", Some(1L)), ("big", Some(2L)), ("big", Some(3L)),
      ("big", Some(4L)), ("big", Some(5L))).toDF("k", "v")
    val out = df.groupBy($"k")
      .agg(sort_array(BoundedCollect.bounded_collect($"v", 4)).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("small") == Seq(1L, 2L, 3L))
    assert(out("nulls") == Seq(7L))
    // 5 values through cap 4: exactly 4 survive (which 4 is unspecified)
    assert(out("big").size == 4)
    assert(out("big").toSet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
  }

  test("cap bounds the buffer across merges (many partitions)") {
    import spark.implicits._
    val df = spark.range(0, 10000).repartition(32)
      .select(lit("k").as("k"), $"id")
    val n = df.groupBy($"k")
      .agg(size(BoundedCollect.bounded_collect($"id", 101)).as("n"))
      .head().getAs[Int]("n")
    assert(n == 101)
  }

  test("rejects a non-bigint child at analysis time") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq("a").toDF("s").agg(BoundedCollect.bounded_collect($"s", 4)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("bigint") ||
      err.getMessage.contains("bounded_collect"))
  }
}
