package graft

import org.apache.spark.sql.functions._

/** Mechanical guard against the quadratic-block join shape the
  * round-10 co-activity builder fixed (q109/q353/q360): a SELF
  * equi-join whose only keys are truncated-timestamp buckets
  * (date_trunc hour/day, to_date, hour(), …) over sides that nothing
  * bounds. Rows-per-bucket grows linearly with corpus volume while
  * the bucket domain stays fixed, so the join output grows
  * QUADRATICALLY — fine at sf0.01, the 169-s wall ScaleSmoke's
  * `coactcap` sweep measures at a 16k-user hour.
  *
  * A side is BOUNDED when, between the join and the raw scan, rows
  * per key are capped by construction: a native TopKPerGroup cap
  * (k rows per group — the co-activity builder's fix), an Aggregate
  * whose entire grouping is contained in the join keys (≤ 1 row per
  * key — the daily-rollup-joins-daily-rollup shape all over the
  * registry), a GlobalLimit, or a literal LocalRelation. A
  * Distinct/dedup on MORE than the keys does NOT bound (q109's
  * original `distinct (hr, user_id)` was precisely the trap).
  *
  * Like WindowStragglerGuardSpec, the sweep reads the rule's verdict on
  * every registered query's optimized plan from [[PlanCensus]] (where
  * the rule lives) and fails the build when anyone reintroduces the
  * raw shape. Limitation, stated: a
  * `Fx.materialize` boundary truncates lineage (LogicalRDD), so
  * joins INSIDE an already-materialized builder are checked where
  * the builder is used un-materialized (the planted cases below),
  * not through checkpoints.
  */
class BucketSelfJoinGuardSpec extends SparkSpec {
  import spark.implicits._

  private def hourlyActive = Tables.events(spark, PlanCensus.sf)
    .select(date_trunc("hour", $"ts").as("hr"), $"user_id").distinct()

  private def flagged(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanCensus.bucketSelfJoins(df.queryExecution.optimizedPlan)

  test("planted uncapped hour self-join is flagged") {
    val active = hourlyActive
    val bad = active.as("x").join(active.as("y"), Seq("hr"))
      .filter($"x.user_id" < $"y.user_id")
      .select($"x.user_id".as("a"), $"y.user_id".as("b"))
    assert(flagged(bad).nonEmpty, "guard missed the uncapped per-hour self-join")
  }

  test("the capped co-activity builder passes (TopKPerGroup bounds the sides)") {
    val good = graft.operators.GraphQueries.coactivityEdgesFrom(hourlyActive, 16)
    assert(flagged(good).isEmpty, "guard flagged the capped builder")
  }

  test("bucket-keyed joins of per-bucket AGGREGATES pass (≤ 1 row per key)") {
    val daily = Tables.events(spark, PlanCensus.sf)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val joined = daily.as("a").join(daily.as("b"), Seq("day"))
      .select($"day", $"a.n".as("x"), $"b.n".as("y"))
    assert(flagged(joined).isEmpty, "guard flagged a bounded daily-rollup self-join")
  }

  test("no registered query contains an unbounded bucket-keyed self-join") {
    val hits = PlanCensus.entries.flatMap(e => e.bucketSelfJoins.map(o => s"${e.name}: $o"))
    assert(hits.isEmpty,
      s"uncapped bucket-keyed self-join (use GraphQueries.coactivityEdges' " +
        s"bottom-k-by-hash cap or pre-aggregate): ${hits.mkString("; ")}")
  }
}
