package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe BOUNDED running accumulation (clamped prefix): the
  * order-dependent recurrence
  *
  *   balance₀ = z0;  balanceᵣ = min(max(balanceᵣ₋₁ + deltaᵣ, lo), hi)
  *
  * evaluated distributed — inventory with a floor and a capacity,
  * battery state of charge, token buckets, credit exposure with
  * limits. A window cannot express this recurrence (running sums
  * decompose, clamped running sums do NOT), so the naive evaluations
  * are a per-group sequential UDF pass or a single-task sort — both
  * non-starters at 100 TB. The clamp transfer functions form a
  * semigroup under composition ([[graft.plans.ClampFoldAgg]]), which
  * unlocks the classic two-phase parallel prefix, same skeleton as
  * [[Ranking.groupRunningSum]]:
  *
  *   1. range-repartition on (group, order), sort within partitions;
  *      every row's INCLUSIVE in-partition composite triple computes
  *      under a (partition, group) running window — parallel across
  *      partitions, one ordered pass each;
  *   2. each (partition, group) cell's total triple is its last row's
  *      inclusive triple; a cell's carry-in triple is the composition
  *      of the group's PRIOR-partition cells — a running fold over the
  *      ≤`parts`-cell bounded domain;
  *   3. balance = (carry ∘ local)(z0), pure column arithmetic.
  *
  * Group cardinality is unconstrained (unlike groupRanks' broadcast
  * contract): the carry join is keyed on (partition, group) and sized
  * `parts × |groups|` rows against the data — AQE picks broadcast vs
  * shuffle. Null groups are preserved (null-safe join).
  */
object Accumulate {

  /** Append `balance` — the post-row value of the clamped running
    * accumulation of `deltaCol` within each `groupCols` class along
    * `innerOrder` (must totally order rows within a group), starting
    * from `z0`, clamped into [lo, hi] (None = unbounded on that
    * side) after every row. */
  def clampedRunningBalance(df: DataFrame, groupCols: Seq[String], partsFloor: Int,
      deltaCol: String, lo: Option[Long], hi: Option[Long], z0: Long,
      innerOrder: Column*): DataFrame = {
    import graft.plans.ClampFold._
    // r19 (guide §2.5): floor semantics — the range-partition count
    // scales with the session's parallelism (balances are partitioning-
    // invariant by the semigroup construction, ClampFoldSpec pins it),
    // so a call site tuned small never serializes a cluster.
    val parts = math.max(partsFloor,
      df.sparkSession.sparkContext.defaultParallelism)
    val loC = lo.map(lit(_).cast("long")).getOrElse(lit(null).cast("long"))
    val hiC = hi.map(lit(_).cast("long")).getOrElse(lit(null).cast("long"))
    val order = groupCols.map(col) ++ innerOrder
    // materialization here is CORRECTNESS, not caching: `local` feeds
    // both the cell summaries and the final join, and every consumer
    // must observe the SAME physical partitioning — spark_partition_id
    // over a re-evaluated range shuffle is not guaranteed stable, and
    // the measured un-materialized variant produced mismatched
    // balances (carries keyed on pids the join side didn't see).
    // Materializing the post-window relation instead was also measured
    // SLOWER (the wide triple column makes the cache write cost more
    // than the second window pass saves).
    val sorted = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .transform(graft.Fx.materialize)
    val withPid = sorted.withColumn("__pid", spark_partition_id())
    val wLocal = Window
      .partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(innerOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withPid.withColumn("__t",
      clamp_fold(col(deltaCol).cast("long"), loC, hiC).over(wLocal))
    // cell total = the group's LAST in-partition inclusive triple
    val cells = local
      .groupBy(col("__pid") +: groupCols.map(col): _*)
      .agg(max_by(col("__t"), struct(innerOrder: _*)).as("__cell"))
    val wCarry = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = cells
      .withColumn("__carry",
        clamp_fold(col("__cell.a"), col("__cell.lo"), col("__cell.hi"))
          .over(wCarry))
      .select(col("__pid").as("__cpid") +:
        groupCols.map(c => col(c).as(s"__ck_$c")) :+ col("__carry"): _*)
    val cond = (local("__pid") === carries("__cpid")) +:
      groupCols.map(c => local(c) <=> carries(s"__ck_$c"))
    local.join(carries, cond.reduce(_ && _))
      .withColumn("balance",
        clamp_apply(clamp_apply(lit(z0), col("__carry")), col("__t")))
      .drop(groupCols.map(c => s"__ck_$c") :+
        "__pid" :+ "__cpid" :+ "__t" :+ "__carry": _*)
  }
}
