package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked engine query: a Spark plan builder plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB SQL string the
  * driver runs on the same parquet tables and hash-compares.
  *
  * Determinism contract (driver compares values after sorting columns
  * by NAME): every query ends in a total ORDER BY, aliases every
  * computed column identically on both sides, and "rounds" doubles via
  * `floor(x*K + 0.5)/K` — plain IEEE double ops that evaluate
  * bit-identically in Spark and DuckDB (unlike `round`, whose
  * half-case/decimal semantics differ between the two engines).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** headline benchmark query (run by Bench) */
    bench: Boolean = false)

object Fx {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Normalize an events-table `ts` column to `TimestampType` (µs,
    * UTC instant) regardless of how the parquet writer encoded it.
    * The testdata has shipped three flavors so far:
    *   - INT64 TIMESTAMP(NANOS) → Spark reads a plain long (with
    *     `legacy.parquet.nanosAsLong`); truncate ns→µs like DuckDB's
    *     ns→µs cast;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark reads
    *     TIMESTAMP_NTZ, which `unix_micros`/watermarks reject; cast to
    *     TimestampType (session TZ is pinned UTC, so instant-preserving);
    *   - TIMESTAMP(MICROS, adjusted) → already TimestampType.
    * Works on batch and streaming DataFrames alike (pure projection).
    * Any fourth encoding fails loudly here instead of deep inside a
    * query plan.
    */
  def eventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other =>
      throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; extend Fx.eventTs")
  }

  /** Cluster-safe eager materialization for multi-consumer and
    * iterative intermediates. On a local master `localCheckpoint` is
    * strictly right: the blocks live in the one JVM and the truncated
    * lineage keeps iterative plans linear. On a real cluster a
    * localCheckpoint is a reliability bug — its blocks are
    * unreplicated executor state and the truncated lineage cannot
    * recompute them after an executor loss — so there the frame is
    * persisted at replicated `DISK_ONLY_2` (lineage retained, blocks
    * survive one executor loss) and forced eagerly with a count so the
    * consumers that fork from it never race the materialization.
    * Release either kind with [[free]]. Use as
    * `df.transform(Fx.materialize)` to keep call-site chaining. */
  def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.isLocal) df.localCheckpoint()
    else if (sc.getCheckpointDir.isDefined) {
      // reliable checkpoint: blocks on stable storage AND lineage
      // truncated — iterative loops (BPE rounds, k-core peeling) need
      // the truncation, or round r's plan nests r-1 prior plans
      // (O(k²) analysis, full-chain recompute on block loss)
      df.checkpoint()
    } else {
      // no checkpoint dir configured: replicated persist keeps the
      // blocks fault-tolerant, but lineage is RETAINED — acceptable
      // for one-shot multi-consumer frames, wrong for long iterative
      // loops; configure spark.checkpoint.dir for those on a cluster
      val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
      p.count()
      p
    }
  }

  /** Release the storage behind a [[materialize]]d frame (block-manager
    * blocks for the local-checkpoint flavor, persisted blocks for the
    * cluster flavor). Safe on any DataFrame — both paths no-op when
    * there is nothing to release. */
  def free(df: DataFrame): Unit = {
    org.apache.spark.sql.graft.Bridge.freeLocalCheckpoint(df)
    df.unpersist(blocking = false)
  }

  /** Epoch-day of a timestamp column (date-truncated) — integer in
    * both engines (DuckDB mirror: `CAST(ts AS DATE) - DATE
    * '1970-01-01'`). */
  def epochDay(c: Column): Column = datediff(to_date(c), lit("1970-01-01"))

  /** Cross-engine-stable double rounding: floor(x*K+0.5)/K. */
  def roundAt(c: Column, k: Long): Column = floor(c * k + lit(0.5)) / k
  def r2(c: Column): Column = roundAt(c, 100L)
  def r4(c: Column): Column = roundAt(c, 10000L)
  def r6(c: Column): Column = roundAt(c, 1000000L)

  /** Same helper for the DuckDB oracle side. */
  def sqlR(expr: String, k: Long): String = s"floor(($expr) * $k + 0.5) / $k"
  def sqlR2(e: String): String = sqlR(e, 100L)
  def sqlR4(e: String): String = sqlR(e, 10000L)
  def sqlR6(e: String): String = sqlR(e, 1000000L)

  /** The first `hexChars` hex digits of md5(s) read as a long — the
    * one derivation of every seeded split, arm, fold, shard, uniform
    * draw and sketch hash, equal to the oracle's
    * `('0x' || substr(md5(s), 1, hexChars))::BIGINT`. Built from the
    * 32-bit chunks of the native `md5_chunk`, which share one memoized
    * digest per row: no hex string, substring or radix parse. Sixteen
    * digits would not fit a signed BIGINT. */
  def md5Prefix(s: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15, s"md5Prefix: hexChars must be in 1..15, got $hexChars")
    import graft.plans.GraftFunctions.md5_chunk
    val bits = 4 * hexChars
    if (bits <= 32) shiftrightunsigned(md5_chunk(s, 0), 32 - bits)
    else shiftleft(md5_chunk(s, 0), bits - 32)
      .bitwiseOR(shiftrightunsigned(md5_chunk(s, 1), 64 - bits))
  }

  // ---- grid-first deterministic aggregates ----------------------------
  // Sums of p-decimal-grid data land EXACTLY on the p-decimal grid, so
  // rounding at grid scale first recovers bit-identical values in both
  // engines (double summation order only perturbs the last ulps, far
  // from the grid midpoints). Derived rounding/division applied AFTER
  // that is then identical IEEE arithmetic on identical inputs. Rounding
  // an un-gridded avg directly is NOT safe: sum/count can land exactly
  // on a rounding midpoint (e.g. 949.375), where ulp noise flips floor.

  /** Deterministic sum of 2-decimal money data, rounded to 2dp. */
  def moneySum(c: Column): Column = r2(sum(c))
  def sqlMoneySum(e: String): String = sqlR2(s"sum($e)")

  /** Deterministic sum of a 4-decimal grid (price*(1-disc)), output 2dp. */
  def rev4Sum(c: Column): Column = r2(r4(sum(c)))
  def sqlRev4Sum(e: String): String = sqlR2(sqlR4(s"sum($e)"))

  /** Deterministic sum of a 6-decimal grid (…*(1+tax)), output 2dp. */
  def rev6Sum(c: Column): Column = r2(r6(sum(c)))
  def sqlRev6Sum(e: String): String = sqlR2(sqlR6(s"sum($e)"))

  /** Deterministic 4dp average of 2-decimal-grid data: grid-exact sum
    * first, then divide — never rounds a raw double quotient. */
  def moneyAvg(c: Column): Column = r4(r2(sum(c)) / count(lit(1)))
  def sqlMoneyAvg(e: String): String = sqlR4(s"${sqlR2(s"sum($e)")} / count(*)")
}
