package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse table-maintenance operators, round 7: compaction planning
  * (the small-file problem) and zone-map pruning audits (the
  * data-layout problem). At 100 TB these are not queries OVER the data
  * so much as queries over its METADATA — a file inventory or a
  * block-statistics manifest — and the plans here keep that shape: one
  * data-scale aggregation pass that collapses the table into a bounded
  * manifest relation, then all planning logic (windows, cross joins
  * against predicate sets) runs at metadata scale, exactly how Delta
  * OPTIMIZE / Iceberg rewrite planners operate on manifests rather
  * than data files.
  *
  * Determinism: every quantity is integer (synthetic byte sizes,
  * cumulative sums, integer-division bin ids, block min/max day
  * bounds); the only doubles are final single divisions of exact
  * integers rounded via [[Fx.r4]].
  */
object LakehouseQueries {
  import Fx._

  // ------------------------------------------------------------------
  // q219 — compaction plan (small-file bin packing)
  // ------------------------------------------------------------------

  /** Target output size of one compacted file, in (synthetic) bytes. */
  private val CompactTarget = 32768L

  /** Next-fit bin assignment over the size-descending file list of
    * each partition: a file joins the bin indexed by how many
    * `target`-multiples its predecessors' running total crossed
    * (`(cum − bytes) div target`). Single window pass; bins overflow
    * the target by at most one file (next-fit's standard trade for a
    * one-pass, order-deterministic rule — bin-minimal packing is
    * NP-hard). Adds `bin` to (partCol, idCol, bytesCol) rows. */
  def nextFitBins(files: DataFrame, partCol: String, idCol: String,
      bytesCol: String, target: Long): DataFrame = {
    val order = Window.partitionBy(col(partCol))
      .orderBy(col(bytesCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum(col(bytesCol)).over(order))
      .withColumn("bin", expr(s"(cum - $bytesCol) div $target"))
      .drop("cum")
  }

  /** q219 — small-file compaction plan: the table is a set of files
    * per month partition (file = writer task, modeled as
    * `l_suppkey % 40`; size = 128 B/row overhead + payload bytes), and
    * the planner assigns files to output bins of ~[[CompactTarget]]
    * bytes by next-fit over the size-descending file list: a file
    * joins the bin indexed by how many target-multiples its
    * predecessors' running total crossed (`(cum − bytes) div target`).
    * Next-fit's bins can overflow the target by at most one file —
    * the standard trade for a single-pass, window-expressible rule (a
    * bin-minimal packing is NP-hard and not order-deterministic).
    * Per partition: file/bin counts, the small-file count the plan
    * eliminates, the largest planned bin, and the mean fill ratio.
    *
    * Scale shape: the ONLY data-scale pass is the groupBy that
    * collapses rows into the (month, file, bytes) inventory — ~40
    * files × #months regardless of table size. The packing window and
    * final rollup run on that manifest, so a 100 TB table plans in
    * milliseconds once its inventory exists (in a real lakehouse the
    * inventory comes free from the transaction log — no data pass at
    * all). */
  def q219(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val files = Tables.lineitem(s, d)
      .groupBy(
        (year($"l_shipdate") * 100 + month($"l_shipdate")).as("ym"),
        ($"l_suppkey" % 40).as("file_id"))
      .agg((count(lit(1)) * 128 +
        sum($"l_quantity".cast("int"))).as("bytes"))
    nextFitBins(files, "ym", "file_id", "bytes", CompactTarget)
      .groupBy($"ym", $"bin").agg(
        count(lit(1)).as("bf"),
        sum($"bytes").as("bin_bytes"),
        sum(($"bytes" < CompactTarget / 2).cast("long")).as("bsmall"))
      .groupBy($"ym").agg(
        sum($"bf").cast("long").as("n_files"),
        sum($"bsmall").cast("long").as("n_small_files"),
        count(lit(1)).as("n_bins"),
        sum($"bin_bytes").cast("long").as("total_bytes"),
        max($"bin_bytes").cast("long").as("max_bin_bytes"))
      .withColumn("fill_pct",
        r4($"total_bytes" / ($"n_bins" * CompactTarget)))
      .orderBy($"ym")
  }

  val q219Sql: String =
    s"""WITH files AS (
       |  SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ym,
       |    l_suppkey % 40 AS file_id,
       |    count(*) * 128 + sum(CAST(l_quantity AS INT)) AS bytes
       |  FROM lineitem GROUP BY 1, 2),
       |packed AS (
       |  SELECT ym, file_id, bytes,
       |    sum(bytes) OVER (PARTITION BY ym ORDER BY bytes DESC, file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM files),
       |bins AS (
       |  SELECT ym, (cum - bytes) // $CompactTarget AS bin,
       |    count(*) AS bf, sum(bytes) AS bin_bytes,
       |    sum(CASE WHEN bytes < ${CompactTarget / 2} THEN 1 ELSE 0 END)
       |      AS bsmall
       |  FROM packed GROUP BY 1, 2)
       |SELECT ym, CAST(sum(bf) AS BIGINT) AS n_files,
       |  CAST(sum(bsmall) AS BIGINT) AS n_small_files,
       |  CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(sum(bin_bytes) AS BIGINT) AS total_bytes,
       |  CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes,
       |  ${sqlR4(s"CAST(sum(bin_bytes) AS BIGINT) / (count(*) * $CompactTarget)")}
       |    AS fill_pct
       |FROM bins GROUP BY ym ORDER BY ym""".stripMargin

  // ------------------------------------------------------------------
  // q220 — zone-map pruning audit (natural vs clustered layout)
  // ------------------------------------------------------------------

  /** Rows per "natural"-order block (insertion order ≈ orderkey). */
  private val OkBlock = 512L
  /** Days per "clustered"-layout block (shipdate-range files). */
  private val DayBlock = 32L

  /** The audited predicate set: (pred_id, lo, hi) shipdate windows of
    * deliberately different widths (year / quarter / month / day). */
  private val Preds: Seq[(Int, String, String)] = Seq(
    (1, "1994-01-01", "1994-12-31"),
    (2, "1995-01-01", "1995-03-31"),
    (3, "1996-06-01", "1996-06-30"),
    (4, "1992-07-01", "1992-12-31"),
    (5, "1995-07-15", "1995-07-15"),
    (6, "1997-01-01", "1998-12-31"))

  /** q220 — zone-map (block min/max) pruning audit: for each candidate
    * layout — `natural` (blocks of [[OkBlock]] consecutive orderkeys,
    * a proxy for insertion order) and `clustered` (files holding
    * [[DayBlock]]-day shipdate ranges, what a sort-on-write or
    * Z-order layout produces) — compute per-block min/max of the sort
    * key and, for each audit predicate, how many blocks a scanner
    * could skip (`max < lo OR min > hi`) and what fraction of rows
    * that skips. This is the measurement behind every data-layout
    * decision: zone maps over an unclustered key prune ~nothing
    * because random dates make every block's [min,max] span the whole
    * domain, while the clustered layout prunes in proportion to
    * predicate selectivity.
    *
    * Scale shape: one data-scale pass collapses the table into
    * (ok-block × day-block) CELLS carrying min/max/count — both
    * layouts' block statistics then derive from those cells by
    * metadata-scale rollups (the table is scanned once, not once per
    * layout), and the predicate audit is a broadcast cross join of a
    * 6-row literal table against block stats. On a real lakehouse the
    * block stats ARE the table's manifest/footer metadata — the audit
    * needs no data pass at all. */
  def q220(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .select(expr(s"l_orderkey div $OkBlock").as("okb"),
        epochDay($"l_shipdate").as("day"))
      .withColumn("dayb", expr(s"day div $DayBlock"))
      .groupBy($"okb", $"dayb")
      .agg(min($"day").as("mn"), max($"day").as("mx"),
        count(lit(1)).as("nrows"))
      .transform(graft.Fx.materialize) // both layout rollups read the cell relation
    def rollup(scheme: String, blkCol: String): DataFrame =
      cells.groupBy(col(blkCol).as("blk"))
        .agg(min($"mn").as("mn"), max($"mx").as("mx"),
          sum($"nrows").as("nrows"))
        .withColumn("scheme", lit(scheme))
    val blocks = rollup("natural", "okb")
      .unionByName(rollup("clustered", "dayb"))
    val preds = Preds
      .toDF("pred_id", "lo_s", "hi_s")
      .select($"pred_id", epochDay($"lo_s").as("lo"),
        epochDay($"hi_s").as("hi"))
    blocks.join(broadcast(preds))
      .withColumn("pruned", ($"mx" < $"lo" || $"mn" > $"hi").cast("long"))
      .groupBy($"scheme", $"pred_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum($"pruned").as("n_pruned"),
        sum($"nrows").cast("long").as("rows_total"),
        sum($"pruned" * $"nrows").cast("long").as("rows_skipped"))
      .withColumn("skip_pct", r4($"rows_skipped" / $"rows_total"))
      .orderBy($"scheme", $"pred_id")
  }

  val q220Sql: String = {
    val predRows = Preds.map { case (id, lo, hi) =>
      s"($id, DATE '$lo' - DATE '1970-01-01', DATE '$hi' - DATE '1970-01-01')"
    }.mkString(", ")
    s"""WITH cells AS (
       |  SELECT l_orderkey // $OkBlock AS okb,
       |    (CAST(l_shipdate AS DATE) - DATE '1970-01-01') // $DayBlock
       |      AS dayb,
       |    min(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS mn,
       |    max(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS mx,
       |    count(*) AS nrows
       |  FROM lineitem GROUP BY 1, 2),
       |blocks AS (
       |  SELECT 'natural' AS scheme, okb AS blk, min(mn) AS mn,
       |    max(mx) AS mx, sum(nrows) AS nrows FROM cells GROUP BY 2
       |  UNION ALL
       |  SELECT 'clustered' AS scheme, dayb AS blk, min(mn) AS mn,
       |    max(mx) AS mx, sum(nrows) AS nrows FROM cells GROUP BY 2),
       |preds(pred_id, lo, hi) AS (VALUES $predRows)
       |SELECT scheme, pred_id, CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pruned,
       |  CAST(sum(nrows) AS BIGINT) AS rows_total,
       |  CAST(sum(CASE WHEN mx < lo OR mn > hi THEN nrows ELSE 0 END)
       |    AS BIGINT) AS rows_skipped,
       |  ${sqlR4("CAST(sum(CASE WHEN mx < lo OR mn > hi THEN nrows ELSE 0 END) AS BIGINT) / CAST(sum(nrows) AS BIGINT)")}
       |    AS skip_pct
       |FROM blocks, preds GROUP BY 1, 2 ORDER BY scheme, pred_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q225 — CDC MERGE apply (insert / update / delete in one join)
  // ------------------------------------------------------------------

  /** md5-grid u(0,1) keyed on the change key — the shared seeded-
    * uniform idiom (q98/q26), so DuckDB derives the identical feed. */
  private def cdcU(key: org.apache.spark.sql.Column) =
    Fx.md5Prefix(concat(key.cast("string"), lit("#cdc")), 8).cast("double") / 4294967296.0

  /** q225 — CDC MERGE: apply a change feed (op ∈ I/U/D) onto a keyed
    * snapshot in ONE full-outer hash join — the relational core of
    * Delta/Iceberg `MERGE INTO` and of every warehouse CDC apply. The
    * feed is derived deterministically from the orders table (updates:
    * per-customer balance restated as their exact-grid order total;
    * inserts: an md5-picked ~5% re-keyed past the snapshot's MAX key —
    * derived, not a constant, so no scale factor can collide an insert
    * with a real key; deletes: an md5-picked half of the order-less
    * customers), each
    * snapshot key matching at most one feed row by construction, so
    * the merge join is 1:1 — no fan-out.
    *
    * Scale shape: feed construction is one aggregation shuffle over
    * the fact table; the apply is a single equi-join on the key —
    * exactly the one-shuffle plan a 100 TB MERGE compiles to, with
    * AQE free to broadcast a small feed or split a skewed key. Rows
    * never explode and nothing collects: a 10 B-row snapshot merges
    * against a 100 M-row feed at hash-join speed. Determinism: money
    * stays on the 2-decimal grid ([[Fx.moneySum]]), the op picks ride
    * the md5 grid, and the survivors order totally by key. */
  def q225(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val snap = Tables.customer(s, d).select($"c_custkey".as("key"),
      $"c_name".as("name"), $"c_acctbal".as("bal"), $"c_mktsegment".as("seg"))
    // materialized once: the U/I/D branches each consume this
    // aggregate, and Catalyst's per-branch filter pushdown makes the
    // three subplans non-identical, defeating ReuseExchange — without
    // the checkpoint the plan scanned + shuffle-aggregated orders
    // THREE times (r13 profile of the r12 idle drift; exchanges 5→3)
    val ord = Tables.orders(s, d).groupBy($"o_custkey".as("key"))
      .agg(moneySum($"o_totalprice").as("new_bal"))
      .transform(graft.Fx.materialize)
    val updates = ord.select($"key", lit("U").as("op"), $"new_bal")
    val mx = snap.agg(max($"key").as("mx"))
    val inserts = ord.filter(cdcU($"key") < 0.05).crossJoin(broadcast(mx))
      .select(($"key" + $"mx").as("key"), lit("I").as("op"), $"new_bal")
    val deletes = snap.join(ord.select($"key"), Seq("key"), "left_anti")
      .filter(cdcU($"key") < 0.5)
      .select($"key", lit("D").as("op"), lit(null).cast("double").as("new_bal"))
    val feed = updates.unionByName(inserts).unionByName(deletes)
    snap.join(feed, Seq("key"), "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select($"key",
        coalesce($"name", concat(lit("cdc_insert_"), $"key".cast("string"))).as("name"),
        r2(when($"op" === "U" || $"op" === "I", $"new_bal")
          .otherwise($"bal")).as("bal"),
        coalesce($"seg", lit("NEW")).as("seg"),
        when($"op".isNull, lit("kept")).when($"op" === "U", lit("updated"))
          .otherwise(lit("inserted")).as("action"))
      .orderBy($"key")
  }

  val q225Sql: String = {
    def u(k: String) =
      s"CAST(('0x' || substr(md5(CAST($k AS VARCHAR) || '#cdc'), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0"
    s"""WITH snap AS (
       |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS bal,
       |    c_mktsegment AS seg FROM customer),
       |ord AS (
       |  SELECT o_custkey AS key, ${sqlMoneySum("o_totalprice")} AS new_bal
       |  FROM orders GROUP BY 1),
       |feed AS (
       |  SELECT key, 'U' AS op, new_bal FROM ord
       |  UNION ALL
       |  SELECT key + (SELECT max(c_custkey) FROM customer), 'I', new_bal
       |  FROM ord WHERE ${u("key")} < 0.05
       |  UNION ALL
       |  SELECT s.key, 'D', NULL FROM snap s LEFT JOIN ord o ON s.key = o.key
       |  WHERE o.key IS NULL AND ${u("s.key")} < 0.5)
       |SELECT COALESCE(s.key, f.key) AS key,
       |  COALESCE(s.name, 'cdc_insert_' || CAST(f.key AS VARCHAR)) AS name,
       |  ${sqlR2("CASE WHEN f.op IN ('U', 'I') THEN f.new_bal ELSE s.bal END")}
       |    AS bal,
       |  COALESCE(s.seg, 'NEW') AS seg,
       |  CASE WHEN f.op IS NULL THEN 'kept'
       |       WHEN f.op = 'U' THEN 'updated' ELSE 'inserted' END AS action
       |FROM snap s FULL JOIN feed f ON s.key = f.key
       |WHERE f.op IS NULL OR f.op <> 'D'
       |ORDER BY key""".stripMargin
  }

  // ------------------------------------------------------------------
  // q233 — CDC EXTRACT: recover the change feed by snapshot diff
  // ------------------------------------------------------------------

  /** q233 — the inverse of q225: given two keyed snapshots (the
    * customer table before, and the q225-merged state after), emit
    * the minimal change feed that transforms one into the other —
    * how CDC is bootstrapped when there is no binlog: one full-outer
    * hash join on the key, op = I where only the new side exists, D
    * where only the old side exists, U where the key survives with a
    * CHANGED value (an update that didn't change anything emits no
    * row — snapshot-diff CDC is idempotent by construction, which is
    * the property that makes re-running an extract safe).
    *
    * Composition note: the "after" snapshot IS [[q225]]'s output —
    * the two operators round-trip, and the extracted feed re-applied
    * by q225's merge semantics reproduces the after state. Scale
    * shape: identical to q225 — one equi-join shuffle, no fan-out,
    * values compared inside the join projection. */
  def q233(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val before = Tables.customer(s, d)
      .select($"c_custkey".as("key"), $"c_acctbal".as("old_bal"))
    val after = q225(s, d).select($"key", $"bal".as("new_bal"))
    before.join(after, Seq("key"), "full_outer")
      .select($"key",
        when($"old_bal".isNull, lit("I"))
          .when($"new_bal".isNull, lit("D"))
          .when($"old_bal" =!= $"new_bal", lit("U")).as("op"),
        r2($"old_bal").as("old_bal"), r2($"new_bal").as("new_bal"))
      .filter($"op".isNotNull)
      .orderBy($"key")
  }

  val q233Sql: String =
    s"""WITH after_snap AS (${q225Sql.replace("ORDER BY key", "")}),
       |b AS (SELECT c_custkey AS key, c_acctbal AS old_bal FROM customer),
       |diff AS (
       |  SELECT COALESCE(b.key, a.key) AS key,
       |    CASE WHEN b.key IS NULL THEN 'I'
       |         WHEN a.key IS NULL THEN 'D'
       |         WHEN b.old_bal <> a.bal THEN 'U' END AS op,
       |    ${sqlR2("b.old_bal")} AS old_bal, ${sqlR2("a.bal")} AS new_bal
       |  FROM b FULL JOIN after_snap a ON b.key = a.key)
       |SELECT key, op, old_bal, new_bal FROM diff
       |WHERE op IS NOT NULL ORDER BY key""".stripMargin

  // ------------------------------------------------------------------
  // q242 — incremental aggregate maintenance (materialized-view delta)
  // ------------------------------------------------------------------

  /** q242 — algebraic materialized-view maintenance: a per-segment
    * revenue aggregate built over the historical partition is updated
    * with ONLY the new day's delta rows — partial aggregates merge
    * (sums add, counts add) without rescanning history, the property
    * that makes a 100 TB rolling aggregate affordable (the daily
    * update touches one day, not the table). The oracle states the
    * full recompute over everything, so the hash match PROVES
    * base ⊕ delta ≡ recompute — the correctness condition of every
    * incremental view engine (and the reason only algebraic
    * aggregates — sum/count/min/max — maintain this way; medians
    * don't decompose).
    *
    * Split rule: both engines split history/delta on the same date
    * literal, so the derivation is deterministic. Money rides exact
    * cents; the merged mean divides once at the end. */
  def q242(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = "1998-06-01"
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"), $"o_orderdate",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
    val base = agg(o.filter($"o_orderdate" < to_timestamp(lit(cutoff))))
    val delta = agg(o.filter($"o_orderdate" >= to_timestamp(lit(cutoff))))
    // the maintenance step: merge partials — never rescan history
    base.unionByName(delta)
      .groupBy($"segment")
      .agg(sum($"n").cast("long").as("n_orders"),
        sum($"cents").cast("long").as("total_cents"))
      .select($"segment", $"n_orders", $"total_cents",
        r4($"total_cents" / ($"n_orders" * 100L)).as("mean_price"))
      .orderBy($"segment")
  }

  val q242Sql: String =
    s"""SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS total_cents,
       |  ${sqlR4("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / (count(*) * 100)")}
       |    AS mean_price
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q461 — partition-key advisor (the DPP companion)
  // ------------------------------------------------------------------

  /** q461 — partition-KEY selection advisor: for each candidate
    * partition column of the line fact (ship day, ship month, return
    * flag, supplier), the numbers that decide whether q450-style
    * dynamic partition pruning will ever pay off on that layout —
    * partition count, row balance (max/uniform skew ratio), the scan
    * fraction a pruned point probe reads, and the small-partition
    * count (the q219 small-file problem a too-fine key creates). The
    * trade is explicit in the output: `day` prunes hardest but
    * fragments worst; `returnflag` never fragments but a probe still
    * reads a third of the table. Complements q219 (file packing
    * WITHIN a chosen layout), q220 (zone-map stats within files) and
    * q228 (training-shard balance): this picks the DIRECTORY key.
    *
    * Scale shape: one scan fans each row into 4 (key, value) pairs
    * (map + explode, no UDF), one (key, value) aggregate collapses to
    * the layout-manifest relation, one per-key rollup on the 4-row
    * key domain; all ratios are truncating micro-divisions of exact
    * counts. */
  def q461(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kv = Tables.lineitem(s, d).select(
      explode(map(
        lit("day"), epochDay($"l_shipdate").cast("long").cast("string"),
        lit("month"),
        (year($"l_shipdate") * 100 + month($"l_shipdate")).cast("string"),
        lit("returnflag"), $"l_returnflag",
        lit("supplier"), $"l_suppkey".cast("string")))
        .as(Seq("part_key", "part_value")))
    kv.groupBy($"part_key", $"part_value")
      .agg(count(lit(1)).as("rows"))
      .groupBy($"part_key")
      .agg(count(lit(1)).as("n_parts"), sum($"rows").as("total_rows"),
        max($"rows").as("max_part_rows"),
        sum(when($"rows" < 100L, 1L).otherwise(0L)).as("small_parts"))
      .select($"part_key", $"n_parts", $"total_rows", $"max_part_rows",
        expr("(total_rows * 1000000) div n_parts").as("avg_rows_micro"),
        expr("(max_part_rows * n_parts * 1000000) div total_rows")
          .as("skew_micro"),
        expr("1000000 div n_parts").as("point_scan_micro"),
        $"small_parts")
      .orderBy($"part_key")
  }

  val q461Sql: String = {
    def cand(name: String, e: String) =
      s"""SELECT '$name' AS part_key, $e AS part_value
         |  FROM lineitem""".stripMargin
    s"""WITH kv AS (
       |  ${cand("day", "CAST(CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS VARCHAR)")}
       |  UNION ALL
       |  ${cand("month", "CAST(year(l_shipdate)*100 + month(l_shipdate) AS VARCHAR)")}
       |  UNION ALL
       |  ${cand("returnflag", "l_returnflag")}
       |  UNION ALL
       |  ${cand("supplier", "CAST(l_suppkey AS VARCHAR)")}),
       |manifest AS (
       |  SELECT part_key, part_value, CAST(count(*) AS BIGINT) AS rows
       |  FROM kv GROUP BY 1, 2),
       |rollup AS (
       |  SELECT part_key, CAST(count(*) AS BIGINT) AS n_parts,
       |    CAST(sum(rows) AS BIGINT) AS total_rows,
       |    CAST(max(rows) AS BIGINT) AS max_part_rows,
       |    CAST(sum(CASE WHEN rows < 100 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS small_parts
       |  FROM manifest GROUP BY 1)
       |SELECT part_key, n_parts, total_rows, max_part_rows,
       |  (total_rows * 1000000) // n_parts AS avg_rows_micro,
       |  (max_part_rows * n_parts * 1000000) // total_rows AS skew_micro,
       |  1000000 // n_parts AS point_scan_micro,
       |  small_parts
       |FROM rollup ORDER BY part_key""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q242_incremental_agg", q242, Some(q242Sql)),
    QueryDef("q461_partition_advisor", q461, Some(q461Sql)),
    QueryDef("q219_compaction_plan", q219, Some(q219Sql)),
    QueryDef("q220_zonemap_audit", q220, Some(q220Sql)),
    QueryDef("q225_cdc_merge", q225, Some(q225Sql), bench = true),
    QueryDef("q233_cdc_extract", q233, Some(q233Sql)))
}
