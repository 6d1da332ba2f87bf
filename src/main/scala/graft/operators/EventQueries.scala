package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics in batch form (the streaming variants live in
  * graft.streaming and share the same column logic — `Trigger
  * .AvailableNow` over the same source gives identical results).
  */
object EventQueries {
  import Fx._

  /** Gap-based sessionization (30-min inactivity): per-user session
    * counts. Timestamps compared at µs precision on both engines. */
  def q70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts", unix_micros($"ts").as("us"))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("new_sess",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800L * 1000000L, 1).otherwise(0))
      .groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val q70Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us, us
      |  FROM e),
      |s AS (
      |  SELECT user_id,
      |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM g)
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join: each purchase matched to the user's most recent
    * prior-or-equal view event. */
  def q71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"event_type")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"event_id".as("purchase_id"))
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"us", $"event_id")
      .withColumn("view_id", $"event_id").withColumn("view_us", $"us")
    AsOf.asofJoin(
      purchases.withColumnRenamed("purchase_id", "event_id"),
      views, key = "user_id", ts = "us", idCol = "event_id",
      valueCols = Seq("view_id", "view_us"))
      .select($"user_id", $"event_id".as("purchase_id"),
        $"asof_view_id".as("view_id"),
        ($"us" - $"asof_view_us").as("gap_us"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q71Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |u AS (
      |  SELECT user_id, us, event_id AS oid, 1 AS side, event_id AS purchase_id,
      |         NULL::BIGINT AS view_id, NULL::BIGINT AS view_us
      |  FROM e WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, us, event_id, 0, NULL, event_id, us
      |  FROM e WHERE event_type = 'view'),
      |w AS (
      |  SELECT user_id, us, side, purchase_id,
      |    last_value(view_id IGNORE NULLS) OVER win AS m_view,
      |    last_value(view_us IGNORE NULLS) OVER win AS m_us
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY us, side, oid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, purchase_id, m_view AS view_id, us - m_us AS gap_us
      |FROM w WHERE side = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** q158 — q71's as-of join under a 30-minute tolerance (pandas
    * merge_asof(tolerance=...) semantics): a prior view older than the
    * window is NOT a match — attribution systems need the "recent
    * enough" qualifier, not just "most recent ever". Same
    * single-shuffle union+window plan; the tolerance is a post-window
    * column mask. */
  def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tolUs = 1800000000L // 30 min in µs
    val e = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"event_type")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"event_id")
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"us", $"event_id")
      .withColumn("view_id", $"event_id").withColumn("view_us", $"us")
    AsOf.asofJoinTolerance(
      purchases, views, key = "user_id", ts = "us", idCol = "event_id",
      valueCols = Seq("view_id", "view_us"), tolerance = lit(tolUs))
      .select($"user_id", $"event_id".as("purchase_id"),
        $"asof_view_id".as("view_id"),
        ($"us" - $"asof_view_us").as("gap_us"),
        $"asof_matched".as("matched"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q158Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |u AS (
      |  SELECT user_id, us, event_id AS oid, 1 AS side, event_id AS purchase_id,
      |         NULL::BIGINT AS view_id, NULL::BIGINT AS view_us
      |  FROM e WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, us, event_id, 0, NULL, event_id, us
      |  FROM e WHERE event_type = 'view'),
      |w AS (
      |  SELECT user_id, us, side, purchase_id,
      |    last_value(view_id IGNORE NULLS) OVER win AS m_view,
      |    last_value(view_us IGNORE NULLS) OVER win AS m_us
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY us, side, oid
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, purchase_id,
      |  CASE WHEN m_us >= us - 1800000000 THEN m_view END AS view_id,
      |  CASE WHEN m_us >= us - 1800000000 THEN us - m_us END AS gap_us,
      |  CAST(COALESCE(m_us >= us - 1800000000, FALSE) AS INT) AS matched
      |FROM w WHERE side = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** q206 — q71's attribution as-of join in NEAREST direction (pandas
    * merge_asof(direction='nearest')): each purchase matches the view
    * minimizing |Δt| in either direction, equidistant → backward (the
    * pandas tie rule). One shuffle and ONE sort: both direction frames
    * ride the same sorted partition ([[AsOf.asofJoinNearest]]). */
  def q206(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"event_type")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"event_id")
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"us", $"event_id")
      .withColumn("view_id", $"event_id")
    AsOf.asofJoinNearest(
      purchases, views, key = "user_id", ts = "us", idCol = "event_id",
      valueCols = Seq("view_id"))
      .select($"user_id", $"event_id".as("purchase_id"),
        $"asof_view_id".as("view_id"), $"asof_dist".as("dist_us"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q206Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |u AS (
      |  SELECT user_id, us, event_id AS oid, 1 AS side, event_id AS purchase_id,
      |         NULL::BIGINT AS view_id
      |  FROM e WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, us, event_id, 0, NULL, event_id
      |  FROM e WHERE event_type = 'view'),
      |w AS (
      |  SELECT user_id, us, side, purchase_id,
      |    last_value(view_id IGNORE NULLS) OVER wb AS b_id,
      |    last_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER wb AS b_us,
      |    first_value(view_id IGNORE NULLS) OVER wf AS f_id,
      |    first_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER wf AS f_us
      |  FROM u
      |  WINDOW wb AS (PARTITION BY user_id ORDER BY us, side, oid
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY user_id ORDER BY us, side, oid
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, purchase_id,
      |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR us - b_us <= f_us - us)
      |       THEN b_id ELSE f_id END AS view_id,
      |  CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR us - b_us <= f_us - us)
      |       THEN us - b_us ELSE f_us - us END AS dist_us
      |FROM w WHERE side = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** q161 — clickstream path mining: the 20 most common 3-step
    * event-type sequences across user timelines (the "what do users
    * do next" query every product-analytics pipeline runs). Two leads
    * over one per-user window — a single shuffle on user_id; the
    * global top-20 compiles to TakeOrderedAndProject (no full sort).
    * Ordering inside a timeline is total ((us, event_id) unique), so
    * the path strings are cross-engine identical. */
  def q161(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    e.withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e3".isNotNull)
      .select(concat_ws(">", $"event_type", $"e2", $"e3").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  val q161Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER win AS e2,
      |    lead(event_type, 2) OVER win AS e3
      |  FROM e
      |  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id))
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM t WHERE e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** q163 — IQR (Tukey-fence) outlier detection per event type:
    * nearest-rank quartiles of `value` (integer rank selection — no
    * interpolated doubles, the q155 discipline), fences at 1.5×IQR,
    * outlier counts and rate. The fence arithmetic runs on the two
    * SELECTED doubles with identical expressions both engines — IEEE
    * identical. Complements q132's z-score flags (z assumes a normal
    * bulk; Tukey fences don't).
    *
    * Scale shape: the within-type ranks ride [[Ranking.groupRanks]]
    * (range-repartition + Tungsten ordinal) instead of a
    * `row_number() OVER (PARTITION BY event_type)` window — ~10 event
    * types would funnel the whole history through ten tasks at 100 TB.
    * Group sizes are a bounded aggregate broadcast back. The oracle
    * keeps the window form: ties in `value` are broken by `event_id`
    * in the total order, but the VALUE selected at a given rank is
    * tie-order-independent, so the two forms agree row for row. */
  def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", $"event_id", $"value")
    val ranked = Ranking.groupRanks(e, Seq("event_type"), 8,
      $"value".asc, $"event_id".asc)
    val ns = e.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .withColumnRenamed("event_type", "__net")
    val th = ranked.join(broadcast(ns), $"event_type" <=> $"__net")
      .groupBy($"event_type").agg(
        min(when($"rank" === ceil($"n" * 0.25), $"value")).as("q1"),
        min(when($"rank" === ceil($"n" * 0.75), $"value")).as("q3"))
    e.join(broadcast(th), "event_type")
      .withColumn("lo", $"q1" - ($"q3" - $"q1") * 1.5)
      .withColumn("hi", $"q3" + ($"q3" - $"q1") * 1.5)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min(r6($"lo")).as("fence_lo"), min(r6($"hi")).as("fence_hi"),
        sum(when($"value" < $"lo" || $"value" > $"hi", 1L).otherwise(0L))
          .as("n_outliers"))
      .select($"event_type", $"n_events", $"fence_lo", $"fence_hi",
        $"n_outliers",
        r6($"n_outliers".cast("double") / $"n_events").as("outlier_rate"))
      .orderBy($"event_type")
  }

  val q163Sql: String =
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |th AS (
       |  SELECT event_type,
       |    min(CASE WHEN rn = ceil(n * 0.25) THEN value END) AS q1,
       |    min(CASE WHEN rn = ceil(n * 0.75) THEN value END) AS q3
       |  FROM ranked GROUP BY event_type),
       |f AS (
       |  SELECT e.event_type, value,
       |    q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
       |  FROM events e JOIN th ON e.event_type = th.event_type)
       |SELECT event_type, count(*) AS n_events,
       |  ${sqlR6("min(lo)")} AS fence_lo, ${sqlR6("min(hi)")} AS fence_hi,
       |  CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |  ${sqlR6("sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS outlier_rate
       |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bounded range join: views within 30 min before each purchase,
    * per user (bucketized equi-join — see operators.RangeJoin). */
  def q73(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"event_type")
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"us".as("p_us"))
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"us".as("v_us"))
    RangeJoin.timeRange(purchases, views, "user_id", "p_us", "v_us",
        windowMicros = 1800L * 1000000L)
      .groupBy($"user_id", $"purchase_id")
      .agg(count(lit(1)).as("n_views_30m"), min($"view_id").as("first_view"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q73Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, event_id AS view_id, us AS v_us FROM e WHERE event_type = 'view')
      |SELECT p.user_id, purchase_id, count(*) AS n_views_30m, min(view_id) AS first_view
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v_us >= p_us - 1800000000 AND v_us <= p_us
      |GROUP BY p.user_id, purchase_id
      |ORDER BY p.user_id, purchase_id""".stripMargin

  /** q104 — conversion funnel (view → click → purchase) in a SINGLE
    * shuffle: events are collected sorted per user, then a
    * higher-order `aggregate` fold walks each timeline once, recording
    * every stage's first-completion time. The conventional form costs
    * one conditional-agg + join-back PER STAGE (a shuffle per funnel
    * step); this is one shuffle at any funnel depth, and the per-user
    * array is bounded by that user's own activity. The oracle states
    * the same semantics order-free: t2 = min click time strictly after
    * t1 (sorted processing makes the fold and the min coincide). */
  def q104(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_type")
    val zero = struct(
      lit(null).cast("long").as("t1"),
      lit(null).cast("long").as("t2"),
      lit(null).cast("long").as("t3"))
    ev.groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"us", $"event_type"))).as("evs"))
      .select($"user_id", aggregate($"evs", zero, (acc, e) => struct(
        when(acc("t1").isNull && e("event_type") === "view", e("us"))
          .otherwise(acc("t1")).as("t1"),
        when(acc("t2").isNull && acc("t1").isNotNull &&
            e("event_type") === "click" && e("us") > acc("t1"), e("us"))
          .otherwise(acc("t2")).as("t2"),
        when(acc("t3").isNull && acc("t2").isNotNull &&
            e("event_type") === "purchase" && e("us") > acc("t2"), e("us"))
          .otherwise(acc("t3")).as("t3"))).as("f"))
      .select($"user_id", $"f.t1".as("t1_us"), $"f.t2".as("t2_us"), $"f.t3".as("t3_us"),
        (when($"f.t1".isNotNull, 1).otherwise(0) +
          when($"f.t2".isNotNull, 1).otherwise(0) +
          when($"f.t3".isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy($"user_id")
  }

  val q104Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |f1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t1
      |       FROM e GROUP BY user_id),
      |f2 AS (SELECT f1.user_id, f1.t1,
      |         min(CASE WHEN e.event_type = 'click' AND e.us > f1.t1 THEN e.us END) AS t2
      |       FROM f1 LEFT JOIN e ON e.user_id = f1.user_id GROUP BY f1.user_id, f1.t1),
      |f3 AS (SELECT f2.user_id, f2.t1, f2.t2,
      |         min(CASE WHEN e.event_type = 'purchase' AND e.us > f2.t2 THEN e.us END) AS t3
      |       FROM f2 LEFT JOIN e ON e.user_id = f2.user_id GROUP BY f2.user_id, f2.t1, f2.t2)
      |SELECT user_id, t1 AS t1_us, t2 AS t2_us, t3 AS t3_us,
      |  CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
      |     + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |     + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
      |FROM f3 ORDER BY user_id""".stripMargin

  /** q105 — weekly cohort retention: users bucketed by first-activity
    * week, activity counted per (cohort, week offset). Both engines
    * truncate weeks to Monday; offsets are exact multiples of 7 days
    * so the division is lossless. */
  def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
    val first = e.groupBy($"user_id").agg(min($"wk").as("cohort"))
    e.join(first, "user_id")
      .groupBy($"cohort".cast("date").as("cohort_week"),
        (datediff($"wk", $"cohort") / 7).cast("int").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q105Sql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id)
      |SELECT CAST(f.cohort AS DATE) AS cohort_week,
      |  CAST(date_diff('day', f.cohort, e.wk) // 7 AS INT) AS week_offset,
      |  count(DISTINCT e.user_id) AS n_active
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** q273 — cohort LTV curves: q105's retention grid with MONEY on it.
    * Users cohort by first-event week; per (cohort, week offset) the
    * purchase revenue lands in exact cents, accumulates into the
    * running lifetime value of the cohort, and normalizes to
    * LTV-per-cohort-member in exact micro-cents (integer division by
    * the fixed cohort size — the number marketing actually plots and
    * compares against acquisition cost). Cumulative windows run only
    * over the bounded (cohort × offset) grid after the collapse; the
    * per-cohort sizes join from a bounded aggregate. */
  def q273(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").as("wk"),
        when($"event_type" === "purchase", floor($"value" * 100))
          .otherwise(0L).cast("long").as("cents"))
    val first = e.groupBy($"user_id").agg(min($"wk").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(countDistinct($"user_id").as("cohort_size"))
    val grid = e.join(first, "user_id")
      .groupBy($"cohort",
        (datediff($"wk", $"cohort") / 7).cast("int").as("week_offset"))
      .agg(sum($"cents").as("rev_cents"))
    val wCum = Window.partitionBy($"cohort").orderBy($"week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_cents", sum($"rev_cents").over(wCum).cast("long"))
      .join(sizes, "cohort")
      .select($"cohort".cast("date").as("cohort_week"), $"week_offset",
        $"rev_cents".cast("long").as("rev_cents"), $"cum_cents",
        $"cohort_size",
        expr("(cum_cents * 1000000) div cohort_size").as("ltv_per_user_micro"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q273Sql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END AS cents
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
      |sz AS (SELECT cohort, count(DISTINCT user_id) AS cohort_size FROM f GROUP BY 1),
      |grid AS (
      |  SELECT f.cohort, CAST(date_diff('day', f.cohort, e.wk) // 7 AS INT) AS week_offset,
      |    CAST(sum(e.cents) AS BIGINT) AS rev_cents
      |  FROM e JOIN f ON e.user_id = f.user_id
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT cohort, week_offset, rev_cents,
      |    CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY week_offset
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |  FROM grid)
      |SELECT CAST(c.cohort AS DATE) AS cohort_week, week_offset, rev_cents,
      |  cum_cents, CAST(sz.cohort_size AS BIGINT) AS cohort_size,
      |  CAST((CAST(cum_cents AS HUGEINT) * 1000000) // sz.cohort_size AS BIGINT) AS ltv_per_user_micro
      |FROM c JOIN sz ON c.cohort = sz.cohort
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q274 — Theil–Sen robust trend per event type: the median of all
    * pairwise slopes (yⱼ−yᵢ)/(dayⱼ−dayᵢ) over the daily volume
    * series — the estimator that shrugs off the outlier days OLS
    * (q172) chases. The slope domain is rational; rather than trust
    * cross-engine rational ordering, both engines order the pair grid
    * by the IEEE quotient dy/dx (two exact integers → one correctly
    * rounded division, bit-identical) with (dy, dx) integer
    * tie-breaks, and nearest-rank-select the lower median (the q155
    * discipline). The emitted slope is the selected pair's exact
    * (dy, dx) plus its r6-fixed quotient.
    *
    * Scale shape: the corpus collapses to the bounded (type × day)
    * grid in ONE aggregate; the O(days²) pair join and its rank
    * window run entirely on that calendar-bounded grid (~types ×
    * days²/2 rows — a constant in data volume), so 100× more events
    * changes only the first aggregate. The self-join consumes one
    * materialized frame twice. */
  def q274(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .groupBy($"event_type", epochDay($"ts").as("day"))
      .agg(count(lit(1)).as("y"))
      .transform(Fx.materialize)
    val a = daily.select($"event_type", $"day".as("d1"), $"y".as("y1"))
    val b = daily.select($"event_type".as("__et"), $"day".as("d2"), $"y".as("y2"))
    val pairs = a.join(b, $"event_type" === $"__et" && $"d1" < $"d2")
      .select($"event_type", ($"y2" - $"y1").as("dy"),
        ($"d2" - $"d1").cast("long").as("dx"))
      .withColumn("slope", $"dy".cast("double") / $"dx")
    val ranked = pairs.withColumn("rk",
        row_number().over(Window.partitionBy($"event_type")
          .orderBy($"slope", $"dy", $"dx")))
      .withColumn("n_pairs",
        count(lit(1)).over(Window.partitionBy($"event_type")))
    val nd = daily.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
      .withColumnRenamed("event_type", "__ndt")
    ranked.filter($"rk" === ceil($"n_pairs" * 0.5))
      .join(broadcast(nd), $"event_type" === $"__ndt")
      .select($"event_type", $"n_days", $"n_pairs".cast("long").as("n_pairs"),
        $"dy".as("med_dy"), $"dx".as("med_dx"),
        r6($"slope").as("slope_per_day"))
      .orderBy($"event_type")
  }

  val q274Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, b.y - a.y AS dy, CAST(b.day - a.day AS BIGINT) AS dx,
      |    CAST(b.y - a.y AS DOUBLE) / (b.day - a.day) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |r AS (
      |  SELECT event_type, dy, dx, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope, dy, dx) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n_pairs
      |  FROM p),
      |nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
      |SELECT r.event_type, nd.n_days, CAST(r.n_pairs AS BIGINT) AS n_pairs,
      |  r.dy AS med_dy, r.dx AS med_dx,
      |  floor(r.slope * 1000000 + 0.5) / 1000000 AS slope_per_day
      |FROM r JOIN nd ON r.event_type = nd.event_type
      |WHERE r.rk = CAST(ceil(r.n_pairs * 0.5) AS BIGINT)
      |ORDER BY r.event_type""".stripMargin

  /** q108 — Spark's native `session_window` (gap-merged event-time
    * sessions as a first-class grouping column, the built-in form of
    * q70's manual lag/flag sessionization; also valid in streaming
    * with watermark-based closing). Session end = last event + gap by
    * definition; the oracle rebuilds the same sessions with the
    * lag/cumsum technique. */
  def q108(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"),
        $"n_events")
      .orderBy($"user_id", $"start_us")
  }

  val q108Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |g AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id, us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g)
      |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** q109 — triangle counting on the user co-activity graph (users
    * active in the same calendar hour are connected, per-hour activity
    * capped by the shared [[GraphQueries.coactivityEdges]] builder —
    * the bottom-k-by-md5 sample that keeps edge-build work O(hours ×
    * cap²) instead of quadratic in users-per-hour). Classic
    * distributed graph shape: the ordered edge list (a < b) joins to
    * itself twice, and the a < b < c orientation counts every triangle
    * exactly once instead of six times — the standard trick that also
    * bounds the join's intermediate size. */
  def q109(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = GraphQueries.coactivityEdges(s, d)
      .transform(graft.Fx.materialize) // three triangle probes + degrees
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.b" === $"e2.a")
      .join(edges.as("e3"), $"e2.b" === $"e3.b" && $"e1.a" === $"e3.a")
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select($"a".as("u")).union(edges.select($"b".as("u")))
      .groupBy($"u").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_vertices"), max($"d").as("max_degree"))
    tri.crossJoin(deg)
  }

  val q109Sql: String =
    s"""WITH ${GraphQueries.coactivitySqlCtes("edges", materialized = true)},
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b = e2.a
      |  JOIN edges e3 ON e2.b = e3.b AND e1.a = e3.a),
      |deg AS (
      |  SELECT count(*) AS n_vertices, max(d) AS max_degree FROM (
      |    SELECT u, count(*) AS d FROM (
      |      SELECT a AS u FROM edges UNION ALL SELECT b AS u FROM edges) t
      |    GROUP BY u) g)
      |SELECT n_triangles, n_vertices, CAST(max_degree AS BIGINT) AS max_degree
      |FROM tri CROSS JOIN deg""".stripMargin

  /** q110 — running distinct users per day: exact cumulative uniques
    * via a first-seen flag + running sum (the distributed form — a
    * naive count(DISTINCT) over an expanding window re-scans history
    * per day; the flag form is one shuffle + a 30-row window). */
  def q110(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstSeen = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(min(to_date($"ts")).as("first_day"))
      .groupBy($"first_day").agg(count(lit(1)).as("new_users"))
    val daily = Tables.events(s, d)
      .groupBy(to_date($"ts").as("day"))
      .agg(countDistinct($"user_id").as("dau"), count(lit(1)).as("n_events"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, $"day" === $"first_day", "left")
      .select($"day", $"dau", $"n_events", coalesce($"new_users", lit(0L)).as("new_users"))
      .withColumn("cum_users", sum($"new_users").over(w))
      .orderBy($"day")
  }

  val q110Sql: String =
    """WITH fs AS (
      |  SELECT first_day, count(*) AS new_users FROM (
      |    SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
      |    FROM events GROUP BY user_id) u
      |  GROUP BY first_day),
      |daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    count(DISTINCT user_id) AS dau, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT day, dau, n_events,
      |  CAST(COALESCE(fs.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(sum(COALESCE(fs.new_users, 0)) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM daily LEFT JOIN fs ON day = fs.first_day
      |ORDER BY day""".stripMargin

  /** q132 — hourly anomaly detection: z-score of each hour's event
    * count against the global mean/stddev, flagging |z| > 2. The
    * stats are a 1-row broadcast back over the hourly aggregate (two
    * passes over ~thousands of post-agg rows, not the raw events).
    * stddev_samp is the one non-grid aggregate trusted here — same
    * precedent as q25 (r4 absorbs the engines' accumulation-order
    * ulps). */
  /** z-score outlier core of q132, factored so the degenerate case is
    * directly spec-testable: flags rows of (key, n) whose |z| exceeds
    * the threshold against the GLOBAL mean/stddev. The σ > 0 guard is
    * load-bearing cross-engine semantics: on degenerate data (all
    * values equal) Spark's n/0 is NaN (predicate false) while DuckDB
    * sorts NaN above all values (predicate true) — so the filter runs
    * BEFORE the division in both mirrors, and the all-equal fixture
    * flags nothing by construction (spec-pinned). */
  def zscoreFlags(counts: DataFrame, keyCol: String, z: Double): DataFrame = {
    val stats = counts.agg(avg(col("n")).as("mu"),
      stddev_samp(col("n")).as("sigma"))
    counts.crossJoin(broadcast(stats))
      .filter(col("sigma") > 0.0)
      .withColumn("z", (col("n") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > z)
      .select(col(keyCol), col("n").cast("long").as("n_events"),
        Fx.r4(col("z")).as("z"))
      .orderBy(col(keyCol))
  }

  def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hours = Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).cast("double").as("n"))
    zscoreFlags(hours, "hour", z = 2.0)
  }

  val q132Sql: String =
    s"""WITH hours AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    CAST(count(*) AS DOUBLE) AS n
       |  FROM events GROUP BY 1),
       |stats AS (SELECT avg(n) AS mu, stddev_samp(n) AS sigma FROM hours)
       |SELECT hour, CAST(n AS BIGINT) AS n_events,
       |  ${sqlR4("(n - mu) / sigma")} AS z
       |FROM hours CROSS JOIN stats
       |WHERE sigma > 0 AND abs((n - mu) / sigma) > 2.0
       |ORDER BY hour""".stripMargin

  /** q172 — grouped OLS trend (closed-form slope of hourly event
    * volume per event type). Determinism by construction: x (hour
    * index, globally min-offset) and y (hourly count) are INTEGERS, so
    * Σx, Σy, Σxy, Σx² accumulate exactly as longs — no double
    * summation order anywhere — and the one slope division at the end
    * is correctly-rounded IEEE on identical operands. The pattern
    * generalizes: any per-group regression over counts/grid metrics
    * can ride integer moment sums. */
  def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hours = Tables.events(s, d)
      .groupBy($"event_type",
        (unix_timestamp(date_trunc("hour", $"ts")) / 3600L).cast("long").as("eh"))
      .agg(count(lit(1)).as("y"))
    val minEh = hours.agg(min($"eh").as("min_eh"))
    val moments = hours.crossJoin(broadcast(minEh))
      .select($"event_type", ($"eh" - $"min_eh").as("x"), $"y")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("k"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    moments
      .filter($"k" * $"sxx" - $"sx" * $"sx" =!= 0)
      .select($"event_type", $"k",
        r6(($"k" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"k" * $"sxx" - $"sx" * $"sx")).as("slope"))
      .orderBy($"event_type")
  }

  val q172Sql: String =
    s"""WITH hours AS (
       |  SELECT event_type,
       |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh,
       |    count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |moments AS (
       |  SELECT event_type, count(*) AS k,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM (SELECT event_type, eh - (SELECT min(eh) FROM hours) AS x, y
       |        FROM hours) t
       |  GROUP BY 1)
       |SELECT event_type, k,
       |  ${sqlR6("CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx)")} AS slope
       |FROM moments
       |WHERE k * sxx - sx * sx <> 0
       |ORDER BY event_type""".stripMargin

  /** q185 — recency-decayed event scores on a power-of-two grid: each
    * event contributes 2^(−age_days/halflife) to its type's score.
    * The decay exponent is an INTEGER (whole days / 2-day halflife,
    * capped at 40), so the scaled weight 2^(40−k) is an exact BIGINT,
    * the per-type accumulation is an exact integer sum — no double
    * summation order anywhere — and the final 2^-40 rescale is one
    * exact dyadic division. This is the determinism-safe shape of the
    * exponential-decay aggregate (a general e^{−λΔt} is a libm
    * transcendental with no cross-engine guarantee). Age anchors to
    * max(ts) over the table (1-row broadcast), truncated to whole
    * seconds before the day divide so both engines bucket
    * identically. */
  def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"ts")
    val anchored = ev
      .crossJoin(broadcast(ev.agg(max(unix_micros($"ts")).as("max_us"))))
      .withColumn("age_days",
        expr("(max_us - unix_micros(ts)) div 86400000000"))
      .withColumn("k", expr("least(age_days div 2, 40L)"))
      .withColumn("w", pow(lit(2.0), lit(40L) - $"k").cast("long"))
    anchored.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"w").as("w_sum"))
      .select($"event_type", $"n_events",
        r6($"w_sum" / lit(1099511627776.0)).as("decayed_score"))
      .orderBy($"event_type")
  }

  val q185Sql: String =
    s"""WITH anchor AS (
       |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events),
       |w AS (
       |  SELECT event_type,
       |    CAST(pow(2, 40 - least(
       |      ((max_us - epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000) // 2,
       |      40)) AS BIGINT) AS w
       |  FROM events CROSS JOIN anchor)
       |SELECT event_type, count(*) AS n_events,
       |  ${sqlR6("CAST(sum(w) AS BIGINT) / 1099511627776.0::DOUBLE")} AS decayed_score
       |FROM w GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q188 — first/last-touch purchase attribution: every purchase is
    * credited to the user's earliest non-purchase event (first touch)
    * and the latest one strictly before it (last touch), then revenue
    * rolls up by the (first, last) channel pair. The carry is one
    * IGNORE-NULLS window per direction over (ts, event_id) total order
    * — a single shuffle by user, no self-join back onto the timeline,
    * no per-purchase re-scan. Purchases with no prior touch are
    * EXCLUDED (stated; a 'none' bucket is the one-line variant). */
  def q188(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val touch = when($"event_type" =!= "purchase", $"event_type")
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts"), $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" && $"first_touch".isNotNull)
      .groupBy($"first_touch", $"last_touch")
      .agg(count(lit(1)).as("n_purchases"), moneySum($"value").as("total_value"))
      .orderBy($"first_touch", $"last_touch")
  }

  val q188Sql: String = {
    val touch = "CASE WHEN event_type <> 'purchase' THEN event_type END"
    val frame = "OVER (PARTITION BY user_id ORDER BY us, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |t AS (
       |  SELECT *,
       |    first_value($touch IGNORE NULLS) $frame AS first_touch,
       |    last_value($touch IGNORE NULLS) $frame AS last_touch
       |  FROM e)
       |SELECT first_touch, last_touch, count(*) AS n_purchases,
       |  ${sqlMoneySum("value")} AS total_value
       |FROM t WHERE event_type = 'purchase' AND first_touch IS NOT NULL
       |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin
  }

  /** q259 — multi-touch attribution (linear + U-shaped), the
    * position-credit models between q188's all-to-first/last
    * extremes: every purchase splits one unit of credit (and its
    * revenue) across ALL the user's non-purchase touches in the 72 h
    * lookback. Credit stays exact: shares are micro-units
    * (integer div), with the division remainder assigned to the last
    * touch so every attributed purchase's shares sum to EXACTLY 10⁶ —
    * the conservation law the oracle re-derives. U-shaped gives 40 %
    * to first and last touch and splits 20 % over the middles (the
    * standard position model; n = 1 → 100 %, n = 2 → 50/50). Revenue
    * credit multiplies exact cent values by the micro-share into
    * DECIMAL(38,0)/HUGEINT micro-cents. Purchases with no touch in
    * the window are excluded (q188's stated rule).
    *
    * Scale shape: one user-keyed equi-join purchases⋈touches with the
    * lookback band as a residual predicate (per-user fanout bounded
    * by activity × horizon, the q197 discipline), position/count
    * windows partitioned by the HIGH-cardinality purchase id, then a
    * bounded groupBy channel. */
  def q259(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val lookbackUs = 72L * 3600L * 1000000L
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("us"), $"value")
    val purch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_eid"), $"us".as("p_us"),
        floor($"value" * 100).cast("long").as("cents"))
    val touch = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_id".as("t_eid"), $"us".as("t_us"),
        $"event_type".as("channel"))
    val pairs = purch.join(touch, "user_id")
      .filter($"t_us" < $"p_us" && $"p_us" - $"t_us" <= lookbackUs)
    val wPos = Window.partitionBy($"p_eid").orderBy($"t_us", $"t_eid")
    val wN = Window.partitionBy($"p_eid")
    val positioned = pairs
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    positioned
      // `div`, not `/`+trunc: exact integral division (q249 discipline)
      .withColumn("lin", expr(
        "CAST(1000000 div n + CASE WHEN pos = n THEN 1000000 % n ELSE 0 END AS BIGINT)"))
      .withColumn("ush", expr(
        """CAST(CASE WHEN n = 1 THEN 1000000
          |     WHEN n = 2 THEN 500000
          |     WHEN pos = 1 OR pos = n THEN 400000
          |     ELSE 200000 div (n - 2)
          |       + CASE WHEN pos = n - 1 THEN 200000 % (n - 2) ELSE 0 END
          |END AS BIGINT)""".stripMargin))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_touchpoints"),
        sum($"lin").cast("long").as("linear_micro"),
        sum($"ush").cast("long").as("ushape_micro"),
        // accumulate in DECIMAL38 for headroom, emit BIGINT (house rule)
        sum(d38($"cents") * d38($"lin")).cast("long")
          .as("linear_rev_microcents"),
        sum(d38($"cents") * d38($"ush")).cast("long")
          .as("ushape_rev_microcents"))
      .orderBy($"channel")
  }

  val q259Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |p AS (
      |  SELECT user_id, event_id AS p_eid, us AS p_us,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM e WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, event_id AS t_eid, us AS t_us, event_type AS channel
      |  FROM e WHERE event_type <> 'purchase'),
      |pairs AS (
      |  SELECT p.p_eid, p.cents, t.channel, t.t_us, t.t_eid
      |  FROM p JOIN t ON p.user_id = t.user_id
      |  WHERE t.t_us < p.p_us AND p.p_us - t.t_us <= 259200000000),
      |pos AS (
      |  SELECT p_eid, cents, channel,
      |    row_number() OVER (PARTITION BY p_eid ORDER BY t_us, t_eid) AS pos,
      |    count(*) OVER (PARTITION BY p_eid) AS n
      |  FROM pairs),
      |credit AS (
      |  SELECT channel, cents,
      |    1000000 // n + CASE WHEN pos = n THEN 1000000 % n ELSE 0 END AS lin,
      |    CASE WHEN n = 1 THEN 1000000
      |         WHEN n = 2 THEN 500000
      |         WHEN pos = 1 OR pos = n THEN 400000
      |         ELSE 200000 // (n - 2)
      |           + CASE WHEN pos = n - 1 THEN 200000 % (n - 2) ELSE 0 END
      |    END AS ush
      |  FROM pos)
      |SELECT channel, count(*) AS n_touchpoints,
      |  CAST(sum(lin) AS BIGINT) AS linear_micro,
      |  CAST(sum(ush) AS BIGINT) AS ushape_micro,
      |  CAST(sum(CAST(cents AS HUGEINT) * lin) AS BIGINT) AS linear_rev_microcents,
      |  CAST(sum(CAST(cents AS HUGEINT) * ush) AS BIGINT) AS ushape_rev_microcents
      |FROM credit GROUP BY channel
      |ORDER BY channel""".stripMargin

  /** q265 — Markov removal-effect attribution: the DATA-DRIVEN member
    * of the attribution family (q188 first/last, q259 position
    * models): user paths `start → e₁ → … → (purchase | end)`
    * (truncated at the FIRST purchase; non-converters absorb at
    * `end`) define a first-order transition matrix; a channel's value
    * is how much conversion probability disappears when the channel's
    * state is removed (its inbound mass absorbs at `end`) — Anderl et
    * al.'s removal effect, the standard answer to position heuristics
    * being arbitrary.
    *
    * Everything is INTEGER arithmetic end to end: transition
    * probabilities on the 10⁻⁶ grid (`count·10⁶ div total`),
    * absorption probabilities by K = 12 value-iteration steps where
    * each step is Σ(T_micro·v_micro) div 10⁶ — exact BIGINT
    * products, order-independent sums, floor division pinned on both
    * engines (no q91-style rounded-double iteration needed). The one
    * float is the final r6 share of summed removal effects.
    *
    * Scale shape: the corpus-sized work is path extraction (one
    * per-user window) and the (from, to) count — a ≤ 5×6-cell
    * relation at ANY corpus size. The chain solve runs on that
    * metadata-sized matrix (driver-side exact ints, the bounded-map
    * pattern of Ranking/q171); the oracle unrolls the same 12 steps
    * as CTEs over the bounded state set. */
  def q265(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
    val firstP = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(min(struct($"us", $"event_id")).as("fp"))
    val path = ev.join(firstP, Seq("user_id"), "left_outer")
      .filter($"fp".isNull || struct($"us", $"event_id") <= $"fp")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val stepped = path
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead($"event_type", 1).over(w))
    val trans = stepped.filter($"rn" === 1)
      .select(lit("start").as("from_state"), $"event_type".as("to_state"))
      .unionByName(stepped.filter($"nxt".isNotNull)
        .select($"event_type".as("from_state"), $"nxt".as("to_state")))
      .unionByName(stepped
        .filter($"nxt".isNull && $"event_type" =!= "purchase")
        .select($"event_type".as("from_state"), lit("end").as("to_state")))
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("c"))
    // bounded-domain matrix (≤ 5 from-states × 6 to-states at any
    // corpus size) — the same driver-side bounded map Ranking uses
    val cells = trans.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = cells.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val tMicro: Map[(String, String), Long] = cells.map { case ((f, t), c) =>
      (f, t) -> c * 1000000L / totals(f)
    }
    val channels = Seq("click", "error", "signup", "view")
    val states = (Seq("start", "purchase", "end") ++ channels).distinct
    def solve(removed: Option[String]): Long = {
      var v: Map[String, Long] =
        states.map(st => st -> (if (st == "purchase") 1000000L else 0L)).toMap
      for (_ <- 1 to 12) {
        v = states.map { st =>
          st -> (st match {
            case "purchase" => 1000000L
            case "end" => 0L
            case c if removed.contains(c) => 0L
            case f =>
              states.map(t => tMicro.getOrElse((f, t), 0L) * v(t)).sum / 1000000L
          })
        }.toMap
      }
      v("start")
    }
    val base = solve(None)
    val effects = channels.map(c => c -> math.max(0L, base - solve(Some(c))))
    val totalEffect = effects.map(_._2).sum
    val rows = effects.map { case (c, e) =>
      (c, base, base - e, e,
        if (totalEffect == 0L) null
        else java.lang.Double.valueOf(
          math.floor(e.toDouble / totalEffect * 1000000d + 0.5d) / 1000000d))
    }
    s.createDataFrame(rows)
      .toDF("channel", "base_conv_micro", "removed_conv_micro",
        "removal_effect_micro", "effect_share")
      .orderBy($"channel")
  }

  val q265Sql: String = {
    val channels = Seq("click", "error", "signup", "view")
    val states = Seq("start", "purchase", "end") ++ channels
    def stepCte(scen: String, k: Int, removed: Option[String]): String = {
      val prev = if (k == 1) s"v_${scen}_0" else s"v_${scen}_${k - 1}"
      val removedCase =
        removed.map(c => s"WHEN s.state = '$c' THEN 0 ").getOrElse("")
      s"""v_${scen}_$k AS MATERIALIZED (
         |  SELECT s.state,
         |    CASE WHEN s.state = 'purchase' THEN 1000000
         |         WHEN s.state = 'end' THEN 0
         |         $removedCase
         |         ELSE coalesce((SELECT sum(t.p * v.val) // 1000000
         |                        FROM tm t JOIN $prev v ON v.state = t.to_state
         |                        WHERE t.from_state = s.state), 0)
         |    END AS val
         |  FROM states s)""".stripMargin
    }
    def scenario(scen: String, removed: Option[String]): String =
      (s"""v_${scen}_0 AS MATERIALIZED (
          |  SELECT state, CASE WHEN state = 'purchase' THEN 1000000 ELSE 0 END AS val
          |  FROM states)""".stripMargin +:
        (1 to 12).map(k => stepCte(scen, k, removed))).mkString(",\n")
    val scenarios = (("all", None) +: channels.map(c => (c, Some(c))))
      .map { case (n, r) => scenario(n, r) }.mkString(",\n")
    val stateRows = states.map(st => s"('$st')").mkString(", ")
    val effectRows = channels.map(c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT val FROM v_all_12 WHERE state = 'start') AS base_conv_micro,
         |  (SELECT val FROM v_${c}_12 WHERE state = 'start') AS removed_conv_micro""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type
       |  FROM events),
       |fp AS (
       |  SELECT user_id, min(ROW(us, event_id)) AS fprow
       |  FROM e WHERE event_type = 'purchase' GROUP BY user_id),
       |path AS (
       |  SELECT e.* FROM e LEFT JOIN fp USING (user_id)
       |  WHERE fp.fprow IS NULL OR ROW(e.us, e.event_id) <= fp.fprow),
       |stepped AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER w AS rn,
       |    lead(event_type) OVER w AS nxt
       |  FROM path WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |trans AS (
       |  SELECT 'start' AS from_state, event_type AS to_state FROM stepped WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, nxt FROM stepped WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT event_type, 'end' FROM stepped
       |  WHERE nxt IS NULL AND event_type <> 'purchase'),
       |tc AS (SELECT from_state, to_state, count(*) AS c FROM trans GROUP BY 1, 2),
       |tt AS MATERIALIZED (SELECT from_state, sum(c) AS tot FROM tc GROUP BY 1),
       |tm AS MATERIALIZED (
       |  SELECT tc.from_state, tc.to_state,
       |    CAST(tc.c AS HUGEINT) * 1000000 // tt.tot AS p
       |  FROM tc JOIN tt USING (from_state)),
       |states(state) AS (VALUES $stateRows),
       |$scenarios,
       |eff AS (
       |  $effectRows),
       |fin AS (
       |  SELECT channel, base_conv_micro, removed_conv_micro,
       |    greatest(base_conv_micro - removed_conv_micro, 0) AS removal_effect_micro
       |  FROM eff),
       |tot AS (SELECT sum(removal_effect_micro) AS te FROM fin)
       |SELECT channel, CAST(base_conv_micro AS BIGINT) AS base_conv_micro,
       |  CAST(removed_conv_micro AS BIGINT) AS removed_conv_micro,
       |  CAST(removal_effect_micro AS BIGINT) AS removal_effect_micro,
       |  CASE WHEN te = 0 THEN NULL ELSE
       |    floor(CAST(removal_effect_micro AS DOUBLE) / CAST(te AS DOUBLE) * 1000000 + 0.5) / 1000000
       |  END AS effect_share
       |FROM fin CROSS JOIN tot
       |ORDER BY channel""".stripMargin
  }

  /** q422 — absorption dynamics of the q265 journey chain: from each
    * transient state, (a) the probability of absorbing at PURCHASE
    * and (b) the expected NUMBER OF STEPS to absorption, both within
    * a stated 24-step horizon — "how likely AND how long", the
    * per-state fundamental-matrix readout q265's removal effects
    * (a channel-importance ranking from `start` only) never surface:
    * two states can convert equally often while one takes 4× the
    * steps, which is exactly where UX effort goes. Semantics: q265's
    * path extraction verbatim (truncate at first purchase,
    * non-converters absorb at `end`); b ← T·b with b(purchase) = 1,
    * h ← 1 + T·h with h absorbing = 0, each iterated K = 24 times in
    * exact micro-integer arithmetic (Σ T_micro·v_micro div 10⁶ per
    * step, the q265 discipline — horizon-capped expectation is the
    * STATED semantic, exact at these path lengths since mass beyond
    * 24 steps is < 10⁻⁶ here); the oracle unrolls the identical 2×24
    * steps over the bounded state grid.
    *
    * Scale shape: corpus-sized work is the per-user window + the
    * ≤ 6×6 transition count; both solves run on that metadata-sized
    * matrix (driver-side exact ints, the q265/q171 bounded-map
    * pattern). */
  def q422(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
    val firstP = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(min(struct($"us", $"event_id")).as("fp"))
    val path = ev.join(firstP, Seq("user_id"), "left_outer")
      .filter($"fp".isNull || struct($"us", $"event_id") <= $"fp")
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val stepped = path
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead($"event_type", 1).over(w))
    val trans = stepped.filter($"rn" === 1)
      .select(lit("start").as("from_state"), $"event_type".as("to_state"))
      .unionByName(stepped.filter($"nxt".isNotNull)
        .select($"event_type".as("from_state"), $"nxt".as("to_state")))
      .unionByName(stepped
        .filter($"nxt".isNull && $"event_type" =!= "purchase")
        .select($"event_type".as("from_state"), lit("end").as("to_state")))
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("c"))
    val cells = trans.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = cells.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val tMicro: Map[(String, String), Long] = cells.map { case ((f, t), c) =>
      (f, t) -> c * 1000000L / totals(f)
    }
    val states = Seq("start", "purchase", "end", "click", "error",
      "signup", "view")
    def iterate(absorbing: String => Long, inc: Long): Map[String, Long] = {
      var v: Map[String, Long] = states.map(st => st ->
        (if (st == "purchase" || st == "end") absorbing(st) else 0L)).toMap
      for (_ <- 1 to 24) {
        v = states.map { st =>
          st -> (st match {
            case "purchase" | "end" => absorbing(st)
            case f => inc +
              states.map(t => tMicro.getOrElse((f, t), 0L) * v(t)).sum / 1000000L
          })
        }.toMap
      }
      v
    }
    val b = iterate(st => if (st == "purchase") 1000000L else 0L, 0L)
    val h = iterate(_ => 0L, 1000000L)
    val rows = states.filter(totals.contains)
      .map(st => (st, b(st), h(st)))
    s.createDataFrame(rows)
      .toDF("state", "conv_24_micro", "esteps_24_micro")
      .orderBy($"state")
  }

  val q422Sql: String = {
    val states = Seq("start", "purchase", "end", "click", "error",
      "signup", "view")
    def stepCte(scen: String, k: Int, absorbPurchase: Long, inc: Long): String = {
      val prev = s"v_${scen}_${k - 1}"
      s"""v_${scen}_$k AS MATERIALIZED (
         |  SELECT s.state,
         |    CASE WHEN s.state = 'purchase' THEN $absorbPurchase
         |         WHEN s.state = 'end' THEN 0
         |         ELSE $inc + coalesce((SELECT sum(t.p * v.val) // 1000000
         |                        FROM tm t JOIN $prev v ON v.state = t.to_state
         |                        WHERE t.from_state = s.state), 0)
         |    END AS val
         |  FROM states s)""".stripMargin
    }
    def chain(scen: String, absorbPurchase: Long, inc: Long): String =
      (s"""v_${scen}_0 AS MATERIALIZED (
          |  SELECT state,
          |    CASE WHEN state = 'purchase' THEN $absorbPurchase ELSE 0 END AS val
          |  FROM states)""".stripMargin +:
        (1 to 24).map(k => stepCte(scen, k, absorbPurchase, inc))).mkString(",\n")
    val stateRows = states.map(st => s"('$st')").mkString(", ")
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type
       |  FROM events),
       |fp AS (
       |  SELECT user_id, min(ROW(us, event_id)) AS fprow
       |  FROM e WHERE event_type = 'purchase' GROUP BY user_id),
       |path AS (
       |  SELECT e.* FROM e LEFT JOIN fp USING (user_id)
       |  WHERE fp.fprow IS NULL OR ROW(e.us, e.event_id) <= fp.fprow),
       |stepped AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER w AS rn,
       |    lead(event_type) OVER w AS nxt
       |  FROM path WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |trans AS (
       |  SELECT 'start' AS from_state, event_type AS to_state FROM stepped WHERE rn = 1
       |  UNION ALL
       |  SELECT event_type, nxt FROM stepped WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT event_type, 'end' FROM stepped
       |  WHERE nxt IS NULL AND event_type <> 'purchase'),
       |tc AS (SELECT from_state, to_state, count(*) AS c FROM trans GROUP BY 1, 2),
       |tt AS MATERIALIZED (SELECT from_state, sum(c) AS tot FROM tc GROUP BY 1),
       |tm AS MATERIALIZED (
       |  SELECT tc.from_state, tc.to_state,
       |    CAST(tc.c AS HUGEINT) * 1000000 // tt.tot AS p
       |  FROM tc JOIN tt USING (from_state)),
       |states(state) AS (VALUES $stateRows),
       |${chain("b", 1000000L, 0L)},
       |${chain("h", 0L, 1000000L)}
       |SELECT s.state, CAST(b.val AS BIGINT) AS conv_24_micro,
       |  CAST(h.val AS BIGINT) AS esteps_24_micro
       |FROM states s
       |JOIN v_b_24 b ON b.state = s.state
       |JOIN v_h_24 h ON h.state = s.state
       |WHERE s.state IN (SELECT from_state FROM tt)
       |ORDER BY s.state""".stripMargin
  }

  /** q276 — EXACT Shapley-value channel attribution: the coalition
    * set function comes from the data — v(S) = conversions among
    * users whose exposure set (distinct non-purchase event types) is
    * EXACTLY S, unobserved coalitions v = 0 — and with a bounded
    * channel domain (n ≤ 12 asserted) the 2ⁿ lattice is enumerable,
    * so the Shapley sum φᵢ = Σ_{S∌i} s!(n−1−s)!/n! · (v(S∪i)−v(S))
    * needs no sampling. Every term is scaled by n! up front:
    * φᵢ·n! = Σ s!(n−1−s)!·Δ is pure BIGINT arithmetic (factorial +
    * bit_count exist natively in BOTH engines), and the reported
    * credit is one truncating micro-division of exact integers —
    * negatives truncate toward zero identically (Spark `div` ≡
    * DuckDB `//`, verified). Completes the attribution ladder:
    * position rules (q188/q259) → Markov removal effect (q265) →
    * the game-theoretic gold standard.
    *
    * Scale shape: one distinct-collapse of events to (user, channel)
    * pairs, one groupBy to user masks, one to the ≤2ⁿ-row v table;
    * the lattice × channels join (n·2ⁿ ≤ 49k rows) is
    * broadcast-size. Channel count reaches the driver as a bounded
    * aggregate scalar — never row data. */
  def q276(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val ch = ev.filter($"event_type" =!= "purchase")
      .select($"event_type").distinct()
      .withColumn("bit",
        (row_number().over(Window.orderBy($"event_type")) - 1).cast("int"))
      .transform(Fx.materialize)
    val n = ch.count().toInt
    require(n <= 12, s"q276: exact Shapley needs a bounded channel domain, got $n")
    val users = ev.groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("conv"))
    val masks = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"event_type").distinct()
      .join(broadcast(ch), "event_type")
      .groupBy($"user_id")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
    val v = users.join(masks, Seq("user_id"), "left")
      .groupBy(coalesce($"mask", lit(0L)).as("mask"))
      .agg(sum($"conv").as("conv"))
      .transform(Fx.materialize)
    val lat = s.range(1L << n).toDF("s0")
    val terms = lat.crossJoin(broadcast(ch))
      .filter($"s0".bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), bit)")) === 0L)
      .join(broadcast(v).withColumnRenamed("mask", "__ms")
        .withColumnRenamed("conv", "v_s"), $"s0" === $"__ms", "left")
      .join(broadcast(v).withColumnRenamed("mask", "__mi")
        .withColumnRenamed("conv", "v_si"),
        ($"s0".bitwiseOR(expr("shiftleft(CAST(1 AS BIGINT), bit)"))) === $"__mi", "left")
      .withColumn("w", factorial(bit_count($"s0").cast("int")) *
        factorial(lit(n - 1) - bit_count($"s0").cast("int")))
      .withColumn("delta", coalesce($"v_si", lit(0L)) - coalesce($"v_s", lit(0L)))
    terms.groupBy($"event_type", $"bit")
      .agg(sum($"w" * $"delta").as("phi_num"))
      .withColumn("n_channels", lit(n))
      .withColumn("n_fact", factorial(lit(n)).cast("long"))
      .withColumn("phi_micro",
        expr("(cast(phi_num as decimal(38,0)) * 1000000) div n_fact"))
      .select($"event_type".as("channel"), $"bit", $"n_channels",
        $"phi_num", $"n_fact", $"phi_micro")
      .orderBy($"channel")
  }

  val q276Sql: String =
    """WITH RECURSIVE ch AS (
      |  SELECT event_type, CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS bit
      |  FROM (SELECT DISTINCT event_type FROM events WHERE event_type <> 'purchase')),
      |nn AS (SELECT CAST(count(*) AS INT) AS n FROM ch),
      |users AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |masks AS (
      |  SELECT e.user_id, CAST(sum(1::BIGINT << ch.bit) AS BIGINT) AS mask
      |  FROM (SELECT DISTINCT user_id, event_type FROM events
      |        WHERE event_type <> 'purchase') e
      |  JOIN ch USING (event_type) GROUP BY 1),
      |v AS (
      |  SELECT COALESCE(m.mask, 0) AS mask, CAST(sum(u.conv) AS BIGINT) AS conv
      |  FROM users u LEFT JOIN masks m USING (user_id) GROUP BY 1),
      |lat AS (
      |  SELECT CAST(0 AS BIGINT) AS s0
      |  UNION ALL
      |  SELECT s0 + 1 FROM lat WHERE s0 + 1 < (SELECT 1::BIGINT << n FROM nn)),
      |terms AS (
      |  SELECT ch.event_type, ch.bit, nn.n,
      |    CAST(factorial(bit_count(l.s0)) AS BIGINT)
      |      * CAST(factorial(nn.n - 1 - bit_count(l.s0)) AS BIGINT) AS w,
      |    COALESCE(vi.conv, 0) - COALESCE(vs.conv, 0) AS delta
      |  FROM lat l CROSS JOIN ch CROSS JOIN nn
      |  LEFT JOIN v vs ON vs.mask = l.s0
      |  LEFT JOIN v vi ON vi.mask = (l.s0 | (1::BIGINT << ch.bit))
      |  WHERE (l.s0 & (1::BIGINT << ch.bit)) = 0)
      |SELECT event_type AS channel, bit, n AS n_channels,
      |  CAST(sum(w * delta) AS BIGINT) AS phi_num,
      |  CAST(factorial(n) AS BIGINT) AS n_fact,
      |  CAST((CAST(sum(w * delta) AS HUGEINT) * 1000000)
      |       // CAST(factorial(n) AS HUGEINT) AS BIGINT) AS phi_micro
      |FROM terms
      |GROUP BY event_type, bit, n
      |ORDER BY channel""".stripMargin

  /** q270 — Holt linear (double) exponential smoothing of daily
    * purchase revenue: level/trend recursion with α = 0.5, β = 0.3,
    * one-step-ahead forecast and its error per day — the
    * trend-following companion to q139's regression forecast. The
    * classic recursion is float-sequential; here every step is exact
    * integer arithmetic on the micro-grid: l_k = ⌊(α·y_k +
    * (10⁶−α)·(l+b))/10⁶⌋, b_k = ⌊(β·(l_k−l_{k-1}) + (10⁶−β)·b)/10⁶⌋
    * with TRUNCATING division on both engines (trend can go
    * negative; DuckDB's `//` truncates toward zero — verified, not
    * assumed — exactly like Scala's Long division and Spark's `div`,
    * so the driver fold uses plain `/`). Seeds pinned: l₁ = y₁,
    * b₁ = 0.
    *
    * Scale shape: the corpus collapses to the bounded day grid in one
    * aggregate; the recursion folds that ≤|days| relation on the
    * driver (bounded-map pattern), and the oracle steps the identical
    * recursion as a recursive CTE over the day rank. */
  def q270(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .orderBy($"day")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val alpha = 500000L; val beta = 300000L; val M = 1000000L
    var l = 0L; var b = 0L
    val rows = daily.zipWithIndex.map { case ((day, y), i) =>
      val (fc, lPrev) = (l + b, l)
      if (i == 0) { l = y; b = 0L }
      else {
        l = (alpha * y + (M - alpha) * (lPrev + b)) / M
        b = (beta * (l - lPrev) + (M - beta) * b) / M
      }
      (day, y, l, b, if (i == 0) null else java.lang.Long.valueOf(fc),
        if (i == 0) null else java.lang.Long.valueOf(y - fc))
    }
    s.createDataFrame(rows.toSeq)
      .toDF("day", "y_cents", "level_cents", "trend_cents",
        "forecast_cents", "error_cents")
      .orderBy($"day")
  }

  val q270Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |o AS (
      |  SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |h(rn, day, y, l, b, fc) AS (
      |  SELECT rn, day, y, y, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.day, o.y,
      |    (500000 * o.y + 500000 * (h.l + h.b)) // 1000000,
      |    (300000 * ((500000 * o.y + 500000 * (h.l + h.b)) // 1000000 - h.l)
      |       + 700000 * h.b) // 1000000,
      |    h.l + h.b
      |  FROM h JOIN o ON o.rn = h.rn + 1)
      |SELECT CAST(day AS BIGINT) AS day, y AS y_cents,
      |  CAST(l AS BIGINT) AS level_cents, CAST(b AS BIGINT) AS trend_cents,
      |  CAST(fc AS BIGINT) AS forecast_cents,
      |  CAST(y - fc AS BIGINT) AS error_cents
      |FROM h ORDER BY day""".stripMargin

  /** q280 — Holt–Winters ADDITIVE seasonal smoothing (α=0.5, β=0.3,
    * γ=0.3, weekly season m=7) of daily purchase revenue — q270's
    * level/trend recursion plus the seasonal component that actually
    * fits retail dailies. Same exactness discipline: every update is
    * integer arithmetic on the micro-grid with truncating division
    * (Scala `/` ≡ Spark `div` ≡ DuckDB `//`), seeds pinned (l₁=y₁,
    * b₁=0, seasonal seeds 0 — and since s₁=γ·(y₁−l₁)=0 exactly, the
    * all-zero anchor ring is identical to appending s₁). Season
    * aligns by day RANK (stated; the day grid is gap-free at shipped
    * SFs). One-step forecast f_k = l+b+s_{k−7}, error y−f.
    *
    * Scale shape: q270's — one aggregate collapses the corpus to the
    * bounded day grid; the fold walks ≤|days| rows on the driver; the
    * oracle steps the identical recursion as a recursive CTE carrying
    * the 7-seasonal ring as a LIST column. */
  def q280(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .orderBy($"day")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val alpha = 500000L; val beta = 300000L; val gamma = 300000L
    val M = 1000000L
    var l = 0L; var b = 0L
    val ring = Array.fill(7)(0L)
    val rows = daily.zipWithIndex.map { case ((day, y), i) =>
      val sOld = ring(i % 7)
      val (fc, lPrev) = (l + b + sOld, l)
      if (i == 0) { l = y; b = 0L }
      else {
        l = (alpha * (y - sOld) + (M - alpha) * (lPrev + b)) / M
        b = (beta * (l - lPrev) + (M - beta) * b) / M
      }
      val sNew = (gamma * (y - l) + (M - gamma) * sOld) / M
      ring(i % 7) = sNew
      (day, y, l, b, sNew,
        if (i == 0) null else java.lang.Long.valueOf(fc),
        if (i == 0) null else java.lang.Long.valueOf(y - fc))
    }
    s.createDataFrame(rows.toSeq)
      .toDF("day", "y_cents", "level_cents", "trend_cents",
        "seasonal_cents", "forecast_cents", "error_cents")
      .orderBy($"day")
  }

  val q280Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |rk AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, day, y
      |  FROM daily),
      |rec(k, day, y, l, b, fc, s) AS (
      |  SELECT k, day, y, y AS l, CAST(0 AS BIGINT) AS b,
      |    CAST(NULL AS BIGINT) AS fc,
      |    [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS s
      |  FROM rk WHERE k = 1
      |  UNION ALL
      |  SELECT d.k, d.day, d.y,
      |    (500000 * (d.y - r.s[1]) + 500000 * (r.l + r.b)) // 1000000 AS l2,
      |    (300000 * (((500000 * (d.y - r.s[1]) + 500000 * (r.l + r.b)) // 1000000) - r.l)
      |       + 700000 * r.b) // 1000000,
      |    r.l + r.b + r.s[1],
      |    list_append(r.s[2:7],
      |      (300000 * (d.y - ((500000 * (d.y - r.s[1]) + 500000 * (r.l + r.b)) // 1000000))
      |         + 700000 * r.s[1]) // 1000000)
      |  FROM rec r JOIN rk d ON d.k = r.k + 1)
      |SELECT CAST(day AS BIGINT) AS day, y AS y_cents, l AS level_cents,
      |  b AS trend_cents, s[7] AS seasonal_cents, fc AS forecast_cents,
      |  CASE WHEN fc IS NULL THEN NULL ELSE y - fc END AS error_cents
      |FROM rec ORDER BY day""".stripMargin

  /** q283 — log-rank test between two churn-survival curves: the
    * hypothesis test q271's Kaplan–Meier plot begs for. Users split
    * into arms by the salted-md5 rule; per duration t on the bounded
    * day-domain grid, at-risk counts are exact suffix sums, each
    * group's expected deaths e_g(t) = d_t·n_g(t)/n_t and the
    * (symmetric) hypergeometric variance v(t) = d_t·n_g(n_t−n_g)
    * (n_t−d_t) / (n_t²(n_t−1)) land on the micro grid via one
    * DECIMAL(38,0)/HUGEINT integer division per term (n⁴ products
    * overflow BIGINT at scale — stated, not discovered), and the
    * statistic χ² = (10⁶·O_g − E_g,micro)² / (10⁶·V_micro) is one
    * fixed-shape double expression per group (each row carries its
    * own O/E — truncation makes the two rows' χ² differ in the last
    * micro digit, which is the honest statement of the grid). Both
    * engines: identical expressions, r6-fixed.
    *
    * Scale shape: one per-user span aggregate, one collapse to the
    * (arm × duration) grid; every window and join after that runs on
    * the calendar-bounded grid. */
  def q283(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"), max(epochDay($"ts")).as("last_day"))
      .withColumn("grp",
        (Fx.md5Prefix(concat($"user_id".cast("string"), lit("#lr")), 8) % 2)
          .cast("int"))
      .transform(Fx.materialize)
    val maxDay = spans.agg(max($"last_day").as("m"))
    val cells = spans.crossJoin(broadcast(maxDay))
      .select($"grp", ($"last_day" - $"first_day").as("t"),
        ($"last_day" <= $"m" - 1).cast("long").as("event"))
      .groupBy($"grp", $"t")
      .agg(sum($"event").as("dg"), sum(lit(1L) - $"event").as("cg"))
      .transform(Fx.materialize)
    // densify: a group with no exit at duration t still has users AT
    // RISK there — missing cells would silently understate n_t
    val grid = cells.select($"t").distinct()
      .crossJoin(broadcast(cells.select($"grp").distinct()))
      .join(cells, Seq("grp", "t"), "left")
      .select($"grp", $"t",
        coalesce($"dg", lit(0L)).as("dg"), coalesce($"cg", lit(0L)).as("cg"))
    val wSuffix = Window.partitionBy($"grp").orderBy($"t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val atRisk = grid
      .withColumn("ng", sum($"dg" + $"cg").over(wSuffix))
    val tot = atRisk.groupBy($"t")
      .agg(sum($"dg").as("dt"), sum($"ng").as("nt"))
      .withColumnRenamed("t", "__t")
    val terms = atRisk.join(broadcast(tot), $"t" === $"__t")
      .filter($"dt" > 0)
      .withColumn("e_micro",
        expr("(cast(dt as decimal(38,0)) * ng * 1000000) div nt"))
      .withColumn("v_micro",
        when($"nt" > 1,
          expr("""(cast(dt as decimal(38,0)) * ng * (nt - ng) * (nt - dt) * 1000000)
                  div (cast(nt as decimal(38,0)) * nt * (nt - 1))"""))
          .otherwise(lit(0L)))
    val stats = terms.groupBy($"grp")
      .agg(sum($"dg").as("observed"),
        sum($"e_micro").as("expected_micro"),
        sum($"v_micro").as("var_micro"))
    val nUsers = spans.groupBy($"grp").agg(count(lit(1)).as("n_users"))
      .withColumnRenamed("grp", "__g")
    stats.join(broadcast(nUsers), $"grp" === $"__g")
      .withColumn("num",
        ($"observed" * 1000000L - $"expected_micro").cast("double"))
      .withColumn("chi2",
        r6($"num" * $"num" / ($"var_micro".cast("double") * 1000000d)))
      .select($"grp", $"n_users", $"observed", $"expected_micro",
        $"var_micro", $"chi2")
      .orderBy($"grp")
  }

  val q283Sql: String =
    """WITH spans AS (
      |  SELECT user_id,
      |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS first_day,
      |    max(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS last_day,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#lr'), 1, 8))::BIGINT % 2 AS INT) AS grp
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS m FROM spans),
      |cells AS (
      |  SELECT grp, last_day - first_day AS t,
      |    CAST(sum(CASE WHEN last_day <= m - 1 THEN 1 ELSE 0 END) AS BIGINT) AS dg,
      |    CAST(sum(CASE WHEN last_day <= m - 1 THEN 0 ELSE 1 END) AS BIGINT) AS cg
      |  FROM spans CROSS JOIN mx
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.grp, t.t, COALESCE(c.dg, 0) AS dg, COALESCE(c.cg, 0) AS cg
      |  FROM (SELECT DISTINCT t FROM cells) t
      |  CROSS JOIN (SELECT DISTINCT grp FROM cells) g
      |  LEFT JOIN cells c ON c.grp = g.grp AND c.t = t.t),
      |ar AS (
      |  SELECT grp, t, dg, cg,
      |    CAST(sum(dg + cg) OVER (PARTITION BY grp ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS ng
      |  FROM grid),
      |tot AS (
      |  SELECT t, CAST(sum(dg) AS BIGINT) AS dt, CAST(sum(ng) AS BIGINT) AS nt
      |  FROM ar GROUP BY t),
      |terms AS (
      |  SELECT ar.grp, ar.dg, ar.ng, tot.dt, tot.nt,
      |    CAST((CAST(tot.dt AS HUGEINT) * ar.ng * 1000000) // tot.nt AS BIGINT)
      |      AS e_micro,
      |    CASE WHEN tot.nt > 1 THEN
      |      CAST((CAST(tot.dt AS HUGEINT) * ar.ng * (tot.nt - ar.ng)
      |            * (tot.nt - tot.dt) * 1000000)
      |           // (CAST(tot.nt AS HUGEINT) * tot.nt * (tot.nt - 1)) AS BIGINT)
      |    ELSE 0 END AS v_micro
      |  FROM ar JOIN tot ON ar.t = tot.t
      |  WHERE tot.dt > 0),
      |stats AS (
      |  SELECT grp, CAST(sum(dg) AS BIGINT) AS observed,
      |    CAST(sum(e_micro) AS BIGINT) AS expected_micro,
      |    CAST(sum(v_micro) AS BIGINT) AS var_micro
      |  FROM terms GROUP BY grp),
      |nu AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_users FROM spans GROUP BY grp)
      |SELECT s.grp, nu.n_users, s.observed, s.expected_micro, s.var_micro,
      |  floor(CAST(s.observed * 1000000 - s.expected_micro AS DOUBLE)
      |        * CAST(s.observed * 1000000 - s.expected_micro AS DOUBLE)
      |        / (CAST(s.var_micro AS DOUBLE) * 1000000) * 1000000 + 0.5) / 1000000
      |    AS chi2
      |FROM stats s JOIN nu ON s.grp = nu.grp
      |ORDER BY s.grp""".stripMargin

  /** q284 — STL-lite seasonal decomposition + anomaly flags on daily
    * purchase revenue: trend = centered 7-day moving average (defined
    * on interior days only — exactly 7 cells present, stated),
    * seasonal = per-weekday mean of the detrended series re-centered
    * to sum ≈ 0, residual = y − trend − seasonal, and a flag where
    * |residual| exceeds 3× the nearest-rank median absolute
    * deviation. Every stage is integer micro-grid arithmetic — the
    * moving average, weekday means, centering offset and MAD are all
    * `div`s of exact integers, so the anomaly verdict is a BIGINT
    * comparison, not a float one. Complements q132 (hourly z-score),
    * q217 (median/MAD on raw values) and q218 (CUSUM on means):
    * this one removes trend AND weekly shape before judging.
    *
    * Scale shape: one aggregate collapses the corpus to the day
    * grid; every window after that (moving average, weekday means,
    * global MAD rank) runs on that calendar-bounded relation. */
  def q284(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .transform(Fx.materialize)
    val wMa = Window.orderBy($"day").rowsBetween(-3, 3)
    val interior = daily
      .withColumn("n7", count(lit(1)).over(wMa))
      .withColumn("sum7", sum($"y").over(wMa))
      .filter($"n7" === 7)
      .withColumn("trend_micro", expr("(sum7 * 1000000) div 7"))
      .withColumn("detr", $"y" * 1000000L - $"trend_micro")
      .withColumn("wd", expr("day % 7"))
      .transform(Fx.materialize)
    val wk = interior.groupBy($"wd")
      .agg(expr("(sum(detr)) div count(*)").as("s_raw"))
    val ctr = wk.agg(expr("sum(s_raw) div 7").as("s_off"))
    val seas = wk.crossJoin(broadcast(ctr))
      .select($"wd".as("__wd"), ($"s_raw" - $"s_off").as("seasonal_micro"))
    val resid = interior.join(broadcast(seas), $"wd" === $"__wd")
      .withColumn("resid_micro", $"detr" - $"seasonal_micro")
      .transform(Fx.materialize)
    val nI = resid.agg(count(lit(1)).as("n")).select($"n")
    val mad = resid.select(abs($"resid_micro").as("ar"))
      .withColumn("rk", row_number().over(Window.orderBy($"ar")))
      .crossJoin(broadcast(nI))
      .filter($"rk" === ceil($"n" * 0.5))
      .select($"ar".as("mad_micro"))
    resid.crossJoin(broadcast(mad))
      .select($"day", $"y".as("y_cents"), $"trend_micro",
        $"seasonal_micro", $"resid_micro", $"mad_micro",
        (abs($"resid_micro") > $"mad_micro" * 3L).cast("int").as("anomaly"))
      .orderBy($"day")
  }

  val q284Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ma AS (
      |  SELECT day, y,
      |    count(*) OVER w AS n7, CAST(sum(y) OVER w AS BIGINT) AS sum7
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |interior AS (
      |  SELECT day, y, (sum7 * 1000000) // 7 AS trend_micro,
      |    y * 1000000 - (sum7 * 1000000) // 7 AS detr, day % 7 AS wd
      |  FROM ma WHERE n7 = 7),
      |wk AS (
      |  SELECT wd, CAST(sum(detr) // count(*) AS BIGINT) AS s_raw
      |  FROM interior GROUP BY wd),
      |ctr AS (SELECT CAST(sum(s_raw) // 7 AS BIGINT) AS s_off FROM wk),
      |seas AS (
      |  SELECT wd, s_raw - s_off AS seasonal_micro FROM wk CROSS JOIN ctr),
      |resid AS (
      |  SELECT i.day, i.y, i.trend_micro, s.seasonal_micro,
      |    i.detr - s.seasonal_micro AS resid_micro
      |  FROM interior i JOIN seas s ON i.wd = s.wd),
      |nn AS (SELECT count(*) AS n FROM resid),
      |mad AS (
      |  SELECT ar AS mad_micro FROM (
      |    SELECT abs(resid_micro) AS ar,
      |      row_number() OVER (ORDER BY abs(resid_micro)) AS rk
      |    FROM resid) t CROSS JOIN nn
      |  WHERE rk = CAST(ceil(n * 0.5) AS BIGINT))
      |SELECT r.day, r.y AS y_cents, r.trend_micro, r.seasonal_micro,
      |  r.resid_micro, m.mad_micro,
      |  CAST(abs(r.resid_micro) > m.mad_micro * 3 AS INT) AS anomaly
      |FROM resid r CROSS JOIN mad m
      |ORDER BY r.day""".stripMargin

  /** q287 — Haar wavelet energy pyramid of daily purchase revenue:
    * which TIME SCALE carries the variance — day-to-day jitter
    * (level 1), weekly shape (level 2-3), or the month trend
    * (level 4-5)? The unnormalized Haar transform is pure integer
    * arithmetic: pair sums ascend the pyramid, pair differences are
    * the detail coefficients, and each level's energy is the sum of
    * squared details (the √2 normalization is skipped and stated —
    * energies compare WITHIN a level; squares ride BigInt/HUGEINT
    * since level-k approximations aggregate 2^k days and their
    * squares overflow BIGINT already at sf0.1). The series pads with
    * zeros to the next power of two (stated). Energies emit
    * micro-truncated (div 10⁶) to stay in BIGINT.
    *
    * Scale shape: one aggregate collapses the corpus to the day
    * grid; the ≤2^⌈log₂ days⌉ fold happens on the driver (bounded-map
    * pattern, q270's); the oracle ascends the identical pyramid as a
    * recursive CTE carrying the level as a LIST column. */
  def q287(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .orderBy($"day")
      .collect().map(r => r.getLong(1))
    var size = 1
    while (size < daily.length) size *= 2
    var a: Array[BigInt] =
      Array.tabulate(size)(i => if (i < daily.length) BigInt(daily(i)) else BigInt(0))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var level = 1
    while (a.length > 1) {
      val half = a.length / 2
      val approx = Array.tabulate(half)(m => a(2 * m) + a(2 * m + 1))
      val details = Array.tabulate(half)(m => a(2 * m) - a(2 * m + 1))
      val energy = details.map(x => x * x).sum / BigInt(1000000)
      out += ((level, half.toLong, energy.toLong))
      a = approx
      level += 1
    }
    s.createDataFrame(out.toSeq)
      .toDF("level", "n_coeffs", "energy_micro")
      .orderBy($"level")
  }

  val q287Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |np AS (SELECT count(*) AS n FROM daily),
      |p2 AS (
      |  SELECT CAST(1 AS BIGINT) AS p
      |  UNION ALL
      |  SELECT p * 2 FROM p2, np WHERE p < n),
      |sz AS (SELECT max(p) AS size FROM p2),
      |padded AS (
      |  SELECT list_resize(
      |    (SELECT list(CAST(y AS HUGEINT) ORDER BY day) FROM daily),
      |    (SELECT size FROM sz), CAST(0 AS HUGEINT)) AS a),
      |rec AS (
      |  SELECT 1 AS lvl, a FROM padded
      |  UNION ALL
      |  SELECT lvl + 1,
      |    list_transform(range(1, len(a) // 2 + 1), m -> a[2*m-1] + a[2*m])
      |  FROM rec WHERE len(a) > 1)
      |SELECT lvl AS level, CAST(len(a) // 2 AS BIGINT) AS n_coeffs,
      |  CAST(list_sum(list_transform(range(1, len(a) // 2 + 1),
      |    m -> (a[2*m-1] - a[2*m]) * (a[2*m-1] - a[2*m]))) // 1000000 AS BIGINT)
      |    AS energy_micro
      |FROM rec WHERE len(a) > 1
      |ORDER BY level""".stripMargin

  /** q295 — Little's law as an EXACT integer identity: L = λW holds
    * not just in expectation but as an integral equality — the total
    * of daily concurrent-user counts equals the total of user span
    * lengths (inclusive first..last day), because both sum the same
    * user×day incidence matrix by opposite axes. The query computes
    * both sides independently — concurrency via the sweep-line
    * (+1 at first_day, −1 after last_day, prefix over the bounded
    * day grid; the q249 mechanism) and spans via a per-user
    * aggregate — and emits them with L, λ, W on the micro grid plus
    * the `identity_holds` flag. A disagreement would mean the sweep
    * or the span logic is broken: the query is its own audit, which
    * is exactly how the law is used operationally (concurrency
    * instrumentation vs session-log totals).
    *
    * Scale shape: spans are one user aggregate; the sweep deltas
    * collapse to the day grid before the prefix window; every later
    * stage is grid-sized. */
  def q295(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("d0"), max(epochDay($"ts")).as("d1"))
      .transform(Fx.materialize)
    val deltas = spans.select($"d0".as("day"), lit(1L).as("dl"))
      .unionByName(spans.select(($"d1" + 1).as("day"), lit(-1L).as("dl")))
      .groupBy($"day").agg(sum($"dl").as("dl"))
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = deltas.withColumn("conc", sum($"dl").over(wCum))
    val bounds = spans.agg(min($"d0").as("dmin"), max($"d1").as("dmax"))
    // concurrency integral: conc(day) is piecewise-constant between
    // delta days — weight each level by its run length within bounds
    val concTotal = conc
      .withColumn("next_day",
        lead($"day", 1).over(Window.orderBy($"day")))
      .crossJoin(broadcast(bounds))
      .withColumn("run",
        least(coalesce($"next_day", $"dmax" + 1), $"dmax" + 1) - $"day")
      .filter($"run" > 0)
      .agg(sum($"conc" * $"run").as("conc_total"))
    val spanStats = spans.agg(count(lit(1)).as("n_users"),
      sum($"d1" - $"d0" + 1).as("span_total"))
    concTotal.crossJoin(broadcast(spanStats)).crossJoin(broadcast(bounds))
      .withColumn("n_days", ($"dmax" - $"dmin" + 1).cast("long"))
      .select($"conc_total", $"span_total", $"n_users", $"n_days",
        ($"conc_total" === $"span_total").cast("int").as("identity_holds"),
        expr("(conc_total * 1000000) div n_days").as("l_micro"),
        expr("(n_users * 1000000) div n_days").as("lambda_micro"),
        expr("(span_total * 1000000) div n_users").as("w_micro"))
  }

  val q295Sql: String =
    """WITH spans AS (
      |  SELECT user_id,
      |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS d0,
      |    max(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS d1
      |  FROM events GROUP BY user_id),
      |deltas AS (
      |  SELECT day, CAST(sum(dl) AS BIGINT) AS dl FROM (
      |    SELECT d0 AS day, 1 AS dl FROM spans
      |    UNION ALL SELECT d1 + 1, -1 FROM spans) t
      |  GROUP BY day),
      |conc AS (
      |  SELECT day, sum(dl) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS conc,
      |    lead(day) OVER (ORDER BY day) AS next_day
      |  FROM deltas),
      |b AS (SELECT min(d0) AS dmin, max(d1) AS dmax FROM spans),
      |ct AS (
      |  SELECT CAST(sum(conc * run) AS BIGINT) AS conc_total FROM (
      |    SELECT conc,
      |      least(COALESCE(next_day, dmax + 1), dmax + 1) - day AS run
      |    FROM conc CROSS JOIN b) t
      |  WHERE run > 0),
      |ss AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(d1 - d0 + 1) AS BIGINT) AS span_total
      |  FROM spans)
      |SELECT ct.conc_total, ss.span_total, ss.n_users,
      |  CAST(b.dmax - b.dmin + 1 AS BIGINT) AS n_days,
      |  CAST(ct.conc_total = ss.span_total AS INT) AS identity_holds,
      |  CAST((CAST(ct.conc_total AS HUGEINT) * 1000000)
      |       // (b.dmax - b.dmin + 1) AS BIGINT) AS l_micro,
      |  CAST((CAST(ss.n_users AS HUGEINT) * 1000000)
      |       // (b.dmax - b.dmin + 1) AS BIGINT) AS lambda_micro,
      |  CAST((CAST(ss.span_total AS HUGEINT) * 1000000)
      |       // ss.n_users AS BIGINT) AS w_micro
      |FROM ct CROSS JOIN ss CROSS JOIN b""".stripMargin

  /** q296 — changepoint LOCALIZATION by binary segmentation (two
    * levels → up to three changepoints): where q218's CUSUM answers
    * "did the mean shift?", binseg answers "where, repeatedly?".
    * Splitting at t maximizes Σ²L/lenL + Σ²R/lenR (the Σy² term is
    * constant within the segment being split, so this IS the SSE
    * argmin); the objective lands on a STATED integer grid —
    * obj(t) = Σ²L div lenL + Σ²R div lenR, squares on
    * DECIMAL(38,0)/HUGEINT — so the argmax (ties → smallest t) is
    * an integer comparison both engines resolve identically, no
    * rational cross-multiplication needed (grid = 1 cent² — the 10⁶
    * refinement overflows BIGINT `div` at sf0.1 revenue volumes;
    * measured, and the unit grid already separates real splits). Level 2 re-splits each
    * side by the same rule (sides of length < 2 emit no row —
    * stated). Output: one row per executed split with bounds, the
    * chosen point, and the gain over the unsplit segment.
    *
    * Scale shape: the corpus collapses to the ranked day grid once;
    * candidate evaluation is prefix-sum arithmetic over that
    * calendar-bounded grid, and each argmax is a bounded-grid
    * window. */
  def q296(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
    val rk = daily
      .withColumn("k", row_number().over(Window.orderBy($"day")).cast("long"))
      .withColumn("p", sum($"y").over(Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"day", $"y", $"p")
      .transform(Fx.materialize)
    val tot = rk.agg(max($"k").as("n"), max($"p").as("pn"))
    // best split of segment [lo, hi] given prefix at lo-1
    def bestSplit(segs: DataFrame): DataFrame = {
      // segs: (level, lo, hi, p0) with p0 = prefix before lo
      val cand = segs.join(rk.select($"k", $"p"),
          $"k" >= $"lo" && $"k" < $"hi")
        .withColumn("sl", $"p" - $"p0")
        .withColumn("ll", $"k" - $"lo" + 1L)
        .withColumn("sr", $"pseg" - $"sl")
        .withColumn("lr", $"hi" - $"k")
        .withColumn("obj",
          expr("(cast(sl as decimal(38,0)) * sl) div ll") +
            expr("(cast(sr as decimal(38,0)) * sr) div lr"))
        .withColumn("base",
          expr("(cast(pseg as decimal(38,0)) * pseg) div (hi - lo + 1)"))
      cand.withColumn("rn", row_number().over(
          Window.partitionBy($"level", $"lo", $"hi")
            .orderBy($"obj".desc, $"k")))
        .filter($"rn" === 1)
        .select($"level", $"lo", $"hi", $"k".as("split_k"),
          ($"obj" - $"base").cast("long").as("gain_sq"),
          $"sl", $"ll", $"sr", $"lr", $"p".as("psplit"))
    }
    val seg1 = tot.select(lit(1).as("level"), lit(1L).as("lo"),
      $"n".as("hi"), lit(0L).as("p0"), $"pn".as("pseg"))
    val b1 = bestSplit(seg1).transform(Fx.materialize)
    val seg2 = b1.crossJoin(broadcast(tot))
      .select(explode(array(
        struct(lit(2).as("level"), $"lo".as("lo"), $"split_k".as("hi"),
          lit(0L).as("p0"), $"sl".as("pseg")),
        struct(lit(2).as("level"), ($"split_k" + 1L).as("lo"), $"hi".as("hi"),
          $"psplit".as("p0"), $"sr".as("pseg")))).as("s"))
      .select($"s.*")
      .filter($"hi" > $"lo") // length >= 2
    val b2 = bestSplit(seg2)
    b1.select($"level", $"lo", $"hi", $"split_k", $"gain_sq")
      .unionByName(b2.select($"level", $"lo", $"hi", $"split_k", $"gain_sq"))
      .orderBy($"level", $"lo")
  }

  val q296Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |rk AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, day, y,
      |    CAST(sum(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
      |  FROM daily),
      |tot AS (SELECT max(k) AS n, max(p) AS pn FROM rk),
      |segs AS (
      |  SELECT 1 AS level, CAST(1 AS BIGINT) AS lo, n AS hi,
      |    CAST(0 AS BIGINT) AS p0, pn AS pseg
      |  FROM tot),
      |cand1 AS (
      |  SELECT s.level, s.lo, s.hi, rk.k, rk.p,
      |    rk.p - s.p0 AS sl, rk.k - s.lo + 1 AS ll,
      |    s.pseg - (rk.p - s.p0) AS sr, s.hi - rk.k AS lr, s.pseg
      |  FROM segs s JOIN rk ON rk.k >= s.lo AND rk.k < s.hi),
      |b1 AS (
      |  SELECT * FROM (
      |    SELECT level, lo, hi, k AS split_k, p AS psplit, sl, sr,
      |      CAST((CAST(sl AS HUGEINT) * sl) // ll
      |         + (CAST(sr AS HUGEINT) * sr) // lr
      |         - (CAST(pseg AS HUGEINT) * pseg) // (hi - lo + 1)
      |       AS BIGINT) AS gain_sq,
      |      row_number() OVER (ORDER BY
      |        (CAST(sl AS HUGEINT) * sl) // ll
      |          + (CAST(sr AS HUGEINT) * sr) // lr DESC, k) AS rn
      |    FROM cand1) t WHERE rn = 1),
      |segs2 AS (
      |  SELECT 2 AS level, b1.lo AS lo, b1.split_k AS hi,
      |    CAST(0 AS BIGINT) AS p0, b1.sl AS pseg
      |  FROM b1
      |  UNION ALL
      |  SELECT 2, b1.split_k + 1, t.n, b1.psplit, b1.sr
      |  FROM b1 CROSS JOIN tot t),
      |segs2f AS (SELECT * FROM segs2 WHERE hi > lo),
      |cand2 AS (
      |  SELECT s.level, s.lo, s.hi, rk.k,
      |    rk.p - s.p0 AS sl, rk.k - s.lo + 1 AS ll,
      |    s.pseg - (rk.p - s.p0) AS sr, s.hi - rk.k AS lr, s.pseg
      |  FROM segs2f s JOIN rk ON rk.k >= s.lo AND rk.k < s.hi),
      |b2 AS (
      |  SELECT level, lo, hi, split_k, gain_sq FROM (
      |    SELECT level, lo, hi, k AS split_k,
      |      CAST((CAST(sl AS HUGEINT) * sl) // ll
      |         + (CAST(sr AS HUGEINT) * sr) // lr
      |         - (CAST(pseg AS HUGEINT) * pseg) // (hi - lo + 1)
      |       AS BIGINT) AS gain_sq,
      |      row_number() OVER (PARTITION BY level, lo, hi ORDER BY
      |        (CAST(sl AS HUGEINT) * sl) // ll
      |          + (CAST(sr AS HUGEINT) * sr) // lr DESC, k) AS rn
      |    FROM cand2) t WHERE rn = 1)
      |SELECT level, lo, hi, split_k, gain_sq
      |FROM (SELECT level, lo, hi, split_k, gain_sq FROM b1
      |      UNION ALL SELECT * FROM b2) u
      |ORDER BY level, lo""".stripMargin

  /** q297 — TWO-regressor OLS solved exactly by Cramer's rule:
    * daily revenue ~ β₀ + β₁·(day rank) + β₂·(daily event count) —
    * trend plus demand, the step q172's single-regressor fit can't
    * take. The 3×3 normal equations solve symbolically: every
    * determinant is a polynomial in the nine exact moment sums,
    * evaluated in DECIMAL(38,0)/HUGEINT (entry magnitudes are
    * calendar-bounded — day counts and daily totals keep the 3×3
    * products under 10³⁸; stated, with the 256-bit escalation named
    * for wider domains), and each coefficient is ONE truncating
    * micro-division dᵢ div det. R² comes from the same integers —
    * SSE·det = det·Σy² − Σdᵢgᵢ identically — through a fixed-shape
    * double pipeline (each cast correctly rounded from an exact
    * integer).
    *
    * Scale shape: one pass collapses the corpus to the day grid,
    * one 9-sum aggregate collapses the grid to a single row;
    * everything else is scalar arithmetic. */
  def q297(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(when($"event_type" === "purchase", floor($"value" * 100))
        .otherwise(0L).cast("long")).as("y"),
        count(lit(1)).as("x2"))
      .withColumn("x1", row_number().over(Window.orderBy($"day")).cast("long"))
    val m = daily.agg(
      count(lit(1)).as("n"), sum($"x1").as("s1"), sum($"x2").as("s2"),
      sum(expr("cast(x1 as decimal(38,0)) * x1")).as("s11"),
      sum(expr("cast(x1 as decimal(38,0)) * x2")).as("s12"),
      sum(expr("cast(x2 as decimal(38,0)) * x2")).as("s22"),
      sum($"y").as("sy"),
      sum(expr("cast(x1 as decimal(38,0)) * y")).as("s1y"),
      sum(expr("cast(x2 as decimal(38,0)) * y")).as("s2y"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    m.withColumn("det",
        expr("""n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)"""))
      .withColumn("d0",
        expr("""sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)"""))
      .withColumn("d1",
        expr("""n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)"""))
      .withColumn("d2",
        expr("""n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)"""))
      .withColumn("sse_det",
        expr("det * syy - (d0 * sy + d1 * s1y + d2 * s2y)"))
      .withColumn("sst_n", expr("n * syy - cast(sy as decimal(38,0)) * sy"))
      .select($"n", $"det".cast("double").as("det_d"),
        expr("(d0 * 1000000) div det").as("b0_micro"),
        expr("(d1 * 1000000) div det").as("b1_micro"),
        expr("(d2 * 1000000) div det").as("b2_micro"),
        r6(lit(1.0) -
          ($"sse_det".cast("double") / $"det".cast("double")) /
            ($"sst_n".cast("double") / $"n".cast("double"))).as("r2"))
      .select($"n", r6($"det_d").as("det_approx"), $"b0_micro", $"b1_micro",
        $"b2_micro", $"r2")
  }

  val q297Sql: String =
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
       |    count(*) AS x2
       |  FROM events GROUP BY 1),
       |rk AS (
       |  SELECT y, x2, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x1
       |  FROM daily),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
       |    CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
       |    CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
       |    CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
       |    CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
       |    CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM rk),
       |k AS (
       |  SELECT *,
       |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
       |      + s2 * (s1 * s12 - s11 * s2) AS det,
       |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
       |      + s2 * (s1y * s12 - s11 * s2y) AS d0,
       |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
       |      + s2 * (s1 * s2y - s1y * s2) AS d1,
       |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
       |      + sy * (s1 * s12 - s11 * s2) AS d2
       |  FROM m),
       |f AS (
       |  SELECT *, det * syy - (d0 * sy + d1 * s1y + d2 * s2y) AS sse_det,
       |    n * syy - sy * sy AS sst_n
       |  FROM k)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ${sqlR6("CAST(det AS DOUBLE)")} AS det_approx,
       |  CAST((d0 * 1000000) // det AS BIGINT) AS b0_micro,
       |  CAST((d1 * 1000000) // det AS BIGINT) AS b1_micro,
       |  CAST((d2 * 1000000) // det AS BIGINT) AS b2_micro,
       |  ${sqlR6("1.0 - (CAST(sse_det AS DOUBLE) / CAST(det AS DOUBLE)) / (CAST(sst_n AS DOUBLE) / CAST(n AS DOUBLE))")}
       |    AS r2
       |FROM f""".stripMargin

  /** q304 — partial correlation: does daily revenue correlate with
    * daily event volume AFTER the shared time trend is removed?
    * Raw r(y, x) is confounded — both series drift with the
    * calendar — so the readout is r_{yx·t} = (r_yx − r_yt·r_xt) /
    * √((1−r_yt²)(1−r_xt²)). All three pairwise correlations come
    * from the same exact moment sums (n·Σab − Σa·Σb over
    * DECIMAL(38,0), the q83 discipline): each r is one fixed-shape
    * double with one sqrt, and the partial-correlation formula runs
    * on those three doubles — mirrored operation-for-operation.
    * Emits raw AND partial r: the gap between them IS the trend
    * confounding.
    *
    * Scale shape: one collapse to the day grid, one 9-sum
    * aggregate, scalar arithmetic. */
  def q304(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(when($"event_type" === "purchase", floor($"value" * 100))
        .otherwise(0L).cast("long")).as("y"),
        count(lit(1)).as("x"))
      .withColumn("t", row_number().over(Window.orderBy($"day")).cast("long"))
    val m = daily.agg(
      count(lit(1)).as("n"),
      sum($"y").as("sy"), sum($"x").as("sx"), sum($"t").as("st"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(t as decimal(38,0)) * t")).as("stt"),
      sum(expr("cast(y as decimal(38,0)) * x")).as("syx"),
      sum(expr("cast(y as decimal(38,0)) * t")).as("syt"),
      sum(expr("cast(x as decimal(38,0)) * t")).as("sxt"))
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      expr(s"cast(n * $sab - cast($sa as decimal(38,0)) * $sb as double)") /
        (sqrt(expr(s"cast(n * $saa - cast($sa as decimal(38,0)) * $sa as double)")) *
          sqrt(expr(s"cast(n * $sbb - cast($sb as decimal(38,0)) * $sb as double)")))
    val ryx = r("syx", "sy", "sx", "syy", "sxx")
    val ryt = r("syt", "sy", "st", "syy", "stt")
    val rxt = r("sxt", "sx", "st", "sxx", "stt")
    m.withColumn("r_yx", ryx).withColumn("r_yt", ryt).withColumn("r_xt", rxt)
      .select($"n",
        r6($"r_yx").as("r_raw"),
        r6($"r_yt").as("r_y_trend"),
        r6($"r_xt").as("r_x_trend"),
        r6(($"r_yx" - $"r_yt" * $"r_xt") /
          sqrt((lit(1.0) - $"r_yt" * $"r_yt") *
            (lit(1.0) - $"r_xt" * $"r_xt"))).as("r_partial"))
  }

  val q304Sql: String = {
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      s"(CAST(n * $sab - $sa * $sb AS DOUBLE) / " +
        s"(sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE)) * " +
        s"sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE))))"
    val ryx = r("syx", "sy", "sx", "syy", "sxx")
    val ryt = r("syt", "sy", "st", "syy", "stt")
    val rxt = r("sxt", "sx", "st", "sxx", "stt")
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
       |    count(*) AS x
       |  FROM events GROUP BY 1),
       |rk AS (
       |  SELECT y, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
       |  FROM daily),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(x) AS HUGEINT) AS sx,
       |    CAST(sum(t) AS HUGEINT) AS st,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
       |    CAST(sum(CAST(y AS HUGEINT) * x) AS HUGEINT) AS syx,
       |    CAST(sum(CAST(y AS HUGEINT) * t) AS HUGEINT) AS syt,
       |    CAST(sum(CAST(x AS HUGEINT) * t) AS HUGEINT) AS sxt
       |  FROM rk),
       |k AS (
       |  SELECT CAST(n AS BIGINT) AS n,
       |    $ryx AS r_yx, $ryt AS r_yt, $rxt AS r_xt
       |  FROM m)
       |SELECT n,
       |  ${sqlR6("r_yx")} AS r_raw,
       |  ${sqlR6("r_yt")} AS r_y_trend,
       |  ${sqlR6("r_xt")} AS r_x_trend,
       |  ${sqlR6("(r_yx - r_yt * r_xt) / sqrt((1.0 - r_yt * r_yt) * (1.0 - r_xt * r_xt))")}
       |    AS r_partial
       |FROM k""".stripMargin
  }

  /** q305 — distribution-free confidence interval for the median of
    * `value` per event type: the ORDER-STATISTIC interval [x₍ₗ₎,
    * x₍ᵤ₎] with l = max(1, ⌊(n − 1.96√n)/2⌋), u = min(n, ⌈1 + (n +
    * 1.96√n)/2⌉) — the binomial-count argument needs no normality of
    * the DATA (only the n-scale normal approximation of the rank,
    * pinned shape, one sqrt). This is the honest uncertainty band a
    * median dashboard should draw instead of ±1.96·SE (which assumes
    * a symmetric sampling distribution the median does not have on
    * skewed data). Rank selection and bounds are integers; selected
    * values are raw data doubles, r6-fixed on output.
    *
    * Scale shape: ranks ride [[Ranking.groupRanks]] (event_type is
    * the enum key the straggler guard watches); bound arithmetic
    * joins from the bounded per-type count aggregate. */
  def q305(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", $"event_id", $"value")
    val ranked = Ranking.groupRanks(e, Seq("event_type"), 8,
      $"value".asc, $"event_id".asc)
    val ns = e.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .withColumnRenamed("event_type", "__nt")
    ranked.join(broadcast(ns), $"event_type" === $"__nt")
      .withColumn("l", greatest(lit(1L),
        floor(($"n".cast("double") - lit(1.96) * sqrt($"n".cast("double"))) / 2)
          .cast("long")))
      .withColumn("m", ceil($"n" * 0.5).cast("long"))
      .withColumn("u", least($"n",
        ceil(lit(1.0) + ($"n".cast("double") + lit(1.96) * sqrt($"n".cast("double"))) / 2)
          .cast("long")))
      .groupBy($"event_type", $"n", $"l", $"m", $"u")
      .agg(min(when($"rank" === $"l", $"value")).as("v_lo"),
        min(when($"rank" === $"m", $"value")).as("v_med"),
        min(when($"rank" === $"u", $"value")).as("v_hi"))
      .select($"event_type", $"n", $"l".as("lo_rank"), $"u".as("hi_rank"),
        r6($"v_lo").as("ci_lo"), r6($"v_med").as("median"),
        r6($"v_hi").as("ci_hi"))
      .orderBy($"event_type")
  }

  val q305Sql: String =
    s"""WITH r AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rank,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |b AS (
       |  SELECT *,
       |    greatest(1, CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
       |      AS BIGINT)) AS l,
       |    CAST(ceil(n * 0.5) AS BIGINT) AS m,
       |    least(n, CAST(ceil(1.0 + (CAST(n AS DOUBLE) + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
       |      AS BIGINT)) AS u
       |  FROM r)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  l AS lo_rank, u AS hi_rank,
       |  ${sqlR6("min(CASE WHEN rank = l THEN value END)")} AS ci_lo,
       |  ${sqlR6("min(CASE WHEN rank = m THEN value END)")} AS median,
       |  ${sqlR6("min(CASE WHEN rank = u THEN value END)")} AS ci_hi
       |FROM b
       |GROUP BY event_type, n, l, m, u
       |ORDER BY event_type""".stripMargin

  /** q306 — von Neumann ratio (mean-squared-successive-difference
    * test) of daily revenue per event type: VN = n·Σd² / (n·Σy² −
    * (Σy)²) with d the day-over-day differences — ≈ 2 for white
    * noise, < 2 under positive autocorrelation (trend/momentum),
    * > 2 under oscillation. The whole statistic is one integer
    * division: numerator and denominator are exact DECIMAL(38,0)/
    * HUGEINT moment sums, so the autocorrelation verdict needs no
    * float until the emitted micro value. The stationarity
    * companion to q218's CUSUM (level shifts) and q284's STL
    * (seasonal structure).
    *
    * Scale shape: one collapse to the (type × day) grid; the lag
    * runs over that bounded grid. */
  def q306(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .groupBy($"event_type", epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val withD = daily.withColumn("d", $"y" - lag($"y", 1).over(w))
    withD.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"y").as("sy"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
        sum(expr("cast(d as decimal(38,0)) * d")).as("sdd"))
      .withColumn("sst", expr("n * syy - cast(sy as decimal(38,0)) * sy"))
      .select($"event_type", $"n",
        when($"sst" =!= 0,
          expr("(n * sdd * 1000000) div (n * syy - cast(sy as decimal(38,0)) * sy)"))
          .as("vn_micro"))
      .orderBy($"event_type")
  }

  val q306Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |wd AS (
      |  SELECT event_type, y,
      |    y - lag(y) OVER (PARTITION BY event_type ORDER BY day) AS d
      |  FROM daily),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
      |  FROM wd GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n * syy - sy * sy <> 0
      |    THEN CAST((n * sdd * 1000000) // (n * syy - sy * sy) AS BIGINT)
      |  END AS vn_micro
      |FROM m ORDER BY event_type""".stripMargin

  /** q307 — Wald–Wolfowitz runs test on daily revenue around its
    * median: too FEW sign-runs means momentum (consecutive
    * above-median days clump), too many means oscillation — the
    * randomness check that needs no distributional assumption at
    * all. The median is the nearest-rank lower median on the bounded
    * day grid; runs/sign counts are exact integers; z = (R − μ)/σ
    * with μ = 2n₁n₂/N + 1 and σ² = 2n₁n₂(2n₁n₂−N)/(N²(N−1)) is the
    * one pinned double shape (one sqrt). Days exactly AT the median
    * drop (stated — the standard treatment of ties).
    *
    * Scale shape: everything after the one day-grid collapse is
    * bounded-grid windows and scalar arithmetic. */
  def q307(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .transform(Fx.materialize)
    val nAll = daily.agg(count(lit(1)).as("n_days"))
    val med = daily
      .withColumn("rk", row_number().over(Window.orderBy($"y", $"day")))
      .crossJoin(broadcast(nAll))
      .filter($"rk" === ceil($"n_days" * 0.5))
      .select($"y".as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter($"y" =!= $"med")
      .withColumn("sgn", ($"y" > $"med").cast("int"))
    val runs = signs
      .withColumn("brk",
        when(lag($"sgn", 1).over(Window.orderBy($"day")).isNull ||
          lag($"sgn", 1).over(Window.orderBy($"day")) =!= $"sgn", 1L)
          .otherwise(0L))
      .agg(sum($"brk").as("r_runs"),
        sum($"sgn".cast("long")).as("n1"),
        sum(lit(1L) - $"sgn").as("n2"))
    val n1d = $"n1".cast("double"); val n2d = $"n2".cast("double")
    val nD = n1d + n2d
    val mu = lit(2.0) * n1d * n2d / nD + lit(1.0)
    val sig2 = lit(2.0) * n1d * n2d * (lit(2.0) * n1d * n2d - nD) /
      (nD * nD * (nD - lit(1.0)))
    runs.select($"r_runs", $"n1", $"n2",
        r6(mu).as("mu_runs"),
        r6(($"r_runs".cast("double") - mu) / sqrt(sig2)).as("z"))
  }

  val q307Sql: String = {
    val mu = "(2.0 * n1 * n2 / (n1 + n2) + 1.0)"
    val sig2 = "(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)) / " +
      "((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0)))"
    s"""WITH daily AS (
       |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |nn AS (SELECT count(*) AS n_days FROM daily),
       |med AS (
       |  SELECT y AS med FROM (
       |    SELECT y, row_number() OVER (ORDER BY y, day) AS rk FROM daily) t
       |  CROSS JOIN nn WHERE rk = CAST(ceil(n_days * 0.5) AS BIGINT)),
       |signs AS (
       |  SELECT day, CAST(y > med AS INT) AS sgn
       |  FROM daily CROSS JOIN med WHERE y <> med),
       |runs AS (
       |  SELECT
       |    CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT)
       |      AS r_runs,
       |    CAST(sum(sgn) AS BIGINT) AS n1,
       |    CAST(sum(1 - sgn) AS BIGINT) AS n2
       |  FROM (SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM signs) t)
       |SELECT r_runs, n1, n2,
       |  ${sqlR6(mu)} AS mu_runs,
       |  ${sqlR6(s"(CAST(r_runs AS DOUBLE) - $mu) / sqrt($sig2)")} AS z
       |FROM runs""".stripMargin
  }

  /** q309 — exact skewness and kurtosis per event type: the
    * higher-moment shape audit (q132/q163 flag outliers; this says
    * whether the DISTRIBUTION ITSELF is skewed or heavy-tailed, i.e.
    * whether a z-score flag is even meaningful). Central power sums
    * come from raw power sums with denominators cleared — A2 = n·S2
    * − S1², A3 = n²·S3 − 3n·S2·S1 + 2S1³, A4 = n³·S4 − 4n²·S3·S1 +
    * 6n·S2·S1² − 3S1⁴, all exact on DECIMAL(38,0)/HUGEINT over the
    * whole-dollar grid (cents⁴ would overflow 38 digits at sf0.1 —
    * sized, not guessed). The n-powers CANCEL in both ratios:
    * kurtosis = A4/A2² is a pure integer micro-division — no float
    * at all — and skewness = A3/(A2·√A2) is one pinned double shape
    * with the session's one sqrt. Excess kurtosis emitted beside it.
    *
    * Scale shape: one 5-sum aggregate per type; everything after is
    * per-type scalar arithmetic. */
  def q309(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"event_type", floor($"value").cast("long").as("x"))
    val m = e.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"x").as("s1"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("s2"),
      sum(expr("cast(x as decimal(38,0)) * x * x")).as("s3"),
      sum(expr("cast(x as decimal(38,0)) * x * x * x")).as("s4"))
    m.withColumn("a2", expr("n * s2 - cast(s1 as decimal(38,0)) * s1"))
      .withColumn("a3", expr(
        """cast(n as decimal(38,0)) * n * s3 - 3 * n * s2 * s1
           + 2 * cast(s1 as decimal(38,0)) * s1 * s1"""))
      .withColumn("a4", expr(
        """cast(n as decimal(38,0)) * n * n * s4
           - 4 * cast(n as decimal(38,0)) * n * s3 * s1
           + 6 * n * s2 * cast(s1 as decimal(38,0)) * s1
           - 3 * cast(s1 as decimal(38,0)) * s1 * s1 * s1"""))
      .select($"event_type", $"n",
        r6($"a3".cast("double") /
          ($"a2".cast("double") * sqrt($"a2".cast("double")))).as("skewness"),
        expr("(a4 * 1000000) div (a2 * a2)").as("kurt_micro"),
        (expr("(a4 * 1000000) div (a2 * a2)") - 3000000L).as("excess_micro"))
      .orderBy($"event_type")
  }

  val q309Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(floor(value) AS BIGINT) AS x FROM events),
       |m AS (
       |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS s1,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
       |  FROM e GROUP BY 1),
       |k AS (
       |  SELECT event_type, n,
       |    n * s2 - s1 * s1 AS a2,
       |    n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS a3,
       |    n * n * n * s4 - 4 * n * n * s3 * s1 + 6 * n * s2 * s1 * s1
       |      - 3 * s1 * s1 * s1 * s1 AS a4
       |  FROM m)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  ${sqlR6("CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE)))")}
       |    AS skewness,
       |  CAST((a4 * 1000000) // (a2 * a2) AS BIGINT) AS kurt_micro,
       |  CAST((a4 * 1000000) // (a2 * a2) AS BIGINT) - 3000000 AS excess_micro
       |FROM k ORDER BY event_type""".stripMargin

  /** q414 — Jarque–Bera normality test per event type: the TEST
    * companion to q309's shape estimates (the q274→q393 pattern) —
    * JB = n/6·(g₁² + g₂²/4) against χ²(2), answering "is a z-score
    * even a meaningful flag for this metric?" with a verdict where
    * q309 only reports the moments. Exact lineage: g₁ is q309's
    * pinned double shape A3/(A2√A2) over exact DECIMAL central forms;
    * g₂ is q309's stated integer micro truncation (A4·10⁶ div A2²
    * − 3·10⁶); JB is one fixed double tree over those two, so both
    * engines branch on bit-identical doubles at the pinned 5.991465
    * critical value.
    *
    * Scale shape: one 5-sum aggregate per type (map-side combine);
    * scalar arithmetic after. */
  def q414(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, d)
      .select($"event_type", floor($"value").cast("long").as("x"))
    val m = e.groupBy($"event_type").agg(
      count(lit(1)).as("n"),
      sum($"x").as("s1"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("s2"),
      sum(expr("cast(x as decimal(38,0)) * x * x")).as("s3"),
      sum(expr("cast(x as decimal(38,0)) * x * x * x")).as("s4"))
    m.withColumn("a2", expr("n * s2 - cast(s1 as decimal(38,0)) * s1"))
      .withColumn("a3", expr(
        """cast(n as decimal(38,0)) * n * s3 - 3 * n * s2 * s1
           + 2 * cast(s1 as decimal(38,0)) * s1 * s1"""))
      .withColumn("a4", expr(
        """cast(n as decimal(38,0)) * n * n * s4
           - 4 * cast(n as decimal(38,0)) * n * s3 * s1
           + 6 * n * s2 * cast(s1 as decimal(38,0)) * s1
           - 3 * cast(s1 as decimal(38,0)) * s1 * s1 * s1"""))
      .withColumn("skew", $"a3".cast("double") /
        ($"a2".cast("double") * sqrt($"a2".cast("double"))))
      .withColumn("excess_micro",
        expr("(a4 * 1000000) div (a2 * a2)") - 3000000L)
      .withColumn("jb", $"n".cast("double") * ($"skew" * $"skew" +
        ($"excess_micro".cast("double") / lit(1000000.0)) *
        ($"excess_micro".cast("double") / lit(1000000.0)) / lit(4.0)) /
        lit(6.0))
      .select($"event_type", $"n", r6($"skew").as("skewness"),
        $"excess_micro", r6($"jb").as("jb"),
        ($"jb" > lit(5.991465)).cast("int").as("reject_5pct"))
      .orderBy($"event_type")
  }

  val q414Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, CAST(floor(value) AS BIGINT) AS x FROM events),
       |m AS (
       |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS s1,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
       |    CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
       |  FROM e GROUP BY 1),
       |k AS (
       |  SELECT event_type, n,
       |    n * s2 - s1 * s1 AS a2,
       |    n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS a3,
       |    n * n * n * s4 - 4 * n * n * s3 * s1 + 6 * n * s2 * s1 * s1
       |      - 3 * s1 * s1 * s1 * s1 AS a4
       |  FROM m),
       |j AS (
       |  SELECT event_type, n,
       |    CAST(a3 AS DOUBLE) / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE)))
       |      AS skew,
       |    CAST((a4 * 1000000) // (a2 * a2) AS BIGINT) - 3000000
       |      AS excess_micro
       |  FROM k),
       |f AS (
       |  SELECT event_type, n, skew, excess_micro,
       |    CAST(n AS DOUBLE) * (skew * skew
       |      + (CAST(excess_micro AS DOUBLE) / 1000000.0)
       |      * (CAST(excess_micro AS DOUBLE) / 1000000.0) / 4.0) / 6.0 AS jb
       |  FROM j)
       |SELECT event_type, CAST(n AS BIGINT) AS n, ${sqlR6("skew")} AS skewness,
       |  excess_micro, ${sqlR6("jb")} AS jb,
       |  CAST(jb > 5.991465 AS INT) AS reject_5pct
       |FROM f ORDER BY event_type""".stripMargin

  /** q311 — weekday percentile envelope with a latest-day audit: per
    * weekday, the nearest-rank p10/p50/p90 of daily purchase revenue
    * (the seasonal band an ops dashboard shades), plus the MOST
    * RECENT occurrence of that weekday checked against its own band
    * — "is this Monday out of line for a Monday?" is the question
    * that catches incidents the global q284 residual test dilutes
    * across the week. Ranks select on the bounded day grid
    * (tie-broken by day), band membership is an integer comparison
    * of exact cents.
    *
    * Scale shape: one collapse to the day grid; per-weekday ranks
    * and the latest-day join all run on that calendar-bounded
    * relation. */
  def q311(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .withColumn("wd", expr("day % 7"))
      .transform(Fx.materialize)
    val w = Window.partitionBy($"wd").orderBy($"y", $"day")
    val ranked = daily
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"wd")))
    val bands = ranked.groupBy($"wd", $"n")
      .agg(min(when($"rk" === greatest(lit(1L), ceil($"n" * 0.1)), $"y")).as("p10"),
        min(when($"rk" === ceil($"n" * 0.5), $"y")).as("p50"),
        min(when($"rk" === ceil($"n" * 0.9), $"y")).as("p90"))
    val latest = daily.groupBy($"wd").agg(max($"day").as("last_day"))
      .withColumnRenamed("wd", "__w")
      .join(daily.withColumnRenamed("wd", "__w2"),
        $"last_day" === $"day" )
      .select($"__w", $"last_day", $"y".as("last_y"))
    bands.join(latest, $"wd" === $"__w")
      .select($"wd", $"n".cast("long").as("n_days"), $"p10", $"p50", $"p90",
        $"last_day", $"last_y",
        ($"last_y" < $"p10").cast("int").as("below_band"),
        ($"last_y" > $"p90").cast("int").as("above_band"))
      .orderBy($"wd")
  }

  val q311Sql: String =
    """WITH daily AS (
      |  SELECT day, y, day % 7 AS wd FROM (
      |    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |      CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |    FROM events WHERE event_type = 'purchase' GROUP BY 1) t),
      |r AS (
      |  SELECT wd, day, y,
      |    row_number() OVER (PARTITION BY wd ORDER BY y, day) AS rk,
      |    count(*) OVER (PARTITION BY wd) AS n
      |  FROM daily),
      |bands AS (
      |  SELECT wd, n,
      |    min(CASE WHEN rk = greatest(1, CAST(ceil(n * 0.1) AS BIGINT)) THEN y END) AS p10,
      |    min(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT) THEN y END) AS p50,
      |    min(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT) THEN y END) AS p90
      |  FROM r GROUP BY wd, n),
      |latest AS (
      |  SELECT d2.wd, d2.day AS last_day, d2.y AS last_y
      |  FROM (SELECT wd, max(day) AS last_day FROM daily GROUP BY wd) m
      |  JOIN daily d2 ON d2.day = m.last_day)
      |SELECT b.wd, CAST(b.n AS BIGINT) AS n_days, b.p10, b.p50, b.p90,
      |  l.last_day, l.last_y,
      |  CAST(l.last_y < b.p10 AS INT) AS below_band,
      |  CAST(l.last_y > b.p90 AS INT) AS above_band
      |FROM bands b JOIN latest l ON b.wd = l.wd
      |ORDER BY b.wd""".stripMargin

  /** q271 — Kaplan–Meier churn survival: users enter at their first
    * event, exit at their last; an exit before the final observed day
    * is CHURN (an event), final-day exits are right-censored
    * (still active when the data ends — precisely what the naive
    * "average lifetime" gets wrong by treating them as churned). The
    * product-limit estimator Ŝ(t) = Π (n_i − d_i)/n_i steps on the
    * micro-grid — S_k = ⌊S_{k-1}·(n_k − d_k)/n_k⌋, positive integers
    * throughout — with risk sets n_t = Σ_{s≥t}(d_s + c_s) as exact
    * suffix sums over the bounded duration domain. Emits the full
    * life table (risk set, deaths, censored, Ŝ).
    *
    * Scale shape: one per-user aggregate (first/last day), one
    * collapse onto the ≤|days| duration grid, driver fold +
    * recursive-CTE oracle (q270's pattern). */
  def q271(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"), max(epochDay($"ts")).as("last_day"))
    val maxDay = spans.agg(max($"last_day")).head().getInt(0)
    val grid = spans
      .select(($"last_day" - $"first_day").as("t"),
        ($"last_day" <= maxDay - 1).cast("long").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1L) - $"event").as("c"))
      .orderBy($"t")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
    val totalUsers = grid.map(g => g._2 + g._3).sum
    var atRisk = totalUsers
    var sMicro = 1000000L
    val rows = grid.map { case (t, dd, cc) =>
      val n = atRisk
      if (dd > 0) sMicro = Math.floorDiv(sMicro * (n - dd), n)
      atRisk -= (dd + cc)
      (t, n, dd, cc, sMicro)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("t_days", "n_risk", "deaths", "censored", "surv_micro")
      .orderBy($"t_days")
  }

  val q271Sql: String =
    """WITH RECURSIVE spans AS (
      |  SELECT user_id,
      |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
      |    max(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |g AS (
      |  SELECT last_day - first_day AS t,
      |    sum(CASE WHEN last_day <= max_day - 1 THEN 1 ELSE 0 END) AS d,
      |    sum(CASE WHEN last_day <= max_day - 1 THEN 0 ELSE 1 END) AS c
      |  FROM spans CROSS JOIN mx GROUP BY 1),
      |o AS (
      |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
      |    sum(d + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
      |  FROM g),
      |km(rn, t, n, d, c, s) AS (
      |  SELECT rn, t, n, d, c,
      |    CASE WHEN d > 0 THEN (1000000 * (n - d)) // n ELSE 1000000 END
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.t, o.n, o.d, o.c,
      |    CASE WHEN o.d > 0 THEN (km.s * (o.n - o.d)) // o.n ELSE km.s END
      |  FROM km JOIN o ON o.rn = km.rn + 1)
      |SELECT CAST(t AS BIGINT) AS t_days, CAST(n AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS deaths, CAST(c AS BIGINT) AS censored,
      |  CAST(s AS BIGINT) AS surv_micro
      |FROM km ORDER BY t_days""".stripMargin

  /** q429 — Greenwood variance and 95% confidence bands for q271's
    * Kaplan–Meier survival curve: Var(Ŝ(t)) = Ŝ(t)²·Σ_{tᵢ≤t}
    * dᵢ/(nᵢ(nᵢ−dᵢ)) — the INFERENCE layer the point estimate lacks
    * (q271 draws the curve, q283's log-rank compares two of them;
    * neither says how wide THIS curve's uncertainty is at each step,
    * which is what decides whether a retention dip is signal). Exact
    * core: each Greenwood increment is one stated truncation onto the
    * 1e-12 grid ((d·10¹²) div (n·(n−d)), DECIMAL-safe), the running
    * sum is an exact-integer prefix (order-free), and the only floats
    * are the final fixed trees se = (S/10⁶)·√g/10⁶ and the ±1.96
    * bands (clamped to [0,1], r6) — shared literals, identical
    * doubles both engines. When a step kills the whole risk set
    * (n = d, Ŝ hits 0) the Greenwood term divides by zero: that row
    * and everything after report NULL se/bands (stated).
    *
    * Scale shape: q271's — one per-user span aggregate, collapse onto
    * the bounded duration grid, driver fold over ≤|days| rows
    * (BigInt-exact); oracle = recursive CTE for Ŝ + window prefix for
    * g. */
  def q429(s: SparkSession, d: String): DataFrame = {
    import graft.Fx.epochDay
    import s.implicits._
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"), max(epochDay($"ts")).as("last_day"))
    val maxDay = spans.agg(max($"last_day")).head().getInt(0)
    val grid = spans
      .select(($"last_day" - $"first_day").as("t"),
        ($"last_day" <= maxDay - 1).cast("long").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1L) - $"event").as("c"))
      .orderBy($"t")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
    val totalUsers = grid.map(g => g._2 + g._3).sum
    var atRisk = totalUsers
    var sMicro = 1000000L
    var gP12 = BigInt(0)
    var degenerate = false
    def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val rows = grid.map { case (t, dd, cc) =>
      val n = atRisk
      if (dd > 0) {
        sMicro = Math.floorDiv(sMicro * (n - dd), n)
        if (n == dd) degenerate = true
        else gP12 += BigInt(dd) * 1000000000000L / (BigInt(n) * (n - dd))
      }
      atRisk -= (dd + cc)
      val bands: (Option[Double], Option[Double], Option[Double]) =
        if (degenerate) (None, None, None)
        else {
          val sd = sMicro.toDouble / 1000000.0
          val se = sd * math.sqrt(gP12.toDouble) / 1000000.0
          (Some(r6d(se)),
            Some(r6d(math.max(0.0, sd - 1.96 * se))),
            Some(r6d(math.min(1.0, sd + 1.96 * se))))
        }
      (t, n, dd, cc, sMicro, bands._1, bands._2, bands._3)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("t_days", "n_risk", "deaths", "censored", "surv_micro",
        "greenwood_se", "ci_lo", "ci_hi")
      .orderBy($"t_days")
  }

  val q429Sql: String = {
    import graft.Fx.sqlR6
    val sd = "(CAST(km.s AS DOUBLE) / 1000000.0)"
    val se = s"($sd * sqrt(CAST(gg.g AS DOUBLE)) / 1000000.0)"
    s"""WITH RECURSIVE spans AS (
       |  SELECT user_id,
       |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
       |    max(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day
       |  FROM events GROUP BY user_id),
       |mx AS (SELECT max(last_day) AS max_day FROM spans),
       |g AS (
       |  SELECT last_day - first_day AS t,
       |    sum(CASE WHEN last_day <= max_day - 1 THEN 1 ELSE 0 END) AS d,
       |    sum(CASE WHEN last_day <= max_day - 1 THEN 0 ELSE 1 END) AS c
       |  FROM spans CROSS JOIN mx GROUP BY 1),
       |o AS (
       |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
       |    sum(d + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
       |  FROM g),
       |km(rn, t, n, d, c, s) AS (
       |  SELECT rn, t, n, d, c,
       |    CASE WHEN d > 0 THEN (1000000 * (n - d)) // n ELSE 1000000 END
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT o.rn, o.t, o.n, o.d, o.c,
       |    CASE WHEN o.d > 0 THEN (km.s * (o.n - o.d)) // o.n ELSE km.s END
       |  FROM km JOIN o ON o.rn = km.rn + 1),
       |gg AS MATERIALIZED (
       |  SELECT rn,
       |    sum(CASE WHEN d > 0 AND n > d
       |          THEN (CAST(d AS HUGEINT) * 1000000000000)
       |            // (CAST(n AS HUGEINT) * (n - d))
       |          ELSE 0 END)
       |      OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS g,
       |    max(CASE WHEN d > 0 AND n = d THEN 1 ELSE 0 END)
       |      OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS degen
       |  FROM o)
       |SELECT CAST(km.t AS BIGINT) AS t_days, CAST(km.n AS BIGINT) AS n_risk,
       |  CAST(km.d AS BIGINT) AS deaths, CAST(km.c AS BIGINT) AS censored,
       |  CAST(km.s AS BIGINT) AS surv_micro,
       |  CASE WHEN gg.degen = 1 THEN NULL
       |       ELSE ${sqlR6(se)} END AS greenwood_se,
       |  CASE WHEN gg.degen = 1 THEN NULL
       |       ELSE ${sqlR6(s"greatest(0.0, $sd - 1.96 * $se)")} END AS ci_lo,
       |  CASE WHEN gg.degen = 1 THEN NULL
       |       ELSE ${sqlR6(s"least(1.0, $sd + 1.96 * $se)")} END AS ci_hi
       |FROM km JOIN gg ON gg.rn = km.rn
       |ORDER BY t_days""".stripMargin
  }

  /** q398 — Nelson–Aalen cumulative hazard over q271's retention
    * spans: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, the additive twin of Kaplan–Meier's
    * product (KM answers "what fraction survives to t"; NA answers
    * "how much hazard has accumulated by t" — the estimator of choice
    * when hazards are the modeling target, and log-KM ≈ −NA is the
    * standard cross-check). Same event/censor convention as q271
    * (death = last activity before the observation edge, edge day
    * censored). Exact: each increment is the STATED truncation
    * 1e6·dᵢ div nᵢ (q352's micro-div discipline) and H is the exact
    * integer sum of those increments — no recursion needed, unlike
    * KM's product, so the whole estimator is one cumulative-sum
    * window over the bounded duration grid.
    *
    * Scale shape: per-user span aggregate → duration-grid aggregate
    * (≤ observation-window days) → reverse-cumsum for n, forward
    * cumsum for H, both windows over the bounded grid. */
  def q398(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"), max(epochDay($"ts")).as("last_day"))
      .transform(graft.Fx.materialize) // max edge + grid
    val maxDay = spans.agg(max($"last_day")).head().getInt(0)
    val grid = spans
      .select(($"last_day" - $"first_day").cast("long").as("t"),
        ($"last_day" <= maxDay - 1).cast("long").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1L) - $"event").as("c"))
    val wDesc = Window.orderBy($"t".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n", sum($"d" + $"c").over(wDesc))
      .withColumn("haz_micro",
        when($"d" > 0L, expr("(1000000 * d) div n")).otherwise(lit(0L)))
      .withColumn("cumhaz_micro", sum($"haz_micro").over(wAsc))
      .select($"t".as("t_days"), $"n".as("n_risk"), $"d".as("deaths"),
        $"c".as("censored"), $"haz_micro", $"cumhaz_micro")
      .orderBy($"t_days")
  }

  val q398Sql: String =
    """WITH spans AS (
      |  SELECT user_id,
      |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
      |    max(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |g AS (
      |  SELECT CAST(last_day - first_day AS BIGINT) AS t,
      |    CAST(sum(CASE WHEN last_day <= max_day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN last_day <= max_day - 1 THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM spans CROSS JOIN mx GROUP BY 1),
      |o AS (
      |  SELECT t, d, c,
      |    sum(d + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
      |  FROM g),
      |h AS (
      |  SELECT t, n, d, c,
      |    CASE WHEN d > 0 THEN (1000000 * d) // n ELSE 0 END AS haz_micro
      |  FROM o)
      |SELECT t AS t_days, CAST(n AS BIGINT) AS n_risk, d AS deaths,
      |  c AS censored, CAST(haz_micro AS BIGINT) AS haz_micro,
      |  CAST(sum(haz_micro) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumhaz_micro
      |FROM h ORDER BY t_days""".stripMargin

  /** q412 — Aalen–Johansen competing-risks cumulative incidence:
    * from first activity, every user races toward one of two ABSORBING
    * outcomes — conversion (first purchase, event 1) or churn (last
    * activity before the observation edge with no purchase, event 2) —
    * or is censored still-active. Treating churn as "censoring" in a
    * conversion KM (or vice versa) overstates both curves (1−KM is
    * biased upward when a competing risk removes users); the AJ
    * estimator charges each event AGAINST THE SHARED RISK SET:
    * CIF_j(t) = Σ_{tᵢ≤t} S(tᵢ₋₁)·d_ij/nᵢ with S the ALL-CAUSE KM, so
    * surv + cif_conv + cif_churn ≈ 1e6 row by row (exactly, up to the
    * stated truncations). Exact: S steps by q271's micro recursion on
    * all-cause deaths; each increment is its own stated truncation
    * (S_prev·d_j) div n; the oracle replays the identical recursion
    * as a recursive CTE.
    *
    * Scale shape: one per-user aggregate (first/last/first-purchase
    * day), one collapse to the bounded duration grid, driver fold over
    * that grid (the q270/q271 bounded-fold pattern). */
  def q412(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"),
        max(epochDay($"ts")).as("last_day"),
        min(when($"event_type" === "purchase", epochDay($"ts")))
          .as("conv_day"))
      .transform(graft.Fx.materialize) // max edge + grid
    val maxDay = spans.agg(max($"last_day")).head().getInt(0)
    val grid = spans
      .select(when($"conv_day".isNotNull, $"conv_day" - $"first_day")
          .otherwise($"last_day" - $"first_day").as("t"),
        $"conv_day".isNotNull.cast("long").as("e1"),
        ($"conv_day".isNull && $"last_day" <= maxDay - 1).cast("long")
          .as("e2"))
      .groupBy($"t")
      .agg(sum($"e1").as("d1"), sum($"e2").as("d2"),
        sum(lit(1L) - $"e1" - $"e2").as("c"))
      .orderBy($"t")
      .collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3)))
    var atRisk = grid.map(g => g._2 + g._3 + g._4).sum
    var sMicro = 1000000L; var cif1 = 0L; var cif2 = 0L
    val rows = grid.map { case (t, d1, d2, c) =>
      val n = atRisk
      cif1 += Math.floorDiv(sMicro * d1, n)
      cif2 += Math.floorDiv(sMicro * d2, n)
      if (d1 + d2 > 0) sMicro = Math.floorDiv(sMicro * (n - d1 - d2), n)
      atRisk -= (d1 + d2 + c)
      (t, n, d1, d2, c, sMicro, cif1, cif2)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("t_days", "n_risk", "d_conv", "d_churn", "censored",
        "surv_micro", "cif_conv_micro", "cif_churn_micro")
      .orderBy($"t_days")
  }

  val q412Sql: String =
    """WITH RECURSIVE spans AS (
      |  SELECT user_id,
      |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
      |    max(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ts AS DATE) - DATE '1970-01-01' END) AS conv_day
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |g AS (
      |  SELECT CAST(CASE WHEN conv_day IS NOT NULL THEN conv_day - first_day
      |      ELSE last_day - first_day END AS BIGINT) AS t,
      |    CAST(sum(CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN conv_day IS NULL AND last_day <= max_day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(sum(CASE WHEN conv_day IS NULL AND last_day > max_day - 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM spans CROSS JOIN mx GROUP BY 1),
      |o AS (
      |  SELECT t, d1, d2, c, row_number() OVER (ORDER BY t) AS rn,
      |    sum(d1 + d2 + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
      |      AS n
      |  FROM g),
      |aj(rn, t, n, d1, d2, c, s, c1, c2) AS (
      |  SELECT rn, t, n, d1, d2, c,
      |    CASE WHEN d1 + d2 > 0 THEN (1000000 * (n - d1 - d2)) // n
      |      ELSE 1000000 END,
      |    (1000000 * d1) // n, (1000000 * d2) // n
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.t, o.n, o.d1, o.d2, o.c,
      |    CASE WHEN o.d1 + o.d2 > 0
      |      THEN (aj.s * (o.n - o.d1 - o.d2)) // o.n ELSE aj.s END,
      |    aj.c1 + (aj.s * o.d1) // o.n,
      |    aj.c2 + (aj.s * o.d2) // o.n
      |  FROM aj JOIN o ON o.rn = aj.rn + 1)
      |SELECT t AS t_days, CAST(n AS BIGINT) AS n_risk, d1 AS d_conv,
      |  d2 AS d_churn, c AS censored, CAST(s AS BIGINT) AS surv_micro,
      |  CAST(c1 AS BIGINT) AS cif_conv_micro,
      |  CAST(c2 AS BIGINT) AS cif_churn_micro
      |FROM aj ORDER BY t_days""".stripMargin

  /** q193 — conversion-window funnel: view → click → purchase where
    * each step must land within ONE HOUR of the previous step (the
    * attribution-window semantics real funnel metrics use — q104's
    * unbounded variant counts a purchase a month later as converted).
    * Same single-shuffle shape as q104: sorted per-user timeline fold,
    * then a stage rollup with exact integer latency sums (avg latency
    * is one division of exact BIGINTs, r4 seconds). */
  def q193(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val windowUs = 3600000000L
    val ev = Tables.events(s, d)
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_type")
    val zero = struct(
      lit(null).cast("long").as("t1"),
      lit(null).cast("long").as("t2"),
      lit(null).cast("long").as("t3"))
    val folded = ev.groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"us", $"event_type"))).as("evs"))
      .select($"user_id", aggregate($"evs", zero, (acc, e) => struct(
        when(acc("t1").isNull && e("event_type") === "view", e("us"))
          .otherwise(acc("t1")).as("t1"),
        when(acc("t2").isNull && acc("t1").isNotNull &&
            e("event_type") === "click" && e("us") > acc("t1") &&
            e("us") - acc("t1") <= windowUs, e("us"))
          .otherwise(acc("t2")).as("t2"),
        when(acc("t3").isNull && acc("t2").isNotNull &&
            e("event_type") === "purchase" && e("us") > acc("t2") &&
            e("us") - acc("t2") <= windowUs, e("us"))
          .otherwise(acc("t3")).as("t3"))).as("f"))
    folded
      .select(
        (when($"f.t1".isNotNull, 1).otherwise(0) +
          when($"f.t2".isNotNull, 1).otherwise(0) +
          when($"f.t3".isNotNull, 1).otherwise(0)).as("stage"),
        ($"f.t2" - $"f.t1").as("l12"), ($"f.t3" - $"f.t2").as("l23"))
      .groupBy($"stage")
      .agg(count(lit(1)).as("n_users"),
        sum($"l12").as("sum12_us"), sum($"l23").as("sum23_us"),
        count($"l12").as("n12"), count($"l23").as("n23"))
      .select($"stage", $"n_users",
        r4($"sum12_us" / $"n12" / 1000000L).as("avg_click_latency_s"),
        r4($"sum23_us" / $"n23" / 1000000L).as("avg_purchase_latency_s"))
      .orderBy($"stage")
  }

  val q193Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |f1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t1
      |       FROM e GROUP BY user_id),
      |f2 AS (SELECT f1.user_id, f1.t1,
      |         min(CASE WHEN e.event_type = 'click' AND e.us > f1.t1
      |                   AND e.us - f1.t1 <= 3600000000 THEN e.us END) AS t2
      |       FROM f1 LEFT JOIN e ON e.user_id = f1.user_id GROUP BY f1.user_id, f1.t1),
      |f3 AS (SELECT f2.user_id, f2.t1, f2.t2,
      |         min(CASE WHEN e.event_type = 'purchase' AND e.us > f2.t2
      |                   AND e.us - f2.t2 <= 3600000000 THEN e.us END) AS t3
      |       FROM f2 LEFT JOIN e ON e.user_id = f2.user_id GROUP BY f2.user_id, f2.t1, f2.t2),
      |per AS (
      |  SELECT CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
      |       + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |       + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
      |    t2 - t1 AS l12, t3 - t2 AS l23
      |  FROM f3)
      |SELECT stage, count(*) AS n_users,
      |  floor(CAST(sum(l12) AS BIGINT) / count(l12) / 1000000 * 10000 + 0.5) / 10000 AS avg_click_latency_s,
      |  floor(CAST(sum(l23) AS BIGINT) / count(l23) / 1000000 * 10000 + 0.5) / 10000 AS avg_purchase_latency_s
      |FROM per GROUP BY stage ORDER BY stage""".stripMargin

  // ------------------------------------------------------------------
  // q215 — calendar-spine resample + linear interpolation
  // ------------------------------------------------------------------

  /** q215 — regularize an irregular time series onto a daily calendar
    * spine and linearly interpolate interior gaps (pandas
    * `resample('D').sum(min_count=1).interpolate(limit_area='inside')`
    * — min_count keeps empty days NaN instead of 0, limit_area
    * restricts the fill to interior gaps): daily revenue per order
    * priority, with empty days filled as `prev + (next − prev) ·
    * (day − prev_day)/(next_day − prev_day)`; leading/trailing gaps
    * stay null. Complements q134's forward-fill (LOCF) with the
    * interpolating variant.
    *
    * Scale shape: the corpus is reduced to bounded (priority, day)
    * cells FIRST — one shuffle keyed on the cells, exact BIGINT cents
    * — so every window here runs over the calendar-bounded spine
    * (~2.4 K days × 5 priorities), never over row data; a 100 TB
    * order history changes only the scan, not the interpolation. The
    * neighbor day and value ride separate last/first(IGNORE NULLS)
    * frames that are consistent by construction (their null patterns
    * are identical per row). The only doubles are divisions/products
    * of exactly-represented integers in one mirrored shape. */
  def q215(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The cell relation feeds FOUR consumers (bounds, the priority
    // dim, the join, and through it the windows); localCheckpoint
    // materializes the one orders scan + shuffle instead of running
    // it once per consumer. The relation is calendar-bounded — safe
    // to pin at any corpus scale.
    val daily = Tables.orders(s, d)
      .select($"o_orderpriority".as("priority"),
        epochDay($"o_orderdate").as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"priority", $"day").agg(sum($"c").as("cents"))
      .transform(graft.Fx.materialize)
    // r19: ONE global aggregation builds the whole spine — bounds AND
    // the priority domain (bounded by spec: 5 values, so collect_set
    // state is O(domain), the house bounded-domain discipline). The
    // previous form ran a bounds agg + a distinct (its own exchange) +
    // a broadcast cross-join: three operator subtrees and two extra
    // AQE stages to produce the same ≤ |domain| × days rows. Plan
    // diff: 2 aggregates + BroadcastNestedLoopJoin + BroadcastExchange
    // → 1 aggregate + 2 Generates (guide §2.4 — remove shuffles
    // outright). Same spine rows, so identical query output.
    val spine = daily
      .agg(min($"day").as("d0"), max($"day").as("d1"),
        sort_array(collect_set($"priority")).as("ps"))
      .select(explode($"ps").as("priority"), $"d0", $"d1")
      .select($"priority", explode(sequence($"d0", $"d1")).as("day"))
    val wPrev = Window.partitionBy($"priority").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy($"priority").orderBy($"day")
      .rowsBetween(1, Window.unboundedFollowing)
    spine.join(daily, Seq("priority", "day"), "left")
      .withColumn("p_d", last(when($"cents".isNotNull, $"day"), ignoreNulls = true).over(wPrev))
      .withColumn("p_v", last($"cents", ignoreNulls = true).over(wPrev))
      .withColumn("n_d", first(when($"cents".isNotNull, $"day"), ignoreNulls = true).over(wNext))
      .withColumn("n_v", first($"cents", ignoreNulls = true).over(wNext))
      .select($"priority", $"day".cast("long").as("day"),
        $"cents".isNotNull.cast("int").as("observed"),
        r4(when($"cents".isNotNull, $"cents".cast("double") / 100.0)
          .otherwise(($"p_v" + ($"n_v" - $"p_v") *
            (($"day" - $"p_d").cast("double") / ($"n_d" - $"p_d"))) / 100.0))
          .as("revenue"))
      .orderBy($"priority", $"day")
  }

  val q215Sql: String =
    s"""WITH daily AS (
       |  SELECT o_orderpriority AS priority,
       |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day,
       |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders GROUP BY 1, 2),
       |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       |spine AS (
       |  SELECT p.priority, unnest(generate_series(b.d0, b.d1)) AS day
       |  FROM (SELECT DISTINCT priority FROM daily) p CROSS JOIN b),
       |g AS (
       |  SELECT s.priority, s.day, d.cents FROM spine s
       |  LEFT JOIN daily d ON s.priority = d.priority AND s.day = d.day),
       |w AS (
       |  SELECT priority, day, cents,
       |    last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
       |      OVER (PARTITION BY priority ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_d,
       |    last_value(cents IGNORE NULLS)
       |      OVER (PARTITION BY priority ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_v,
       |    first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
       |      OVER (PARTITION BY priority ORDER BY day
       |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_d,
       |    first_value(cents IGNORE NULLS)
       |      OVER (PARTITION BY priority ORDER BY day
       |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_v
       |  FROM g)
       |SELECT priority, CAST(day AS BIGINT) AS day,
       |  CAST(cents IS NOT NULL AS INT) AS observed,
       |  ${sqlR4("CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE) / 100.0 " +
           "ELSE (p_v + (n_v - p_v) * (CAST(day - p_d AS DOUBLE) / (n_d - p_d))) / 100.0 END")} AS revenue
       |FROM w ORDER BY priority, day""".stripMargin

  // ------------------------------------------------------------------
  // q217 — robust outliers via median/MAD (rank statistics)
  // ------------------------------------------------------------------

  /** q217 — robust anomaly detection on daily event volumes: flag days
    * where `|n − median| > 3·MAD` per event type — the
    * median/median-absolute-deviation companion to q132's mean/σ
    * z-score. Robust statistics matter precisely on anomaly-bearing
    * data: one extreme day inflates σ enough to mask itself (the
    * masking effect), while the median and MAD ignore it.
    *
    * Everything is INTEGER — counts, nearest-rank medians, absolute
    * deviations, and the 3·MAD comparison — so no float enters the
    * output at all (contrast q132, which needs the σ>0 guard for its
    * division). The nearest-rank selection runs the q199 cumulative
    * cell rule twice (value cells, then deviation cells): windows only
    * over per-type cell relations bounded by the day-count domain,
    * never row data. MAD=0 (a majority of identical daily counts)
    * deliberately flags nothing, mirroring q132's degenerate-σ rule. */
  /** Nearest-rank median of `valueCol` per `typ` via the q199
    * cumulative cell rule: windows run only over (typ, value) cells,
    * never row data. Shared by q217 (median/MAD) and q218 (CUSUM
    * baseline). */
  private def medianOf(df: DataFrame, valueCol: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, min, sum, when}
    val cells = df.groupBy(col("typ"), col(valueCol))
      .agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(col("typ")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("tw", sum(col("c")).over(Window.partitionBy(col("typ"))))
      .withColumn("cw", sum(col("c")).over(cum))
      .groupBy(col("typ"))
      .agg(min(when(col("cw") * 2 >= col("tw"), col(valueCol))).as(out))
  }

  /** Shared daily per-type event volumes (typ, day, n) — the input
    * relation of the robust-statistics family (q217, q218) and the
    * trending report (q241). */
  private def dailyVolumes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type".as("typ"), epochDay($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
  }

  def q217(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = dailyVolumes(s, d)
      .transform(graft.Fx.materialize) // feeds the median pass AND the final join
    val withDev = daily.join(medianOf(daily, "n", "med"), "typ")
      .withColumn("dev", abs($"n" - $"med"))
    withDev.join(medianOf(withDev, "dev", "mad"), "typ")
      .select($"typ", $"day".cast("long").as("day"), $"n", $"med", $"mad",
        ($"mad" > 0 && $"dev" > $"mad" * 3).cast("int").as("is_outlier"))
      .orderBy($"typ", $"day")
  }

  val q217Sql: String =
    """WITH daily AS (
      |  SELECT event_type AS typ,
      |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |mc AS (SELECT typ, n AS v, count(*) AS c FROM daily GROUP BY 1, 2),
      |mcum AS (
      |  SELECT typ, v, c, sum(c) OVER (PARTITION BY typ) AS tw,
      |    sum(c) OVER (PARTITION BY typ ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM mc),
      |med AS (SELECT typ, min(CASE WHEN cw * 2 >= tw THEN v END) AS med
      |        FROM mcum GROUP BY typ),
      |dv AS (
      |  SELECT d.typ, d.day, d.n, m.med, abs(d.n - m.med) AS dev
      |  FROM daily d JOIN med m USING (typ)),
      |dc AS (SELECT typ, dev AS v, count(*) AS c FROM dv GROUP BY 1, 2),
      |dcum AS (
      |  SELECT typ, v, c, sum(c) OVER (PARTITION BY typ) AS tw,
      |    sum(c) OVER (PARTITION BY typ ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM dc),
      |mad AS (SELECT typ, min(CASE WHEN cw * 2 >= tw THEN v END) AS mad
      |        FROM dcum GROUP BY typ)
      |SELECT dv.typ, CAST(dv.day AS BIGINT) AS day, CAST(dv.n AS BIGINT) AS n,
      |  CAST(dv.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
      |  CAST(mad.mad > 0 AND dv.dev > mad.mad * 3 AS INT) AS is_outlier
      |FROM dv JOIN mad USING (typ) ORDER BY typ, day""".stripMargin

  // ------------------------------------------------------------------
  // q218 — CUSUM change-point detection on daily volumes
  // ------------------------------------------------------------------

  /** q218 — cumulative-sum (CUSUM) change-point detection per event
    * type: the running sum of (daily count − series mean) dips or
    * climbs fastest across a level shift and turns back after it, so
    * the day where |CUSUM| peaks is the classical single change-point
    * estimate (the mean sits BETWEEN the two levels, which is exactly
    * why it, not the median, is the right reference here: the q217
    * median lands ON the majority level, zeroing the statistic over
    * the stable region and pushing the peak to the series end).
    * Reported per type: the change day, the signed scaled CUSUM there
    * (negative ⇒ the level rose after the change), the peak magnitude,
    * and the day count. The location companion to q217, which flags
    * individual outlier DAYS; this finds the day the LEVEL moved.
    *
    * Exact-integer form: the k-th CUSUM is prefixₖ − k·T/D, which
    * cross-multiplied by the day count D becomes D·prefixₖ − k·T —
    * all longs, no division at all (the same trick as q196's
    * cross-multiplied quotas). Scale shape: events pre-aggregate to
    * one row per (type, day) BEFORE any window; the per-type ordered
    * window then runs over a day-count-bounded relation (a 100 TB
    * event history is still ≤ a few thousand rows per type), and the
    * peak is a re-aggregation of that same small relation — ties
    * broken to the earliest day. */
  def q218(s: SparkSession, d: String): DataFrame =
    cusumChangePoint(dailyVolumes(s, d))

  /** Scaled-integer CUSUM single-change-point core over a (typ, day,
    * n) relation: per type, the day where |D·prefixₖ − k·T| peaks
    * (T = Σn, D = #days, k = day rank; earliest day on ties), with
    * the signed scaled CUSUM there, the peak magnitude, and D. */
  def cusumChangePoint(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, count, lit, max, min,
      row_number, struct, sum}
    val byDay = Window.partitionBy(col("typ")).orderBy(col("day"))
    // three consumers (totals, the walk, the peak join) — materialize
    // the tiny per-day relation instead of re-running its source
    val dd = daily.transform(graft.Fx.materialize)
    val tot = dd.groupBy(col("typ"))
      .agg(sum(col("n")).as("t"), count(lit(1)).as("n_days"))
    val cu = dd
      .withColumn("k", row_number().over(byDay).cast("long"))
      .withColumn("pre", sum(col("n")).over(byDay))
      .join(tot, "typ")
      .withColumn("cusum", col("n_days") * col("pre") - col("k") * col("t"))
    val peak = cu.groupBy(col("typ"))
      .agg(max(abs(col("cusum"))).as("peak_abs"))
    cu.join(peak, "typ")
      .filter(abs(col("cusum")) === col("peak_abs"))
      .groupBy(col("typ"), col("peak_abs"), col("n_days"))
      .agg(min(struct(col("day"), col("cusum"))).as("m")) // earliest peak day
      .select(col("typ"), col("m.day").cast("long").as("change_day"),
        col("m.cusum").cast("long").as("cusum"),
        col("peak_abs").cast("long").as("peak_abs"), col("n_days"))
      .orderBy(col("typ"))
  }

  val q218Sql: String =
    """WITH daily AS (
      |  SELECT event_type AS typ,
      |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT typ, sum(n) AS t, count(*) AS n_days
      |        FROM daily GROUP BY typ),
      |cu AS (
      |  SELECT d.typ, d.day, tot.n_days,
      |    tot.n_days * sum(d.n) OVER (PARTITION BY d.typ ORDER BY d.day)
      |      - row_number() OVER (PARTITION BY d.typ ORDER BY d.day) * tot.t
      |      AS cusum
      |  FROM daily d JOIN tot USING (typ)),
      |pk AS (SELECT typ, max(abs(cusum)) AS peak_abs FROM cu GROUP BY typ),
      |sel AS (
      |  SELECT cu.typ, cu.day, cu.cusum, pk.peak_abs, cu.n_days,
      |    row_number() OVER (PARTITION BY cu.typ ORDER BY cu.day) AS rn
      |  FROM cu JOIN pk USING (typ) WHERE abs(cu.cusum) = pk.peak_abs)
      |SELECT typ, CAST(day AS BIGINT) AS change_day,
      |  CAST(cusum AS BIGINT) AS cusum, CAST(peak_abs AS BIGINT) AS peak_abs,
      |  CAST(n_days AS BIGINT) AS n_days
      |FROM sel WHERE rn = 1 ORDER BY typ""".stripMargin

  // ------------------------------------------------------------------
  // q234 — rolling 7-day active users (the WAU curve)
  // ------------------------------------------------------------------

  /** q234 — trailing-7-day distinct active users per calendar day —
    * the WAU metric every product dashboard carries, and the textbook
    * "COUNT(DISTINCT) OVER a sliding range frame" that engines can't
    * evaluate directly (distinct doesn't decompose over frames).
    *
    * The scalable form: events first collapse to the DISTINCT
    * (user, day) relation — bounded by users × active-days, typically
    * orders of magnitude under event count — then each activity day
    * CONTRIBUTES itself to the 7 report days it falls inside
    * (a 7-cell explode, the q197 interval-grid idea with a fixed
    * grain of one day), and the rolling count is a distinct-count per
    * report day over that contribution relation. Days with no events
    * inside the trailing week simply don't appear (no zero-fill —
    * the spine join of q215 composes if needed). One distinct
    * shuffle + one ×7 explode of the already-collapsed relation +
    * one count shuffle; the event table is scanned once. */
  def q234(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val userDays = Tables.events(s, d)
      .select($"user_id", epochDay($"ts").as("aday")).distinct()
    // bounds from the already-collapsed relation (the oracle's shape):
    // min/max of aday over userDays equals min/max over events by
    // construction, and saves the second fact-table scan at 100 TB
    val bounds = userDays.agg(min($"aday").as("lo"), max($"aday").as("hi"))
    userDays
      .select($"user_id", $"aday",
        explode(sequence($"aday", $"aday" + 6)).as("rday"))
      .join(broadcast(bounds), $"rday" >= $"lo" && $"rday" <= $"hi")
      .groupBy($"rday")
      .agg(countDistinct($"user_id").as("wau"))
      .select(date_add(lit("1970-01-01").cast("date"), $"rday".cast("int"))
        .as("day"), $"wau")
      .orderBy($"day")
  }

  val q234Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(ts AS DATE) - DATE '1970-01-01' AS aday
      |  FROM events),
      |b AS (SELECT min(aday) AS lo, max(aday) AS hi FROM ud),
      |contrib AS (
      |  SELECT user_id, aday + g.x AS rday
      |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS x) g),
      |w AS (
      |  SELECT rday, count(DISTINCT user_id) AS wau
      |  FROM contrib, b WHERE rday BETWEEN lo AND hi GROUP BY rday)
      |SELECT DATE '1970-01-01' + CAST(rday AS INT) AS day,
      |  CAST(wau AS BIGINT) AS wau
      |FROM w ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // q239 — event replay collapse (burst debounce accounting)
  // ------------------------------------------------------------------

  /** q239 — replay/burst collapse accounting: per (user, event_type),
    * events within 10 minutes of their predecessor are counted as
    * replays of the burst's FIRST event (retransmissions, double
    * clicks, at-least-once delivery dupes — the stream-hygiene pass
    * that runs before any per-event metric is trusted). Reported per
    * event type: raw events, burst starts (what a debounced pipeline
    * would keep), collapsed replays, and the replay rate — the
    * number that says whether a pipeline needs idempotent keys.
    *
    * Scale shape: q70's sessionize machinery at a tighter gap and a
    * (user, type) key — one shuffle for the lag window, then the
    * rollup lands on the |types|-row relation. All counts exact
    * longs; one final division. */
  def q239(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"us", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("burst_start",
        when($"prev_us".isNull || $"us" - $"prev_us" > 600L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"burst_start").cast("long").as("n_kept"))
      .select($"event_type", $"n_events", $"n_kept",
        ($"n_events" - $"n_kept").as("n_replays"),
        r6(($"n_events" - $"n_kept") / $"n_events").as("replay_rate"))
      .orderBy($"event_type")
  }

  val q239Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |g AS (
       |  SELECT event_type,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id, event_type
       |           ORDER BY us, event_id) IS NULL
       |         OR us - lag(us) OVER (PARTITION BY user_id, event_type
       |           ORDER BY us, event_id) > 600000000
       |         THEN 1 ELSE 0 END AS burst_start
       |  FROM e),
       |a AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(burst_start) AS BIGINT) AS n_kept
       |  FROM g GROUP BY 1)
       |SELECT event_type, n_events, n_kept,
       |  n_events - n_kept AS n_replays,
       |  ${sqlR6("(n_events - n_kept) / n_events")} AS replay_rate
       |FROM a ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q241 — trending event types (daily top-3 with rank deltas)
  // ------------------------------------------------------------------

  /** q241 — the trending report: per day, the top-3 event types by
    * volume with each type's rank delta versus the previous day —
    * positive delta = climbing. Ranks are computed over the FULL
    * (day × type) relation before the top-3 filter, so a type that
    * enters the top 3 carries its true prior rank, not a null; a
    * type's first day reports a null delta (nothing to compare).
    *
    * Scale shape: events collapse to the (day, type) count relation
    * in one partial-aggregating shuffle; every window after that
    * (daily rank, per-type lag) runs on that calendar-bounded
    * metadata relation. */
  def q241(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = dailyVolumes(s, d).withColumnRenamed("typ", "event_type")
    val ranked = daily.withColumn("rank",
      row_number().over(Window.partitionBy($"day")
        .orderBy($"n".desc, $"event_type")).cast("long"))
    ranked
      .withColumn("prev_rank",
        lag($"rank", 1).over(Window.partitionBy($"event_type").orderBy($"day")))
      .filter($"rank" <= 3)
      .select(date_add(lit("1970-01-01").cast("date"), $"day".cast("int")).as("day"),
        $"event_type", $"n", $"rank", $"prev_rank",
        ($"prev_rank" - $"rank").as("delta"))
      .orderBy($"day", $"rank")
  }

  val q241Sql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day, event_type,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT day, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY day
      |      ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |  FROM daily),
      |l AS (
      |  SELECT day, event_type, n, rank,
      |    lag(rank) OVER (PARTITION BY event_type ORDER BY day) AS prev_rank
      |  FROM r)
      |SELECT DATE '1970-01-01' + CAST(day AS INT) AS day, event_type, n,
      |  rank, prev_rank, prev_rank - rank AS delta
      |FROM l WHERE rank <= 3
      |ORDER BY day, rank""".stripMargin

  // ------------------------------------------------------------------
  // q249 — peak session concurrency (distributed sweep line)
  // ------------------------------------------------------------------

  /** q249 — peak concurrent sessions per day: sessions (q70's 30-min
    * gap splits) become +1/−1 boundary deltas, and the concurrency
    * curve is their running sum — the sweep-line computation behind
    * capacity planning, license peaks, and connection-pool sizing.
    *
    * The running sum is a GLOBAL prefix over time, which a naive
    * window evaluates in one task over the whole history. The
    * distributed form is the classic two-phase prefix: partition the
    * sweep by DAY, compute each day's internal running sum (windows
    * partitioned by day — parallel), and add each day's carry-in,
    * which is the cumulative sum of prior days' NET deltas — a
    * window over the bounded day domain, metadata scale. A session
    * spanning midnight is handled exactly by the carry (its +1 is in
    * an earlier day's net). Tie rule at equal timestamps: ends apply
    * before starts (delta ascending), so back-to-back sessions don't
    * double-count — pinned identically in both engines.
    *
    * Output: day, peak concurrency, carry-in at midnight. */
  def q249(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sess = Tables.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("prev_us", lag($"us", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_us".isNull || $"us" - $"prev_us" > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        Window.partitionBy($"user_id").orderBy($"us", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("s_us"), (max($"us") + 1800L * 1000000L).as("e_us"))
    val deltas = sess.select($"s_us".as("us"), lit(1L).as("delta"))
      .unionByName(sess.select($"e_us".as("us"), lit(-1L).as("delta")))
      // `div`, not `/`: Spark's `/` on longs is IEEE double division,
      // which only matches DuckDB's integer `//` while the quotient's
      // rounding error stays below the integer boundary — `div` is
      // exact for any timestamp magnitude (the q250 discipline).
      .withColumn("day", expr("us div 86400000000"))
    val inDay = Window.partitionBy($"day").orderBy($"us", $"delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curves = deltas
      .withColumn("run", sum($"delta").over(inDay))
      .groupBy($"day")
      .agg(max($"run").as("peak_in_day"), sum($"delta").as("net"))
    // carry-in: cumulative net of PRIOR days — bounded day-domain window
    val byDay = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curves
      .withColumn("carry", (sum($"net").over(byDay) - $"net").cast("long"))
      .select(date_add(lit("1970-01-01").cast("date"), $"day".cast("int"))
        .as("day"),
        ($"carry" + $"peak_in_day").cast("long").as("peak_concurrency"),
        $"carry".as("carry_in"))
      .orderBy($"day")
  }

  val q249Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT user_id, us, event_id,
      |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT user_id, us,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, sid, min(us) AS s_us, max(us) + 1800000000 AS e_us
      |  FROM sid GROUP BY 1, 2),
      |deltas AS (
      |  SELECT us // 86400000000 AS day, us, delta FROM (
      |    SELECT s_us AS us, CAST(1 AS BIGINT) AS delta FROM sess
      |    UNION ALL
      |    SELECT e_us AS us, CAST(-1 AS BIGINT) AS delta FROM sess) u),
      |curve AS (
      |  SELECT day, us, delta,
      |    sum(delta) OVER (PARTITION BY day ORDER BY us, delta
      |      ROWS UNBOUNDED PRECEDING) AS run
      |  FROM deltas),
      |daily AS (
      |  SELECT day, max(run) AS peak_in_day, sum(delta) AS net
      |  FROM curve GROUP BY day),
      |fin AS (
      |  SELECT day, peak_in_day,
      |    sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - net AS carry
      |  FROM daily)
      |SELECT DATE '1970-01-01' + CAST(day AS INT) AS day,
      |  CAST(carry + peak_in_day AS BIGINT) AS peak_concurrency,
      |  CAST(carry AS BIGINT) AS carry_in
      |FROM fin ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // q250 — time-to-convert by segment (funnel + robust percentiles)
  // ------------------------------------------------------------------

  /** q250 — the conversion-velocity readout: per market segment, how
    * many users completed the view→click→purchase funnel (q104's
    * single-shuffle fold, reused) and the nearest-rank median and p90
    * of their end-to-end time-to-convert — the product metric that
    * separates "converts eventually" from "converts while the intent
    * is hot", and the robust statistics (rank selections, not means)
    * that a few week-long stragglers cannot drag.
    *
    * Scale shape: q104's funnel is one shuffle; the segment join is a
    * broadcast dim join; within-segment ranks over 5 segments ride
    * [[Ranking.groupRanks]] (the q227 mechanism), with group sizes
    * broadcast back; seconds are exact integers (µs div 10^6) so
    * every selected percentile is a value the data contains. */
  def q250(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val funnel = q104(s, d)
      .select($"user_id", $"t1_us", $"t3_us")
    val seg = Tables.customer(s, d)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val conv = funnel.join(broadcast(seg), "user_id")
      .withColumn("converted", $"t3_us".isNotNull.cast("long"))
    val totals = conv.groupBy($"segment")
      .agg(count(lit(1)).as("n_users"),
        sum($"converted").cast("long").as("n_converted"))
    val ttc = conv.filter($"converted" === 1L)
      .select($"segment", $"user_id",
        expr("(t3_us - t1_us) div 1000000").as("ttc_sec"))
    val ranked = Ranking.groupRanks(ttc, Seq("segment"), 8,
      $"ttc_sec".asc, $"user_id".asc)
    val pcts = ranked.join(broadcast(
        ttc.groupBy($"segment").agg(count(lit(1)).as("nc"))), "segment")
      .groupBy($"segment")
      .agg(min(when($"rank" * 2 >= $"nc", $"ttc_sec")).as("median_ttc_sec"),
        min(when($"rank" * 10 >= $"nc" * 9, $"ttc_sec")).as("p90_ttc_sec"))
    totals.join(pcts, Seq("segment"), "left")
      .select($"segment", $"n_users", $"n_converted",
        r6($"n_converted" / $"n_users").as("conversion_rate"),
        $"median_ttc_sec", $"p90_ttc_sec")
      .orderBy($"segment")
  }

  val q250Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
       |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
       |f1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) AS t1
       |       FROM e GROUP BY user_id),
       |f2 AS (SELECT f1.user_id, f1.t1,
       |         min(CASE WHEN e.event_type = 'click' AND e.us > f1.t1 THEN e.us END) AS t2
       |       FROM f1 LEFT JOIN e ON e.user_id = f1.user_id GROUP BY f1.user_id, f1.t1),
       |f3 AS (SELECT f2.user_id, f2.t1,
       |         min(CASE WHEN e.event_type = 'purchase' AND e.us > f2.t2 THEN e.us END) AS t3
       |       FROM f2 LEFT JOIN e ON e.user_id = f2.user_id GROUP BY f2.user_id, f2.t1, f2.t2),
       |conv AS (
       |  SELECT c.c_mktsegment AS segment, f3.user_id, t1, t3,
       |    CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS converted
       |  FROM f3 JOIN customer c ON f3.user_id = c.c_custkey),
       |tot AS (
       |  SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(converted) AS BIGINT) AS n_converted
       |  FROM conv GROUP BY 1),
       |ttc AS (
       |  SELECT segment, user_id, (t3 - t1) // 1000000 AS ttc_sec
       |  FROM conv WHERE converted = 1),
       |r AS (
       |  SELECT segment, ttc_sec,
       |    CAST(row_number() OVER (PARTITION BY segment
       |      ORDER BY ttc_sec, user_id) AS BIGINT) AS rank,
       |    CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS nc
       |  FROM ttc),
       |p AS (
       |  SELECT segment,
       |    min(CASE WHEN rank * 2 >= nc THEN ttc_sec END) AS median_ttc_sec,
       |    min(CASE WHEN rank * 10 >= nc * 9 THEN ttc_sec END) AS p90_ttc_sec
       |  FROM r GROUP BY 1)
       |SELECT tot.segment AS segment, n_users, n_converted,
       |  ${sqlR6("n_converted / n_users")} AS conversion_rate,
       |  median_ttc_sec, p90_ttc_sec
       |FROM tot LEFT JOIN p ON tot.segment = p.segment
       |ORDER BY segment""".stripMargin

  /** q312 — autocorrelation function of the daily-revenue series at
    * lags 1..7: the first-stop stationarity/seasonality readout run
    * before any forecasting model (q270/q280 pick their smoothing
    * constants off exactly this table, and q306's von Neumann ratio is
    * its lag-1 summary). Exact arithmetic end to end: daily revenue
    * lands on the cent grid; centering is denominator-cleared
    * (c_t = n·x_t − Σx, BIGINT — no mean division, the q309
    * discipline); lag products and the denominator ride
    * DECIMAL(38,0)/HUGEINT; each acf value is ONE truncating micro
    * division of exact integers (num·10⁶ div den — Spark `div` and
    * DuckDB `//` both truncate toward zero, which matters here because
    * negative autocorrelations are expected).
    *
    * Scale shape: the orders scan collapses to the calendar-bounded
    * day grid in one aggregate; everything after runs on ≤n_days rows.
    * The ordinal window is over that bounded grid (stated — the
    * calendar, not the corpus, is its size), and the ×7 lag fan-out is
    * an explode + equi-join on the shifted ordinal, not a nested-loop
    * range join. */
  def q312(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev"))
    val st = g.agg(count(lit(1)).as("n"), sum($"rev").as("sr"))
    val c = g.crossJoin(broadcast(st))
      .select($"day", ($"n" * $"rev" - $"sr").as("c"))
      .withColumn("rn", row_number().over(Window.orderBy($"day")))
      .transform(Fx.materialize)
    val den = c.agg(sum(expr("cast(c as decimal(38,0)) * c")).as("den"))
    val base = c.select($"rn".as("ra"), $"c".as("ca"))
    val shifted = c.select($"rn", $"c".as("cb"),
        explode(sequence(lit(1), lit(7))).as("k"))
      .select($"k", ($"rn" - $"k").as("ra"), $"cb")
    shifted.join(base, "ra")
      .groupBy($"k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("cast(ca as decimal(38,0)) * cb")).as("num"))
      .crossJoin(broadcast(den))
      .select($"k".cast("long").as("k"), $"n_pairs",
        expr("(num * 1000000) div den").as("acf_micro"))
      .orderBy($"k")
  }

  val q312Sql: String =
    """WITH g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS sr
      |       FROM g),
      |c AS (SELECT day, n * rev - sr AS c,
      |        row_number() OVER (ORDER BY day) AS rn
      |      FROM g CROSS JOIN st),
      |den AS (SELECT sum(CAST(c AS HUGEINT) * c) AS den FROM c),
      |ks AS (SELECT unnest(range(1, 8)) AS k),
      |sh AS (SELECT k, rn - k AS ra, c AS cb FROM c CROSS JOIN ks),
      |nums AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(a.c AS HUGEINT) * sh.cb) AS num
      |  FROM sh JOIN c a ON sh.ra = a.rn GROUP BY k)
      |SELECT CAST(k AS BIGINT) AS k, n_pairs,
      |  CAST((num * 1000000) // den AS BIGINT) AS acf_micro
      |FROM nums CROSS JOIN den ORDER BY k""".stripMargin

  /** q409 — Ljung–Box portmanteau test on q312's ACF grid: is the
    * daily-revenue series WHITE across the first m lags jointly?
    * Q(m) = n(n+2)·Σ_{k≤m} ρ̂_k²/(n−k) ~ χ²(m) — the TEST companion to
    * q312's per-lag estimates, exactly as q393 (Mann–Kendall) is to
    * q274's Theil–Sen: q312 reports seven correlations with no joint
    * error control, q306 summarizes only lag 1; Ljung–Box answers
    * "any serial structure at all?" with one family-level verdict.
    * Exact: ρ̂_k is q312's stated micro truncation of exact integer
    * moments (n-scaled centering, DECIMAL products); each LB term is
    * one more stated truncation (n(n+2)·ρ² div ((n−k)·1e6), all
    * DECIMAL(38,0)); Q(m) is the exact integer running sum over the
    * 7-row lag grid, compared against pinned χ²(m) 5% criticals for
    * every m = 1..7 (no fitted parameters, so df = m — stated).
    *
    * Scale shape: identical to q312 — one collapse to the day grid,
    * a 7-way lag join on that grid, windows over 7 rows. */
  def q409(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev"))
    val st = g.agg(count(lit(1)).as("n"), sum($"rev").as("sr"))
    val c = g.crossJoin(broadcast(st))
      .select($"day", $"n", ($"n" * $"rev" - $"sr").as("c"))
      .withColumn("rn", row_number().over(Window.orderBy($"day")))
      .transform(Fx.materialize)
    val den = c.agg(sum(expr("cast(c as decimal(38,0)) * c")).as("den"))
    val base = c.select($"rn".as("ra"), $"c".as("ca"))
    val shifted = c.select($"rn", $"n", $"c".as("cb"),
        explode(sequence(lit(1), lit(7))).as("k"))
      .select($"k".cast("long").as("k"), $"n", ($"rn" - $"k").as("ra"), $"cb")
    val wCum = Window.orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shifted.join(base, "ra")
      .groupBy($"k", $"n")
      .agg(sum(expr("cast(ca as decimal(38,0)) * cb")).as("num"))
      .crossJoin(broadcast(den))
      .withColumn("rho_micro", expr("(num * 1000000) div den"))
      .withColumn("term", expr(
        """(cast(n as decimal(38,0)) * (n + 2) * rho_micro * rho_micro)
           div ((n - k) * 1000000)"""))
      .withColumn("q_micro", sum($"term").over(wCum).cast("long"))
      .withColumn("crit_micro", expr(
        """cast(case k when 1 then 3841459 when 2 then 5991465
           when 3 then 7814728 when 4 then 9487729 when 5 then 11070498
           when 6 then 12591587 else 14067140 end as bigint)"""))
      .select($"k", $"rho_micro", $"q_micro",
        $"crit_micro", ($"q_micro" > $"crit_micro").cast("int").as("reject_5pct"))
      .orderBy($"k")
  }

  val q409Sql: String =
    """WITH g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS sr
      |       FROM g),
      |c AS (SELECT day, n, n * rev - sr AS c,
      |        row_number() OVER (ORDER BY day) AS rn
      |      FROM g CROSS JOIN st),
      |den AS (SELECT sum(CAST(c AS HUGEINT) * c) AS den FROM c),
      |ks AS (SELECT unnest(range(1, 8)) AS k),
      |sh AS (SELECT k, n, rn - k AS ra, c AS cb FROM c CROSS JOIN ks),
      |nums AS (
      |  SELECT k, sh.n, sum(CAST(a.c AS HUGEINT) * sh.cb) AS num
      |  FROM sh JOIN c a ON sh.ra = a.rn GROUP BY k, sh.n),
      |terms AS (
      |  SELECT CAST(k AS BIGINT) AS k,
      |    CAST((num * 1000000) // den AS BIGINT) AS rho_micro,
      |    (CAST(n AS HUGEINT) * (n + 2)
      |      * ((num * 1000000) // den) * ((num * 1000000) // den))
      |      // ((n - k) * 1000000) AS term
      |  FROM nums CROSS JOIN den)
      |SELECT k, rho_micro,
      |  CAST(sum(term) OVER (ORDER BY k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS q_micro,
      |  CAST(CASE k WHEN 1 THEN 3841459 WHEN 2 THEN 5991465
      |    WHEN 3 THEN 7814728 WHEN 4 THEN 9487729 WHEN 5 THEN 11070498
      |    WHEN 6 THEN 12591587 ELSE 14067140 END AS BIGINT) AS crit_micro,
      |  CAST(sum(term) OVER (ORDER BY k
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >
      |    CASE k WHEN 1 THEN 3841459 WHEN 2 THEN 5991465 WHEN 3 THEN 7814728
      |      WHEN 4 THEN 9487729 WHEN 5 THEN 11070498 WHEN 6 THEN 12591587
      |      ELSE 14067140 END AS INT) AS reject_5pct
      |FROM terms ORDER BY k""".stripMargin

  /** q320 — Page's CUSUM control chart over the daily-revenue series:
    * one-sided clamped CUSUMs S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k))
    * and S⁻_t = max(0, S⁻_{t−1} + (μ − x_t − k)), alarming when either
    * exceeds h — the SEQUENTIAL monitoring chart (how production
    * detects a shift as it happens), where q218 is the retrospective
    * single-changepoint locator (max |unclamped CUSUM|, a plain
    * window). The clamp makes this recurrence non-decomposable — no
    * window can express it — so it rides the clamp-semigroup parallel
    * prefix ([[Accumulate.clampedRunningBalance]], q260's operator)
    * with lo=0 and no upper bound. Robust integer calibration: the
    * reference is the truncating mean μ = Σx div n, the allowance
    * k = mad div 2 and threshold h = 5·mad with mad the mean absolute
    * deviation — all exact BIGINTs, no σ and no sqrt anywhere.
    *
    * Scale shape: the corpus collapses to the calendar-bounded day
    * grid first; the two one-sided charts are a 2× union tagged by
    * `side`, folded in ONE clampedRunningBalance call (2 groups ×
    * n_days rows, two-phase carry — parallel within each side); the
    * verdict is one aggregate per side. */
  def q320(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev"))
      .transform(Fx.materialize) // feeds the stats row AND the deltas
    val st = g.agg(count(lit(1)).as("n"), sum($"rev").as("sr"))
      .select($"n", expr("sr div n").as("mu"))
    val md = g.crossJoin(broadcast(st))
      .agg(expr("sum(abs(rev - mu)) div max(n)").as("mad"),
        max($"mu").as("mu"))
    val gm = g.crossJoin(broadcast(md))
    val deltas = gm
      .select($"day", lit("up").as("side"),
        ($"rev" - $"mu" - expr("mad div 2")).as("delta"), $"mad")
      .unionByName(gm
        .select($"day", lit("down").as("side"),
          ($"mu" - $"rev" - expr("mad div 2")).as("delta"), $"mad"))
    val bal = Accumulate.clampedRunningBalance(deltas, Seq("side"), 8,
      "delta", lo = Some(0L), hi = None, z0 = 0L, $"day")
    bal.groupBy($"side")
      .agg(count(lit(1)).as("n_days"),
        sum(when($"balance" > lit(5L) * $"mad", 1L).otherwise(0L))
          .as("n_alarms"),
        min(when($"balance" > lit(5L) * $"mad", $"day")).as("first_alarm_day"),
        max($"balance").as("max_cusum"),
        max($"mad").as("mad"))
      .orderBy($"side")
  }

  val q320Sql: String =
    """WITH RECURSIVE g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS sr
      |       FROM g),
      |mu AS (SELECT n, sr // n AS mu FROM st),
      |md AS (SELECT CAST(sum(abs(rev - mu)) AS BIGINT) // max(n) AS mad,
      |         max(mu) AS mu
      |       FROM g CROSS JOIN mu),
      |d AS (
      |  SELECT 'up' AS side, day, rev - mu - (mad // 2) AS delta, mad,
      |    row_number() OVER (ORDER BY day) AS rn
      |  FROM g CROSS JOIN md
      |  UNION ALL
      |  SELECT 'down', day, mu - rev - (mad // 2), mad,
      |    row_number() OVER (ORDER BY day)
      |  FROM g CROSS JOIN md),
      |r(side, rn, bal) AS (
      |  SELECT side, rn, greatest(0 + delta, 0) FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.side, d.rn, greatest(r.bal + d.delta, 0)
      |  FROM r JOIN d ON d.side = r.side AND d.rn = r.rn + 1)
      |SELECT d.side AS side, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(sum(CASE WHEN r.bal > 5 * d.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_alarms,
      |  min(CASE WHEN r.bal > 5 * d.mad THEN d.day END) AS first_alarm_day,
      |  CAST(max(r.bal) AS BIGINT) AS max_cusum, max(d.mad) AS mad
      |FROM r JOIN d ON r.side = d.side AND r.rn = d.rn
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q328 — restricted mean survival time (RMST): the expected days a
    * user stays active within the first τ days, τ = half the observed
    * duration span — the scalar the q271 Kaplan–Meier CURVE doesn't
    * give you (median survival is undefined when Ŝ never crosses ½;
    * RMST always exists and is the number capacity planning wants:
    * "area under the survival curve up to τ"). Discrete exact form:
    * RMST(τ) = Σ_{j=0}^{τ−1} Ŝ(j) in micro-days, where Ŝ(j) is the
    * post-day-j product-limit value carried between death days —
    * integer arithmetic end to end on the micro grid, reusing q271's
    * risk-set/fold conventions verbatim (censoring included).
    *
    * Scale shape: q271's shape — one per-user aggregate, one collapse
    * onto the bounded duration grid, a driver fold over that grid
    * (q270's pattern); the day expansion is τ ≤ |days| iterations of
    * the same fold. */
  def q328(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(min(epochDay($"ts")).as("first_day"), max(epochDay($"ts")).as("last_day"))
    val maxDay = spans.agg(max($"last_day")).head().getInt(0)
    val grid = spans
      .select(($"last_day" - $"first_day").as("t"),
        ($"last_day" <= maxDay - 1).cast("long").as("event"))
      .groupBy($"t")
      .agg(sum($"event").as("d"), sum(lit(1L) - $"event").as("c"))
      .orderBy($"t")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2)))
    val totalUsers = grid.map(g => g._2 + g._3).sum
    var atRisk = totalUsers
    var sMicro = 1000000L
    val steps = grid.map { case (t, dd, cc) =>
      val n = atRisk
      if (dd > 0) sMicro = Math.floorDiv(sMicro * (n - dd), n)
      atRisk -= (dd + cc)
      (t, sMicro)
    }
    val tMax = grid.map(_._1).max
    val tau = math.max(1L, tMax / 2)
    var cur = 1000000L; var idx = 0; var acc = 0L
    for (j <- 0L until tau) {
      while (idx < steps.length && steps(idx)._1 <= j) {
        cur = steps(idx)._2; idx += 1
      }
      acc += cur
    }
    // advance to S(τ) itself — the RMST sum ends at S(τ−1), but the
    // reported horizon survival must include deaths AT day τ
    while (idx < steps.length && steps(idx)._1 <= tau) {
      cur = steps(idx)._2; idx += 1
    }
    s.createDataFrame(Seq((tau, acc, cur)))
      .toDF("tau_days", "rmst_micro_days", "surv_at_tau_micro")
  }

  val q328Sql: String =
    """WITH RECURSIVE spans AS (
      |  SELECT user_id,
      |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
      |    max(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |g AS (
      |  SELECT last_day - first_day AS t,
      |    sum(CASE WHEN last_day <= max_day - 1 THEN 1 ELSE 0 END) AS d,
      |    sum(CASE WHEN last_day <= max_day - 1 THEN 0 ELSE 1 END) AS c
      |  FROM spans CROSS JOIN mx GROUP BY 1),
      |o AS (
      |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
      |    sum(d + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
      |  FROM g),
      |km(rn, t, s) AS (
      |  SELECT rn, t,
      |    CASE WHEN d > 0 THEN (1000000 * (n - d)) // n ELSE 1000000 END
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.t,
      |    CASE WHEN o.d > 0 THEN (km.s * (o.n - o.d)) // o.n ELSE km.s END
      |  FROM km JOIN o ON o.rn = km.rn + 1),
      |tau AS (SELECT greatest(max(t) // 2, 1) AS tau FROM g),
      |days AS (SELECT unnest(range(0, (SELECT tau FROM tau))) AS j),
      |sj AS (
      |  SELECT days.j,
      |    COALESCE((SELECT s FROM km WHERE km.t <= days.j
      |              ORDER BY km.t DESC LIMIT 1), 1000000) AS s
      |  FROM days)
      |SELECT CAST(tau.tau AS BIGINT) AS tau_days,
      |  CAST((SELECT sum(s) FROM sj) AS BIGINT) AS rmst_micro_days,
      |  CAST(COALESCE((SELECT s FROM km WHERE km.t <= tau.tau
      |                 ORDER BY km.t DESC LIMIT 1), 1000000) AS BIGINT)
      |    AS surv_at_tau_micro
      |FROM tau""".stripMargin

  /** q331 — MASE forecast-accuracy readout for the q270 Holt model:
    * mean absolute scaled error = MAE(model one-step errors) /
    * MAE(naive-1 one-step errors) — Hyndman's scale-free accuracy
    * metric, and the go/no-go a forecasting model must pass before
    * replacing "tomorrow = today" (MASE < 1). The (n−1) denominators
    * cancel, so the statistic is ONE truncating micro division of two
    * exact cent sums; the walk itself is q270's integer recursion
    * verbatim (same seeds, same truncating divisions).
    *
    * Scale shape: q270's — the corpus collapses to the bounded day
    * grid; the fold and both error sums run over that grid. */
  def q331(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .orderBy($"day")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val alpha = 500000L; val beta = 300000L; val M = 1000000L
    var l = 0L; var b = 0L
    var sumAbsErr = 0L; var sumAbsNaive = 0L
    daily.zipWithIndex.foreach { case ((_, y), i) =>
      val (fc, lPrev) = (l + b, l)
      if (i == 0) { l = y; b = 0L }
      else {
        sumAbsErr += math.abs(y - fc)
        sumAbsNaive += math.abs(y - daily(i - 1)._2)
        l = (alpha * y + (M - alpha) * (lPrev + b)) / M
        b = (beta * (l - lPrev) + (M - beta) * b) / M
      }
    }
    val mase = if (sumAbsNaive == 0L) null
      else java.lang.Long.valueOf(sumAbsErr * 1000000L / sumAbsNaive)
    s.createDataFrame(Seq((daily.length.toLong, sumAbsErr, sumAbsNaive,
        mase, if (mase != null && mase < 1000000L) 1L else 0L)))
      .toDF("n_days", "sum_abs_err_cents", "sum_abs_naive_cents",
        "mase_micro", "beats_naive")
  }

  val q331Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |o AS (
      |  SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |h(rn, day, y, l, b, fc) AS (
      |  SELECT rn, day, y, y, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.day, o.y,
      |    (500000 * o.y + 500000 * (h.l + h.b)) // 1000000,
      |    (300000 * ((500000 * o.y + 500000 * (h.l + h.b)) // 1000000 - h.l)
      |       + 700000 * h.b) // 1000000,
      |    h.l + h.b
      |  FROM h JOIN o ON o.rn = h.rn + 1),
      |nv AS (
      |  SELECT o.rn, abs(o.y - p.y) AS an
      |  FROM o JOIN o p ON p.rn = o.rn - 1),
      |agg AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_days,
      |    (SELECT CAST(COALESCE(sum(abs(y - fc)), 0) AS BIGINT)
      |     FROM h WHERE fc IS NOT NULL) AS se,
      |    (SELECT CAST(COALESCE(sum(an), 0) AS BIGINT) FROM nv) AS sn)
      |SELECT n_days, se AS sum_abs_err_cents, sn AS sum_abs_naive_cents,
      |  CASE WHEN sn > 0 THEN (se * 1000000) // sn END AS mase_micro,
      |  CAST(CASE WHEN sn > 0 AND (se * 1000000) // sn < 1000000
      |    THEN 1 ELSE 0 END AS BIGINT) AS beats_naive
      |FROM agg""".stripMargin

  /** q340 — bootstrap confidence interval for the mean daily revenue,
    * with DETERMINISTIC resampling: draw i of resample b picks day
    * ordinal md5("b_i") mod n (hex prefix → integer — md5 prints the
    * same lowercase hex in Spark and DuckDB, so the oracle replays the
    * identical 100×n draw matrix collision-for-collision, the q26/q141
    * md5-grid discipline). The per-resample mean is one truncating
    * micro division of an exact cent sum; the 95% interval is
    * nearest-rank (ceil(0.025·B)=3rd, ceil(0.975·B)=98th of B=100
    * sorted means) — no normal approximation, which is the point of
    * bootstrapping a skewed revenue distribution. q317's jackknife is
    * the analytic-SE cousin; this is the distribution-free one.
    *
    * Scale shape: the corpus collapses to the calendar-bounded day
    * grid once; the draw matrix is B×n_days (resamples × CALENDAR,
    * not corpus) equi-joined on day ordinal; the B-row mean relation
    * ranks in one bounded window (stated: B=100). */
  def q340(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bN = 100
    val g = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("rev"))
      .withColumn("rn", row_number().over(Window.orderBy($"day")) - 1)
      .transform(Fx.materialize) // feeds stats, draws, and the join
    val st = g.agg(count(lit(1)).as("n"),
      sum($"rev".cast("decimal(38,0)")).as("sr"))
    // draw matrix: resample b × draw ordinal i → day index j
    val draws = g.select($"rn".as("i"))
      .crossJoin(broadcast(st.select($"n")))
      .select($"i", $"n", explode(sequence(lit(0), lit(bN - 1))).as("b"))
      .select($"b",
        (Fx.md5Prefix(concat($"b", lit("_"), $"i"), 8) % $"n").as("rn"))
    val means = draws.join(g.select($"rn", $"rev"), "rn")
      .groupBy($"b")
      .agg(sum($"rev".cast("decimal(38,0)")).as("s"), count(lit(1)).as("nb"))
      .select($"b", expr("cast((s * 1000000) div nb as bigint)").as("m"))
      .withColumn("r", row_number().over(Window.orderBy($"m", $"b")))
    means.agg(
        min(when($"r" === 3, $"m")).as("ci_lo_micro"),
        max(when($"r" === 98, $"m")).as("ci_hi_micro"))
      .crossJoin(broadcast(st))
      .select($"n".as("n_days"),
        expr("cast((sr * 1000000) div n as bigint)").as("mean_micro"),
        $"ci_lo_micro", $"ci_hi_micro",
        ($"ci_hi_micro" - $"ci_lo_micro").as("width_micro"))
  }

  val q340Sql: String =
    """WITH g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |o AS (SELECT rev, row_number() OVER (ORDER BY day) - 1 AS rn FROM g),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(rev AS HUGEINT)) AS sr FROM o),
      |draws AS (
      |  SELECT b,
      |    CAST(('0x' || substr(md5(b::VARCHAR || '_' || i::VARCHAR), 1, 8))
      |      AS BIGINT) % n AS rn
      |  FROM (SELECT rn AS i FROM o) CROSS JOIN st
      |    CROSS JOIN (SELECT unnest(range(0, 100)) AS b)),
      |means AS (
      |  SELECT b, CAST((sum(CAST(rev AS HUGEINT)) * 1000000) // count(*)
      |    AS BIGINT) AS m
      |  FROM draws JOIN o USING (rn) GROUP BY b),
      |rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means)
      |SELECT n AS n_days,
      |  CAST((sr * 1000000) // n AS BIGINT) AS mean_micro,
      |  (SELECT min(m) FROM rk WHERE r = 3) AS ci_lo_micro,
      |  (SELECT max(m) FROM rk WHERE r = 98) AS ci_hi_micro,
      |  (SELECT max(m) FROM rk WHERE r = 98)
      |    - (SELECT min(m) FROM rk WHERE r = 3) AS width_micro
      |FROM st""".stripMargin

  /** q341 — Lo–MacKinlay variance-ratio statistic VR(k), k=2..5, of
    * the daily-revenue first-difference series: the random-walk
    * diagnostic behind q312's ACF (VR(k) ≈ 1 under a random walk;
    * VR < 1 mean reversion, VR > 1 trending — equivalently
    * 1 + 2Σ(1−j/k)ρ_j, so this is the ACF's weighted summary). Exact
    * end to end: k-period differences come from the rn−k self-join
    * (explode + equi-join, q312's lag fan-out, no range join); each
    * variance is the denominator-cleared S_k = n_k·Σd² − (Σd)² on
    * DECIMAL(38,0)/HUGEINT; the ratio is ONE truncating micro division
    * with both count corrections cross-multiplied:
    * vr_micro = S_k·n_1²·10⁶ div (k·S_1·n_k²). Differences are taken
    * on the exact DOLLAR grid (cents div 100, truncating — stated) so
    * the ×10⁶·n² products stay inside DECIMAL(38,0).
    *
    * Scale shape: identical to q312 — one collapse to the day grid,
    * ordinal window over the calendar, ≤4× bounded fan-out. */
  def q341(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(expr(
        "sum(cast(floor(o_totalprice * 100 + 0.5) as bigint)) div 100")
        .as("rev"))
      .withColumn("rn", row_number().over(Window.orderBy($"day")))
      .transform(Fx.materialize)
    val base = g.select($"rn".as("ra"), $"rev".as("reva"))
    val diffs = g.select($"rn", $"rev", explode(sequence(lit(1), lit(5))).as("k"))
      .select($"k", ($"rn" - $"k").as("ra"), $"rev")
      .join(base, "ra")
      .select($"k", ($"rev" - $"reva").as("dx"))
    val sk = diffs.groupBy($"k")
      .agg(count(lit(1)).as("nk"),
        sum($"dx".cast("decimal(38,0)")).as("sd"),
        sum(expr("cast(dx as decimal(38,0)) * dx")).as("sdd"))
      .select($"k", $"nk",
        expr("nk * sdd - sd * sd").as("s2"))
      .transform(Fx.materialize) // k=1 row feeds every ratio
    val s1 = sk.filter($"k" === 1)
      .select($"nk".as("n1"), $"s2".as("s21"))
    sk.filter($"k" > 1)
      .crossJoin(broadcast(s1))
      .select($"k".cast("long").as("k"), $"nk".as("n_diffs"),
        expr("cast((s2 * n1 * n1 * 1000000) div (k * s21 * nk * nk) as bigint)")
          .as("vr_micro"))
      .orderBy($"k")
  }

  val q341Sql: String =
    """WITH g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) // 100
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |o AS (SELECT rev, row_number() OVER (ORDER BY day) AS rn FROM g),
      |ks AS (SELECT unnest(range(1, 6)) AS k),
      |diffs AS (
      |  SELECT k, b.rev - a.rev AS dx
      |  FROM (SELECT k, rn, rev FROM o CROSS JOIN ks) b
      |  JOIN o a ON b.rn - b.k = a.rn),
      |sk AS (
      |  SELECT k, CAST(count(*) AS BIGINT) AS nk,
      |    CAST(count(*) AS HUGEINT) * sum(CAST(dx AS HUGEINT) * dx)
      |      - sum(CAST(dx AS HUGEINT)) * sum(CAST(dx AS HUGEINT)) AS s2
      |  FROM diffs GROUP BY k),
      |s1 AS (SELECT nk AS n1, s2 AS s21 FROM sk WHERE k = 1)
      |SELECT CAST(k AS BIGINT) AS k, nk AS n_diffs,
      |  CAST((s2 * n1 * n1 * 1000000) // (k * s21 * nk * nk) AS BIGINT)
      |    AS vr_micro
      |FROM sk CROSS JOIN s1 WHERE k > 1 ORDER BY k""".stripMargin

  /** q349 — McNemar's test on PAIRED user conversion between the two
    * halves of the event span: among users ACTIVE in both periods
    * (the paired population — stated; the unpaired two-proportion z
    * is q268), did the purchase rate change? Only the DISCORDANT
    * pairs speak: b = converted-then-not, c = not-then-converted;
    * under H₀ they split 50/50, and χ² = (b−c)²/(b+c) with the
    * continuity-free verdict as one cross-multiplied integer
    * comparison — 10⁴·(b−c)² > 38415·(b+c) ⟺ p < 0.05 at df=1
    * (3.8415 = 38415/10⁴). No sqrt, no float anywhere; chi2_micro is
    * one truncating division for the readout.
    *
    * Scale shape: one scan → per-(user, period) conversion bits with
    * map-side combine → per-user pairing in the same aggregate →
    * four conditional counts. Nothing beyond the user relation ever
    * shuffles. */
  def q349(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", epochDay($"ts").as("day"),
        ($"event_type" === "purchase").cast("int").as("pur"))
      .transform(Fx.materialize) // feeds the span row AND the pairing
    val span = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(span))
      .groupBy($"user_id")
      .agg(max(when($"day" <= $"mid", $"pur").otherwise(0)).as("c1"),
        max(when($"day" > $"mid", $"pur").otherwise(0)).as("c2"),
        max(when($"day" <= $"mid", 1).otherwise(0)).as("in1"),
        max(when($"day" > $"mid", 1).otherwise(0)).as("in2"))
      .filter($"in1" === 1 && $"in2" === 1)
    per.agg(count(lit(1)).as("n_paired"),
        sum(when($"c1" === 0 && $"c2" === 0, 1L).otherwise(0L)).as("n00"),
        sum(when($"c1" === 1 && $"c2" === 1, 1L).otherwise(0L)).as("n11"),
        sum(when($"c1" === 1 && $"c2" === 0, 1L).otherwise(0L)).as("b"),
        sum(when($"c1" === 0 && $"c2" === 1, 1L).otherwise(0L)).as("c"))
      .select($"n_paired", $"n00", $"n11", $"b", $"c",
        when($"b" + $"c" > 0,
          expr("((b - c) * (b - c) * 1000000) div (b + c)")).as("chi2_micro"),
        when($"b" + $"c" === 0, "no_discordant_pairs")
          .when(expr("10000 * (b - c) * (b - c) > 38415 * (b + c)"),
            "rate_changed")
          .otherwise("consistent").as("verdict"))
  }

  val q349Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(event_type = 'purchase' AS INT) AS pur
      |  FROM events),
      |span AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
      |per AS (
      |  SELECT user_id,
      |    max(CASE WHEN day <= mid THEN pur ELSE 0 END) AS c1,
      |    max(CASE WHEN day > mid THEN pur ELSE 0 END) AS c2,
      |    max(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS in1,
      |    max(CASE WHEN day > mid THEN 1 ELSE 0 END) AS in2
      |  FROM ev CROSS JOIN span GROUP BY user_id),
      |p AS (SELECT * FROM per WHERE in1 = 1 AND in2 = 1),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_paired,
      |    CAST(sum(CASE WHEN c1 = 0 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
      |    CAST(sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(sum(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM p)
      |SELECT n_paired, n00, n11, b, c,
      |  CASE WHEN b + c > 0
      |    THEN ((b - c) * (b - c) * 1000000) // (b + c) END AS chi2_micro,
      |  CASE WHEN b + c = 0 THEN 'no_discordant_pairs'
      |       WHEN 10000 * (b - c) * (b - c) > 38415 * (b + c)
      |         THEN 'rate_changed'
      |       ELSE 'consistent' END AS verdict
      |FROM agg""".stripMargin

  /** q357 — lead–lag cross-correlation between the daily click series
    * and the daily purchase series: Pearson r of (clicks on day t,
    * purchases on day t+k) for k ∈ [−7, +7] — WHICH series leads and
    * by how many days, the causal-direction screen q312's
    * AUTO-correlation cannot ask (auto correlates a series with its
    * own past; this correlates two different series across an offset).
    * Exact: both series are integer daily counts; per lag the five
    * moment sums ride DECIMAL(38,0) over the n−|k| overlapping days,
    * r is q178's one-pinned-sqrt shape (r6), and a degenerate lag
    * (zero variance in either window) reports NULL r rather than
    * dropping the row — the lag grid stays complete.
    *
    * Scale shape: the corpus collapses to the bounded day calendar
    * FIRST (one aggregate); the 15-lag grid cross-joins that
    * calendar-sized relation and self-joins it shifted (both sides
    * broadcast-sized at any corpus scale); moments are one group-by
    * over ≤ 15·days rows. */
  def q357(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(($"event_type" === "click").cast("long")).as("x"),
        sum(($"event_type" === "purchase").cast("long")).as("y"))
      .transform(graft.Fx.materialize) // both sides of the shifted join
    val lags = s.range(-7L, 8L).select($"id".cast("long").as("lag"))
    val pairs = daily.as("a").crossJoin(broadcast(lags))
      .join(broadcast(daily.as("b")), $"b.day" === $"a.day" + $"lag")
      .select($"lag", $"a.x".as("x"), $"b.y".as("y"))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    pairs.groupBy($"lag").agg(
        count(lit(1)).as("n_days"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum(d38($"x") * $"y").as("sxy"),
        sum(d38($"x") * $"x").as("sxx"), sum(d38($"y") * $"y").as("syy"))
      .select($"lag", $"n_days",
        (d38($"n_days") * $"sxy" - d38($"sx") * $"sy").as("cov_n"),
        (d38($"n_days") * $"sxx" - d38($"sx") * $"sx").as("vx_n"),
        (d38($"n_days") * $"syy" - d38($"sy") * $"sy").as("vy_n"))
      .select($"lag", $"n_days",
        when($"vx_n" > 0 && $"vy_n" > 0,
          graft.Fx.r6($"cov_n".cast("double") /
            sqrt($"vx_n".cast("double") * $"vy_n".cast("double"))))
          .as("xcorr"))
      .orderBy($"lag")
  }

  val q357Sql: String = {
    val r = "CAST(cov_n AS DOUBLE) / sqrt(CAST(vx_n AS DOUBLE) * CAST(vy_n AS DOUBLE))"
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY 1),
       |lags AS (SELECT CAST(l AS BIGINT) AS lag FROM generate_series(-7, 7) t(l)),
       |pairs AS (
       |  SELECT lags.lag, a.x, b.y
       |  FROM daily a CROSS JOIN lags JOIN daily b ON b.day = a.day + lags.lag),
       |m AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM pairs GROUP BY lag),
       |c AS (
       |  SELECT lag, n_days,
       |    n_days * sxy - sx * sy AS cov_n,
       |    n_days * sxx - sx * sx AS vx_n,
       |    n_days * syy - sy * sy AS vy_n
       |  FROM m)
       |SELECT lag, n_days,
       |  CASE WHEN vx_n > 0 AND vy_n > 0
       |    THEN ${graft.Fx.sqlR6(r)} END AS xcorr
       |FROM c ORDER BY lag""".stripMargin
  }

  /** q364 — variance decomposition of daily revenue by calendar
    * factor: the correlation ratio η² = SS_between/SS_total for
    * weekday (epoch-day mod 7 — an engine-neutral index, unlike
    * dayofweek whose origin differs between engines), month-of-year,
    * and the full weekday×month cell — how much of day-to-day revenue
    * variance the calendar explains, the one-number screen run BEFORE
    * fitting seasonal models (q270/q280/q284 all ASSUME calendar
    * structure; this measures it, and cell-vs-single-factor gaps
    * expose interaction). Unbalanced-design-safe: η² per factor is
    * well-defined alone (no Type-I/II/III ambiguity of a joint
    * ANOVA). Exact: daily totals land on the whole-dollar grid via
    * the exact cent sum then an integer div (stated — the dollar step
    * keeps S_g²/n_g inside BIGINT far beyond sf1, where cents would
    * overflow Spark's integral-divide result type); per-group S_g²/n_g
    * rides one stated floor division (error < 1 dollar² per group);
    * the final η² is one truncating micro division of DECIMAL(38,0)
    * forms, clamped at 0 against truncation underflow; a
    * zero-variance corpus degrades to NULL.
    *
    * Scale shape: one collapse to the bounded day calendar, then
    * three group-bys over ≤ |days| rows (7, 12, and 84 groups). */
  def q364(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"),
        month($"o_orderdate").as("mo"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y")) // whole dollars off the exact cent grid (stated):
                  // keeps S_g²/n_g inside BIGINT far beyond sf1
      .select(($"day" % 7).as("dow"), $"mo", $"y")
      .transform(graft.Fx.materialize) // totals + three factor rollups
    val tot = daily.agg(count(lit(1)).as("nn"), sum($"y").as("s"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    def eta(label: String, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
      daily.groupBy(keys: _*)
        .agg(sum($"y").as("sg"), count(lit(1)).as("ng"))
        .agg(count(lit(1)).as("n_groups"),
          // S_g² div n_g WITHOUT the micro factor — keeps every
          // intermediate inside BIGINT at any SF; the bounded
          // truncation (< 1 cent² per group) is stated, and the micro
          // scaling happens once at the end
          sum(expr("cast((cast(sg as decimal(38,0)) * sg) div ng as decimal(38,0))"))
            .as("u"))
        .crossJoin(broadcast(tot))
        .select(lit(label).as("factor"), $"n_groups",
          when(expr("cast(nn as decimal(38,0)) * syy - cast(s as decimal(38,0)) * s") > 0,
            greatest(lit(0L),
              expr("""cast(((cast(nn as decimal(38,0)) * u
                     - cast(s as decimal(38,0)) * s) * 1000000)
                     div (cast(nn as decimal(38,0)) * syy
                     - cast(s as decimal(38,0)) * s) as bigint)""")))
            .as("eta2_micro"))
    eta("cell", Seq($"dow", $"mo"))
      .unionByName(eta("month", Seq($"mo")))
      .unionByName(eta("weekday", Seq($"dow")))
      .orderBy($"factor")
  }

  val q364Sql: String = {
    def eta(label: String, key: String): String =
      s"""SELECT '$label' AS factor, CAST(count(*) AS BIGINT) AS n_groups,
         |  CASE WHEN (SELECT nn * syy - s * s FROM tot) > 0 THEN
         |    greatest(0, CAST((((SELECT nn FROM tot) * CAST(sum(u) AS HUGEINT)
         |      - (SELECT s * s FROM tot)) * 1000000)
         |      // (SELECT nn * syy - s * s FROM tot) AS BIGINT))
         |  END AS eta2_micro
         |FROM (
         |  SELECT (CAST(sum(y) AS HUGEINT) * sum(y)) // count(*) AS u
         |  FROM daily GROUP BY $key) g""".stripMargin
    s"""WITH daily AS MATERIALIZED (
       |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7 AS dow,
       |    month(o_orderdate) AS mo,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders
       |  GROUP BY CAST(o_orderdate AS DATE) - DATE '1970-01-01', month(o_orderdate)),
       |tot AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS nn, CAST(sum(y) AS HUGEINT) AS s,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM daily)
       |${eta("cell", "dow, mo")}
       |UNION ALL
       |${eta("month", "mo")}
       |UNION ALL
       |${eta("weekday", "dow")}
       |ORDER BY factor""".stripMargin
  }

  /** q368 — Fano factor (index of dispersion) of hourly purchase
    * counts over the COMPLETE hour spine (empty hours count 0 — the
    * spine join is what separates this from any per-event statistic):
    * F = s²/ȳ, the Poisson-process gate. F ≈ 1 ⟹ arrivals are
    * memoryless (queueing/staffing models apply); F ≫ 1 ⟹ bursty
    * (q345 measures burstiness WITHIN documents; q306's von Neumann
    * ratio tracks successive differences — neither asks the count-
    * process question). Exact: counts are integers on the bounded
    * hour calendar, fano_micro = ((N·Σy² − S²)·10⁶) div ((N−1)·S) is
    * one truncating division; the dispersion χ² = (N·Σy² − S²)/S with
    * df = N−1 maps through the Wilson–Hilferty-free normal
    * approximation z = √(2χ²) − √(2N−3) — two pinned sqrts over
    * exact-integer-derived doubles, r6 — with the two-sided 5%
    * verdict on |z| > 1.96.
    *
    * Scale shape: one scan collapses to per-hour counts; the spine is
    * a generated bounded sequence; everything after is one scalar
    * aggregate. */
  def q368(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val purch = Tables.events(s, d).filter($"event_type" === "purchase")
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
    val counts = purch.groupBy($"hr").agg(count(lit(1)).as("c"))
      .transform(graft.Fx.materialize) // span probe + spine join
    val spine = counts.agg(min($"hr").as("lo"), max($"hr").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("hr"))
    val grid = spine.join(counts, Seq("hr"), "left_outer")
      .select(coalesce($"c", lit(0L)).as("y"))
    grid.agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      .filter($"n" > 1L && $"sy" > 0L)
      .select($"n".as("n_hours"), $"sy".as("n_purchases"),
        expr("""cast(((n * syy - cast(sy as decimal(38,0)) * sy) * 1000000)
               div ((n - 1) * cast(sy as decimal(38,0))) as bigint)""")
          .as("fano_micro"),
        graft.Fx.r6(
          sqrt(lit(2.0) * expr("cast(n * syy - cast(sy as decimal(38,0)) * sy as double)") /
            $"sy".cast("double")) -
          sqrt(lit(2.0) * $"n".cast("double") - 3.0)).as("z"))
      .withColumn("reject_poisson_5pct", (abs($"z") > 1.96).cast("int"))
  }

  val q368Sql: String = {
    val chi2 = "CAST(n * syy - sy * sy AS DOUBLE) / CAST(sy AS DOUBLE)"
    s"""WITH purch AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr
       |  FROM events WHERE event_type = 'purchase'),
       |counts AS MATERIALIZED (
       |  SELECT hr, CAST(count(*) AS BIGINT) AS c FROM purch GROUP BY hr),
       |spine AS (
       |  SELECT unnest(generate_series((SELECT min(hr) FROM counts),
       |                                (SELECT max(hr) FROM counts))) AS hr),
       |grid AS (
       |  SELECT COALESCE(c.c, 0) AS y
       |  FROM spine LEFT JOIN counts c ON spine.hr = c.hr),
       |mo AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS sy,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM grid)
       |SELECT CAST(n AS BIGINT) AS n_hours, CAST(sy AS BIGINT) AS n_purchases,
       |  CAST(((n * syy - sy * sy) * 1000000) // ((n - 1) * sy) AS BIGINT)
       |    AS fano_micro,
       |  ${graft.Fx.sqlR6(s"sqrt(2.0 * $chi2) - sqrt(2.0 * CAST(n AS DOUBLE) - 3.0)")} AS z,
       |  CAST(abs(${graft.Fx.sqlR6(s"sqrt(2.0 * $chi2) - sqrt(2.0 * CAST(n AS DOUBLE) - 3.0)")}) > 1.96 AS INT)
       |    AS reject_poisson_5pct
       |FROM mo WHERE n > 1 AND sy > 0""".stripMargin
  }

  /** q372 — weekly periodogram bin: the power of daily revenue at the
    * 7-day frequency via a single-bin DFT over the day%7 class sums —
    * A = Σ_k C_k·cos(2πk/7) − (S/N)·Σ_k N_k·cos(2πk/7) (and B with
    * sines), reported as the variance share 2(A²+B²)/N / SS. q312's
    * ACF asks "does lag 7 correlate"; the DFT bin prices HOW MUCH of
    * the variance the weekly harmonic carries — the spectral
    * complement (a strong share with modest lag-7 ACF means competing
    * harmonics). Determinism without exact rationals: the only inputs
    * are exact integer class sums (N_k, C_k, S, N, Σy²) and FIXED
    * 16-digit cos/sin literals shared verbatim by both engines; the
    * combination is a fixed-order expression tree (conditional
    * aggregation pivots the 7 classes to scalars — never a float SUM
    * over rows, whose order is engine-dependent), so every double op
    * is the same op on the same bits. r6 output.
    *
    * Scale shape: one collapse to ≤ 7 class rows (plus the scalar
    * totals), then constant-size arithmetic. */
  def q372(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cosL = Seq(1.0, 0.6234898018587336, -0.2225209339563144,
      -0.900968867902419, -0.900968867902419, -0.2225209339563144,
      0.6234898018587336)
    val sinL = Seq(0.0, 0.7818314824680298, 0.9749279121818236,
      0.4338837391175581, -0.4338837391175581, -0.9749279121818236,
      -0.7818314824680298)
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .select(($"day" % 7).as("k"), $"y")
    val cls = daily.groupBy($"k")
      .agg(count(lit(1)).as("nk"), sum($"y").as("ck"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("yy"))
    def pivot(src: org.apache.spark.sql.Column, k: Int) =
      max(when($"k" === k, src)).over(Window.partitionBy(lit(1)))
    val flat = cls.select(
        (0 to 6).map(k => coalesce(pivot($"nk", k), lit(0L)).as(s"n$k")) ++
        (0 to 6).map(k => coalesce(pivot($"ck", k), lit(0L)).as(s"c$k")) :+
        sum($"nk").over(Window.partitionBy(lit(1))).as("nn") :+
        sum($"ck").over(Window.partitionBy(lit(1))).as("s") :+
        sum($"yy").over(Window.partitionBy(lit(1))).as("syy"): _*)
      .limit(1)
    val dotC = (0 to 6).map(k => col(s"c$k").cast("double") * cosL(k))
      .reduce(_ + _)
    val dotNc = (0 to 6).map(k => col(s"n$k").cast("double") * cosL(k))
      .reduce(_ + _)
    val dotS = (0 to 6).map(k => col(s"c$k").cast("double") * sinL(k))
      .reduce(_ + _)
    val dotNs = (0 to 6).map(k => col(s"n$k").cast("double") * sinL(k))
      .reduce(_ + _)
    flat.select($"nn".as("n_days"),
        (dotC - $"s".cast("double") / $"nn".cast("double") * dotNc).as("a"),
        (dotS - $"s".cast("double") / $"nn".cast("double") * dotNs).as("b"),
        expr("cast(nn * syy - cast(s as decimal(38,0)) * s as double) / cast(nn as double)")
          .as("ss"))
      .select($"n_days", graft.Fx.r6($"a").as("a_r6"),
        graft.Fx.r6($"b").as("b_r6"),
        when($"ss" > 0, graft.Fx.r6(
          lit(2.0) * ($"a" * $"a" + $"b" * $"b") / $"n_days".cast("double") / $"ss"))
          .as("weekly_var_share"))
  }

  val q372Sql: String = {
    val cosL = Seq("1.0", "0.6234898018587336", "-0.2225209339563144",
      "-0.900968867902419", "-0.900968867902419", "-0.2225209339563144",
      "0.6234898018587336")
    val sinL = Seq("0.0", "0.7818314824680298", "0.9749279121818236",
      "0.4338837391175581", "-0.4338837391175581", "-0.9749279121818236",
      "-0.7818314824680298")
    def piv(src: String, k: Int) =
      s"COALESCE(max(CASE WHEN k = $k THEN $src END), 0)"
    val dotC = (0 to 6).map(k => s"CAST(${piv("ck", k)} AS DOUBLE) * ${cosL(k)}")
      .mkString(" + ")
    val dotNc = (0 to 6).map(k => s"CAST(${piv("nk", k)} AS DOUBLE) * ${cosL(k)}")
      .mkString(" + ")
    val dotS = (0 to 6).map(k => s"CAST(${piv("ck", k)} AS DOUBLE) * ${sinL(k)}")
      .mkString(" + ")
    val dotNs = (0 to 6).map(k => s"CAST(${piv("nk", k)} AS DOUBLE) * ${sinL(k)}")
      .mkString(" + ")
    s"""WITH daily AS (
       |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7 AS k,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'),
       |cls AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS nk, CAST(sum(y) AS BIGINT) AS ck,
       |    sum(CAST(y AS HUGEINT) * y) AS yy
       |  FROM daily GROUP BY k),
       |flat AS (
       |  SELECT CAST(sum(nk) AS BIGINT) AS nn, CAST(sum(ck) AS BIGINT) AS s,
       |    CAST(sum(yy) AS HUGEINT) AS syy,
       |    ($dotC) AS dot_c, ($dotNc) AS dot_nc,
       |    ($dotS) AS dot_s, ($dotNs) AS dot_ns
       |  FROM cls),
       |ab AS (
       |  SELECT nn,
       |    dot_c - CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) * dot_nc AS a,
       |    dot_s - CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) * dot_ns AS b,
       |    CAST(nn * syy - CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(nn AS DOUBLE)
       |      AS ss
       |  FROM flat)
       |SELECT nn AS n_days, ${graft.Fx.sqlR6("a")} AS a_r6,
       |  ${graft.Fx.sqlR6("b")} AS b_r6,
       |  CASE WHEN ss > 0 THEN
       |    ${graft.Fx.sqlR6("2.0 * (a * a + b * b) / CAST(nn AS DOUBLE) / ss")}
       |  END AS weekly_var_share
       |FROM ab""".stripMargin
  }

  /** q401 — turning-points test for series randomness (Kendall): count
    * the interior days where daily revenue is a strict local extremum
    * (peak y₋<y>y₊ or trough y₋>y<y₊); under i.i.d. noise
    * E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, so z = (T−E)/√Var reads
    * out serial structure the level-based tests miss in the OPPOSITE
    * directions: too FEW turning points = trending/sticky (q393's
    * Mann–Kendall sees this), too MANY = alternating overshoot, which
    * no other registered series test isolates (q307's runs test is the
    * sign-vs-median analog, blind to local extremum structure; q306's
    * von Neumann measures magnitude, not count). Exact: whole-dollar
    * day grid (q395's convention), strict integer comparisons (a
    * flat tie is NOT a turning point — stated), T and n exact, z one
    * sqrt + division, r6.
    *
    * Scale shape: collapse to the bounded day calendar, one
    * lag/lead window over it, a 1-row rollup. */
  def q401(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"day")
    Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("yl", lag($"y", 1).over(w))
      .withColumn("yr", lead($"y", 1).over(w))
      .select(
        count(lit(1)).as("n_days"),
        sum((($"yl" < $"y" && $"y" > $"yr") ||
          ($"yl" > $"y" && $"y" < $"yr")).cast("long")).as("n_turning"))
      .select($"n_days", $"n_turning",
        r6(lit(2.0) * ($"n_days" - 2).cast("double") / lit(3.0)).as("expected"),
        r6(($"n_turning".cast("double") -
            lit(2.0) * ($"n_days" - 2).cast("double") / lit(3.0)) /
          sqrt((lit(16.0) * $"n_days".cast("double") - lit(29.0)) / lit(90.0)))
          .as("z"))
  }

  val q401Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |lagged AS (
       |  SELECT y, lag(y) OVER (ORDER BY day) AS yl,
       |    lead(y) OVER (ORDER BY day) AS yr
       |  FROM daily),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(CASE WHEN (yl < y AND y > yr) OR (yl > y AND y < yr)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
       |  FROM lagged)
       |SELECT n_days, n_turning,
       |  ${sqlR6("2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0")} AS expected,
       |  ${sqlR6("(CAST(n_turning AS DOUBLE) - " +
         "2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0) / " +
         "sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)")} AS z
       |FROM agg""".stripMargin
  }

  /** q408 — record-breaking days test (Rényi): count the days whose
    * revenue strictly exceeds EVERY previous day. Under exchangeability
    * the k-th day is a record with probability 1/k independently of
    * the others (Rényi 1962), so T has exact moments E[T] = H_n and
    * Var[T] = Σ(1/k − 1/k²) with NO distributional assumption — the
    * extreme-value lens on serial structure: a trend inflates records
    * long after q401's turning points stop moving, while q307's runs
    * and q393's Mann–Kendall read the center of the distribution, not
    * its running maximum (q395 finds the drawdown PATH; this tests
    * whether new-peak arrivals are even consistent with noise).
    * Exact: whole-dollar day grid (q395's convention), records by
    * strict integer comparison (a tie is NOT a record — stated); both
    * moments are exact integer sums of per-k stated truncations
    * (1e6 div k and (1e6·(k−1)) div k²); z is one sqrt + division, r6,
    * two-sided verdict at 1.96.
    *
    * Scale shape: collapse to the bounded day calendar, one running-
    * max window + row_number over that grid, a 1-row rollup. */
  def q408(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"day")
    val wPrev = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("prevmax", max($"y").over(wPrev))
      .select(
        count(lit(1)).as("n_days"),
        sum(($"prevmax".isNull || $"y" > $"prevmax").cast("long"))
          .as("n_records"),
        sum(expr("1000000 div k")).as("e_micro"),
        sum(expr("(1000000 * (k - 1)) div (k * k)")).as("var_micro"))
      .withColumn("z", when($"var_micro" > 0L, r6(
        ($"n_records".cast("double") * lit(1000000.0) -
          $"e_micro".cast("double")) /
        (lit(1000.0) * sqrt($"var_micro".cast("double"))))))
      .withColumn("reject_5pct",
        when($"z".isNotNull, (abs($"z") > lit(1.96)).cast("int")))
  }

  val q408Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |seq AS (
       |  SELECT y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
       |    max(y) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
       |  FROM daily),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(CASE WHEN prevmax IS NULL OR y > prevmax
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       |    CAST(sum(1000000 // k) AS BIGINT) AS e_micro,
       |    CAST(sum((1000000 * (k - 1)) // (k * k)) AS BIGINT) AS var_micro
       |  FROM seq),
       |fin AS (
       |  SELECT n_days, n_records, e_micro, var_micro,
       |    CASE WHEN var_micro > 0 THEN
       |      ${sqlR6("(CAST(n_records AS DOUBLE) * 1000000.0 - " +
         "CAST(e_micro AS DOUBLE)) / (1000.0 * sqrt(CAST(var_micro AS DOUBLE)))")}
       |    END AS z
       |  FROM agg)
       |SELECT n_days, n_records, e_micro, var_micro, z,
       |  CASE WHEN z IS NOT NULL THEN
       |    CAST(abs(z) > 1.96 AS INT) END AS reject_5pct
       |FROM fin""".stripMargin
  }

  /** q413 — Gumbel return levels from monthly block maxima (the
    * classical EVT readout): fit the Gumbel law to the per-month
    * MAXIMA of daily revenue by method of moments (β̂ = s·√6/π,
    * μ̂ = x̄ − γβ̂) and extrapolate the T-month return level
    * x_T = μ̂ − β̂·ln(−ln(1 − 1/T)) for T = 12 and T = 120 — "the
    * worst day we should budget for each year / decade", the question
    * q376's VaR (an IN-SAMPLE daily quantile) and q395's drawdown (a
    * realized path) cannot answer because it extrapolates BEYOND the
    * sample via the max-domain-of-attraction argument. Determinism:
    * block maxima are exact integers on the whole-dollar grid; the
    * two moments clear denominators to exact integers before single
    * divisions; every constant (√6/π, Euler γ, the T terms) is a
    * shared literal in an identical tree, so both engines produce
    * bit-identical doubles; outputs r6.
    *
    * Scale shape: collapse to the bounded day calendar, re-collapse
    * to the ≤ months grid, a 1-row moment rollup. */
  def q413(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
          .cast("long").as("mk"),
        epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
    val blocks = daily.groupBy($"mk").agg(max($"y").as("m"))
    blocks
      .agg(count(lit(1)).as("n"), sum($"m").as("sx"),
        sum(expr("cast(m as decimal(38,0)) * m")).as("sxx"),
        max($"m").as("observed_max"))
      .withColumn("mean", $"sx".cast("double") / $"n".cast("double"))
      .withColumn("sd", when($"n" > 1L, sqrt(
        expr("cast(n * sxx - cast(sx as decimal(38,0)) * sx as double)") /
          expr("cast(n * (n - 1) as double)"))))
      .withColumn("beta", $"sd" * lit(0.7796968012336609))
      .withColumn("mu", $"mean" - lit(0.5772156649015329) * $"beta")
      .select($"n".as("n_months"), $"observed_max",
        r6($"mean").as("mean_max"), r6($"sd").as("sd_max"),
        r6($"mu").as("mu"), r6($"beta").as("beta"),
        r6($"mu" - $"beta" * log(-log(lit(11.0) / lit(12.0))))
          .as("rl_12m"),
        r6($"mu" - $"beta" * log(-log(lit(119.0) / lit(120.0))))
          .as("rl_120m"))
  }

  val q413Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH daily AS (
       |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mk,
       |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1, 2),
       |blocks AS (SELECT mk, max(y) AS m FROM daily GROUP BY mk),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(m) AS BIGINT) AS sx,
       |    sum(CAST(m AS HUGEINT) * m) AS sxx, max(m) AS observed_max
       |  FROM blocks),
       |fit AS (
       |  SELECT n, observed_max,
       |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       |    CASE WHEN n > 1 THEN sqrt(
       |      CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
       |        / CAST(n * (n - 1) AS DOUBLE)) END AS sd
       |  FROM mo),
       |gp AS (
       |  SELECT n, observed_max, mean, sd,
       |    sd * 0.7796968012336609 AS beta,
       |    mean - 0.5772156649015329 * (sd * 0.7796968012336609) AS mu
       |  FROM fit)
       |SELECT n AS n_months, observed_max,
       |  ${sqlR6("mean")} AS mean_max, ${sqlR6("sd")} AS sd_max,
       |  ${sqlR6("mu")} AS mu, ${sqlR6("beta")} AS beta,
       |  ${sqlR6("mu - beta * ln(-ln(11.0 / 12.0))")} AS rl_12m,
       |  ${sqlR6("mu - beta * ln(-ln(119.0 / 120.0))")} AS rl_120m
       |FROM gp""".stripMargin
  }

  /** q395 — maximum drawdown of the daily revenue level: the largest
    * peak-to-trough decline DD = max_t [max_{s≤t} y_s − y_t], with
    * the trough day and the peak level it fell from — the PATH-
    * dependent risk statistic q376's VaR (a one-day marginal) cannot
    * see: a slow month-long slide never shows a bad single day but
    * builds a deep drawdown. Exact: whole-dollar daily grid, running
    * maximum and differences are integers on the collapsed day
    * calendar, the worst trough ties break to the EARLIEST day
    * (stated — first time the damage was fully realized).
    *
    * Scale shape: collapse to the bounded day calendar; one ordered
    * running-max window and one argmin selection over it. */
  def q395(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wRun = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("peak", max($"y").over(wRun))
      .withColumn("dd", $"peak" - $"y")
      .transform(graft.Fx.materialize) // count + argmax probe
    val n = dd.agg(count(lit(1)).as("n_days"))
    dd.orderBy($"dd".desc, $"day").limit(1)
      .crossJoin(broadcast(n))
      .select($"n_days", $"dd".as("max_drawdown_dollars"),
        $"day".cast("long").as("trough_day"),
        $"peak".as("peak_level"), $"y".as("trough_level"))
  }

  val q395Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT day, y,
      |    max(y) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM daily),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM r)
      |SELECT n.n_days, r.peak - r.y AS max_drawdown_dollars,
      |  r.day AS trough_day, r.peak AS peak_level, r.y AS trough_level
      |FROM r CROSS JOIN n
      |ORDER BY r.peak - r.y DESC, r.day LIMIT 1""".stripMargin

  /** q393 — Mann–Kendall trend test on daily revenue: S = Σ_{i<j}
    * sign(y_j − y_i), the distribution-free monotone-trend TEST that
    * pairs with q274's Theil–Sen slope ESTIMATOR (the classic duo —
    * Sen sizes the trend, MK decides whether it exists; q296/q320
    * hunt changepoints, a different alternative). Exact: S is an
    * integer off the day-pair self-join of the COLLAPSED daily
    * relation; the tie-corrected null variance 18σ² = n(n−1)(2n+5)
    * − Σ_t t(t−1)(2t+5) rides DECIMAL(38,0) over the value-grid tie
    * groups; z applies the standard continuity correction
    * (S∓1)/σ with sign(S) (stated), one pinned sqrt, r6; two-sided
    * 5% verdict plus the trend direction.
    *
    * Scale shape: the corpus collapses to the bounded day calendar
    * FIRST; the O(days²) pair join is calendar-sized (never
    * corpus-sized); ties collapse on the value grid. */
  def q393(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .transform(graft.Fx.materialize) // pair join (both sides) + ties
    val sdf = daily.as("a").join(daily.as("b"), $"a.day" < $"b.day")
      .agg(sum(signum($"b.y" - $"a.y").cast("long")).as("s"),
        count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy($"y").agg(count(lit(1)).as("t"))
      .agg(sum($"t").as("n"), sum(expr(
        "cast(t as decimal(38,0)) * (t - 1) * (2 * t + 5)")).as("tcorr"))
      .select($"n", expr(
        """cast(n as decimal(38,0)) * (n - 1) * (2 * n + 5) - tcorr""")
        .as("v18"))
    sdf.crossJoin(broadcast(ties))
      .select($"n".as("n_days"), $"s",
        when($"v18" > 0, r6(
          when($"s" > 0, ($"s" - 1).cast("double"))
            .otherwise(when($"s" < 0, ($"s" + 1).cast("double"))
              .otherwise(lit(0.0))) /
          sqrt($"v18".cast("double") / 18.0))).as("z"))
      .withColumn("trend_5pct",
        when($"z".isNull, lit(null).cast("string"))
          .otherwise(when($"z" > 1.96, lit("increasing"))
            .otherwise(when($"z" < -1.96, lit("decreasing"))
              .otherwise(lit("none")))))
  }

  val q393Sql: String = {
    val z = """CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
              |     WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
              |     ELSE 0.0 END / sqrt(CAST(v18 AS DOUBLE) / 18.0)"""
      .stripMargin.replaceAll("\n", " ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |sp AS (
       |  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
       |                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
       |  FROM daily a JOIN daily b ON a.day < b.day),
       |ti AS (
       |  SELECT CAST(sum(t) AS HUGEINT) AS n,
       |    CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS HUGEINT)
       |      AS tcorr
       |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y) g),
       |v AS (SELECT n, n * (n - 1) * (2 * n + 5) - tcorr AS v18 FROM ti)
       |SELECT CAST(v.n AS BIGINT) AS n_days, sp.s,
       |  CASE WHEN v.v18 > 0 THEN ${graft.Fx.sqlR6(z)} END AS z,
       |  CASE WHEN v.v18 > 0 THEN
       |    CASE WHEN ${graft.Fx.sqlR6(z)} > 1.96 THEN 'increasing'
       |         WHEN ${graft.Fx.sqlR6(z)} < -1.96 THEN 'decreasing'
       |         ELSE 'none' END
       |  END AS trend_5pct
       |FROM sp CROSS JOIN v""".stripMargin
  }

  /** q391 — behavioral novelty drift: per day, the share of that
    * day's DISTINCT event-type 3-grams (per-user consecutive
    * triples) never seen on any earlier day — q344's first-occurrence
    * trick lifted from vocabulary to BEHAVIOR. A healthy product
    * shows high novelty early that decays as the behavior space
    * saturates; a novelty spike later flags a new flow (feature
    * launch) or an instrumentation break — the drift lens the
    * value-distribution battery (q181 etc.) can't see because the
    * marginal event-type mix can stay IDENTICAL while sequencing
    * changes. Exact: grams are strings off a (ts, event_id)-ordered
    * per-user window; first-day is min(day) per gram (no window over
    * the day axis); novelty is one truncating micro division of
    * distinct-gram counts.
    *
    * Scale shape: the lag window partitions by user (high-cardinality
    * key); (gram, day) collapses before the first-day aggregate; the
    * daily rollup is calendar-sized. */
  def q391(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wc = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val grams = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        epochDay($"ts").as("day"))
      .withColumn("e1", lag($"event_type", 1).over(wc))
      .withColumn("e2", lag($"event_type", 2).over(wc))
      .filter($"e2".isNotNull)
      .select(concat_ws(">", $"e2", $"e1", $"event_type").as("g"), $"day")
      .distinct()
      .transform(graft.Fx.materialize) // first-day agg AND daily rollup
    val first = grams.groupBy($"g").agg(min($"day").as("d0"))
    grams.join(first, "g")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_distinct_grams"),
        sum(($"day" === $"d0").cast("long")).as("n_new"))
      .select($"day".cast("long").as("day"), $"n_distinct_grams", $"n_new",
        expr("(n_new * 1000000) div n_distinct_grams").as("novelty_micro"))
      .orderBy($"day")
  }

  val q391Sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(ts AS DATE) - DATE '1970-01-01' AS day
      |  FROM events),
      |g0 AS (
      |  SELECT
      |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS e2,
      |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS e1,
      |    event_type, day
      |  FROM ev),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT e2 || '>' || e1 || '>' || event_type AS g, day
      |  FROM g0 WHERE e2 IS NOT NULL),
      |fst AS (SELECT g, min(day) AS d0 FROM grams GROUP BY g)
      |SELECT grams.day, CAST(count(*) AS BIGINT) AS n_distinct_grams,
      |  CAST(sum(CASE WHEN grams.day = fst.d0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST((sum(CASE WHEN grams.day = fst.d0 THEN 1 ELSE 0 END) * 1000000)
      |    // count(*) AS BIGINT) AS novelty_micro
      |FROM grams JOIN fst ON grams.g = fst.g
      |GROUP BY grams.day ORDER BY grams.day""".stripMargin

  /** q376 — historical VaR and CVaR of daily revenue swings: the
    * worst-case day-over-day change at the 95% and 99% confidence
    * levels, and the expected shortfall BEYOND each cutoff — the
    * finance-desk risk readout (VaR answers "how bad is the k-th
    * worst day", CVaR "how bad are the days past it on average";
    * CVaR is the coherent one). Exact: daily totals on the whole-
    * dollar grid, P&L = first differences (integers, negative on down
    * days), VaR = pure selection at rank ⌈(1−α)·N⌉ along (Δ, day),
    * CVaR = the truncating micro mean of the worst-k set (toward-zero
    * both engines, q361's negative-operand precedent). Loss
    * convention: both reported positive for a loss.
    *
    * Scale shape: the corpus collapses to the bounded day calendar;
    * differences and ranks ride windows over that COLLAPSED relation
    * (q215's calendar discipline); the tail mean is a rank-filtered
    * aggregate. */
  def q376(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDay = Window.orderBy($"day")
    val pl = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("dl", $"y" - lag($"y", 1).over(wDay))
      .filter($"dl".isNotNull)
      .withColumn("rk", row_number().over(Window.orderBy($"dl", $"day")))
      .transform(graft.Fx.materialize) // count + two level probes
    val n = pl.agg(count(lit(1)).as("n"))
    val levels = s.createDataFrame(Seq((95L, 5L), (99L, 1L)))
      .toDF("level", "tail_pct")
    broadcast(levels).crossJoin(broadcast(n))
      .select($"level", $"n".as("n_days"),
        expr("(n * tail_pct + 99) div 100").as("k"))
      .join(pl, $"rk" <= $"k")
      .groupBy($"level", $"n_days", $"k")
      .agg(max(when($"rk" === $"k", -$"dl")).as("var_dollars"),
        expr("cast((-sum(dl)) as decimal(38,0)) * 1000000").as("s"))
      .select($"level", $"n_days", $"k".as("tail_k"), $"var_dollars",
        expr("s div k").as("cvar_micro"))
      .orderBy($"level")
  }

  val q376Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
      |  FROM orders GROUP BY 1),
      |pl AS (
      |  SELECT day, y - lag(y) OVER (ORDER BY day) AS dl FROM daily),
      |rk AS (
      |  SELECT dl, row_number() OVER (ORDER BY dl, day) AS rk
      |  FROM pl WHERE dl IS NOT NULL),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
      |lv AS (SELECT * FROM (VALUES (CAST(95 AS BIGINT), CAST(5 AS BIGINT)),
      |                             (CAST(99 AS BIGINT), CAST(1 AS BIGINT)))
      |       t(level, tail_pct)),
      |tg AS (
      |  SELECT level, n.n AS n_days, (n.n * tail_pct + 99) // 100 AS k
      |  FROM lv CROSS JOIN n)
      |SELECT tg.level, tg.n_days, tg.k AS tail_k,
      |  max(CASE WHEN rk.rk = tg.k THEN -rk.dl END) AS var_dollars,
      |  CAST((CAST(-sum(rk.dl) AS HUGEINT) * 1000000) // tg.k AS BIGINT)
      |    AS cvar_micro
      |FROM tg JOIN rk ON rk.rk <= tg.k
      |GROUP BY tg.level, tg.n_days, tg.k
      |ORDER BY tg.level""".stripMargin

  /** q421 — extremal index by runs declustering: do extreme revenue
    * days arrive ALONE or in BURSTS? Exceedances above the nearest-
    * rank p95 threshold are grouped into clusters (a gap > 2 days
    * starts a new one — the runs estimator, run length stated);
    * θ̂ = clusters/exceedances ∈ (0,1], with θ < 1 meaning extremes
    * cluster and every independence-based tail model overstates the
    * return period by exactly that factor — the dependence CAVEAT to
    * q413's Gumbel fit (which assumes θ = 1), invisible to q376's
    * marginal VaR and only path-adjacent to q395's single drawdown.
    * Exact end-to-end: threshold is an integer rank selection
    * ((19n+19) div 20, ties to the earliest day), exceedance and
    * cluster-start are integer comparisons, θ and the mean cluster
    * size are single stated micro divisions — no float anywhere.
    *
    * Scale shape: collapse to the day calendar; one rank window, one
    * lag window over the exceedance subset of that bounded grid, a
    * 1-row rollup. */
  def q421(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .transform(graft.Fx.materialize)
    val wRank = Window.orderBy($"y", $"day")
    val thr = daily
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter($"rk" === expr("(19 * n + 19) div 20"))
      .select($"n".as("n_days"), $"y".as("threshold_dollars"))
    val exc = daily.crossJoin(broadcast(thr))
      .filter($"y" > $"threshold_dollars")
      .withColumn("prev", lag($"day", 1).over(Window.orderBy($"day")))
      .withColumn("starts",
        ($"prev".isNull || $"day" - $"prev" > 2L).cast("long"))
    exc.groupBy($"n_days", $"threshold_dollars")
      .agg(count(lit(1)).as("n_exceed"), sum($"starts").as("n_clusters"))
      .select($"n_days", $"threshold_dollars", $"n_exceed", $"n_clusters",
        expr("(n_clusters * 1000000) div n_exceed").as("theta_micro"),
        expr("(n_exceed * 1000000) div n_clusters").as("mean_cluster_micro"))
  }

  val q421Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |    AS day,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
      |  FROM orders GROUP BY 1),
      |rk AS (
      |  SELECT day, y, row_number() OVER (ORDER BY y, day) AS rk,
      |    count(*) OVER () AS n
      |  FROM daily),
      |thr AS (
      |  SELECT CAST(n AS BIGINT) AS n_days, y AS threshold_dollars
      |  FROM rk WHERE rk = (19 * n + 19) // 20),
      |exc AS (
      |  SELECT d.day, t.n_days, t.threshold_dollars,
      |    lag(d.day) OVER (ORDER BY d.day) AS prev
      |  FROM daily d CROSS JOIN thr t
      |  WHERE d.y > t.threshold_dollars),
      |agg AS (
      |  SELECT n_days, threshold_dollars,
      |    CAST(count(*) AS BIGINT) AS n_exceed,
      |    CAST(sum(CASE WHEN prev IS NULL OR day - prev > 2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_clusters
      |  FROM exc GROUP BY 1, 2)
      |SELECT n_days, threshold_dollars, n_exceed, n_clusters,
      |  (n_clusters * 1000000) // n_exceed AS theta_micro,
      |  (n_exceed * 1000000) // n_clusters AS mean_cluster_micro
      |FROM agg""".stripMargin

  /** q419 — Bass diffusion fit of the adoption curve: daily NEW
    * adopters (each user's first purchase day) modeled as
    * n(t) = (p + q·N(t−1)/M)·(M − N(t−1)) — innovation p (adopt from
    * outside) vs imitation q (adopt because others did), the
    * product-growth decomposition none of the trend machinery
    * (q274/q393 monotone, q270/q280 smoothing) can express because
    * the hazard here DEPENDS ON THE INSTALLED BASE. Fit by exact grid
    * argmin (the q383 discipline): over the stated grid p ∈ 0..0.05
    * step 0.005, q ∈ 0..0.5 step 0.05, each cell's prediction is
    * floored onto the integer micro grid (stated) so the SSE
    * Σ(n_t·10⁶ − pred_micro)² is an exact DECIMAL integer and the
    * argmin (sse, p_i, q_j) is a total order — no float enters the
    * comparison. M = observed eventual adopters (stated); the day
    * grid is the full min..max adoption calendar including zero days.
    *
    * Scale shape: one per-user first-purchase aggregate, collapse to
    * the bounded day calendar (zero-filled via sequence), 11×11 grid
    * cross-joins that calendar, one aggregate per cell, 121-row
    * argmin. */
  def q419(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstP = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min(epochDay($"ts")).as("d0"))
      .groupBy($"d0").agg(count(lit(1)).as("nt"))
      .transform(graft.Fx.materialize)
    val span = firstP.agg(min($"d0").as("lo"), max($"d0").as("hi"),
      sum($"nt").as("m"))
    val cal = span.select($"m",
        explode(sequence($"lo", $"hi")).as("d0"))
      .join(firstP, Seq("d0"), "left_outer")
      .select($"d0", $"m", coalesce($"nt", lit(0L)).as("nt"))
      .withColumn("nprev", coalesce(sum($"nt")
        .over(Window.orderBy($"d0").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .transform(graft.Fx.materialize)
    val grid = s.range(0L, 11L).select(($"id" * 5L).as("pi"))
      .crossJoin(s.range(0L, 11L).select(($"id" * 50L).as("qi")))
    val cells = cal.crossJoin(broadcast(grid))
      .withColumn("pred", ($"pi".cast("double") / lit(1000.0) +
        $"qi".cast("double") / lit(1000.0) *
          ($"nprev".cast("double") / $"m".cast("double"))) *
        ($"m" - $"nprev").cast("double"))
      .withColumn("pm", floor($"pred" * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("resid", $"nt" * 1000000L - $"pm")
      .groupBy($"pi", $"qi")
      .agg(sum(expr("cast(resid as decimal(38,0)) * resid")).as("sse"))
    cells.orderBy($"sse", $"pi", $"qi").limit(1)
      .crossJoin(broadcast(span.select($"m".as("m_adopters"))))
      .select(($"pi".cast("double") / lit(1000.0)).as("p"),
        ($"qi".cast("double") / lit(1000.0)).as("q"),
        expr("cast(sse div 1000000000000 as bigint)").as("sse_units"),
        $"m_adopters",
        ($"qi" > $"pi").cast("int").as("imitation_driven"))
  }

  val q419Sql: String =
    """WITH fp AS (
      |  SELECT user_id,
      |    min(CAST(ts AS DATE) - DATE '1970-01-01') AS d0
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |daily AS MATERIALIZED (
      |  SELECT d0, CAST(count(*) AS BIGINT) AS nt FROM fp GROUP BY d0),
      |span AS (SELECT min(d0) AS lo, max(d0) AS hi,
      |           CAST(sum(nt) AS BIGINT) AS m FROM daily),
      |cal AS (
      |  SELECT g.d0, span.m, COALESCE(daily.nt, 0) AS nt
      |  FROM (SELECT unnest(range((SELECT lo FROM span),
      |          (SELECT hi FROM span) + 1)) AS d0) g
      |  CROSS JOIN span
      |  LEFT JOIN daily ON daily.d0 = g.d0),
      |cum AS (
      |  SELECT d0, m, nt, COALESCE(sum(nt) OVER (ORDER BY d0
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nprev
      |  FROM cal),
      |grid AS (
      |  SELECT CAST(p.i * 5 AS BIGINT) AS pi, CAST(q.i * 50 AS BIGINT) AS qi
      |  FROM generate_series(0, 10) p(i) CROSS JOIN generate_series(0, 10) q(i)),
      |cells AS (
      |  SELECT pi, qi,
      |    sum(CAST(nt * 1000000 - CAST(floor(
      |      (CAST(pi AS DOUBLE) / 1000.0 + CAST(qi AS DOUBLE) / 1000.0
      |        * (CAST(nprev AS DOUBLE) / CAST(m AS DOUBLE)))
      |      * CAST(m - nprev AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
      |      AS HUGEINT)
      |      * (nt * 1000000 - CAST(floor(
      |      (CAST(pi AS DOUBLE) / 1000.0 + CAST(qi AS DOUBLE) / 1000.0
      |        * (CAST(nprev AS DOUBLE) / CAST(m AS DOUBLE)))
      |      * CAST(m - nprev AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)))
      |      AS sse
      |  FROM cum CROSS JOIN grid GROUP BY pi, qi),
      |win AS (
      |  SELECT pi, qi, sse FROM cells ORDER BY sse, pi, qi LIMIT 1)
      |SELECT CAST(pi AS DOUBLE) / 1000.0 AS p, CAST(qi AS DOUBLE) / 1000.0 AS q,
      |  CAST(sse // 1000000000000 AS BIGINT) AS sse_units,
      |  (SELECT m FROM span) AS m_adopters,
      |  CAST(qi > pi AS INT) AS imitation_driven
      |FROM win""".stripMargin

  /** q416 — Kupiec proportion-of-failures VaR backtest: does q376's
    * VaR actually hold out of sample? The series splits in half by
    * time (stated): the ESTIMATION window re-runs q376's exact rank
    * selection to set VaR(95/99), the TEST window counts exceptions
    * (days whose loss strictly exceeds that VaR), and the Kupiec LR
    * statistic LR = 2[x·ln(x/(np)) + (n−x)·ln((n−x)/(n(1−p)))] ~
    * χ²(1) asks whether the exception RATE is consistent with the
    * promised tail probability — the model-validation step q376
    * itself cannot perform because it grades in-sample. Too MANY
    * exceptions = VaR understates risk; too FEW = capital sits idle;
    * LR is two-sided in the rate. Exact: the split index, VaR ranks,
    * and the exception count are all integer; the LR is one fixed
    * double tree over exact counts with 0·ln0 handled by CASE, both
    * engines branching at the pinned 3.841459.
    *
    * Scale shape: collapse to the day calendar; rank windows over the
    * halved calendar grid; a 2-level broadcast grid join. */
  def q416(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDay = Window.orderBy($"day")
    val pl = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("dl", $"y" - lag($"y", 1).over(wDay))
      .filter($"dl".isNotNull)
      .withColumn("i", row_number().over(wDay))
      .transform(graft.Fx.materialize) // split + rank + test probes
    val n = pl.agg(count(lit(1)).as("n"))
      .select($"n", expr("(n + 1) div 2").as("n_est"))
    val est = pl.crossJoin(broadcast(n)).filter($"i" <= $"n_est")
      .withColumn("rk", row_number().over(Window.orderBy($"dl", $"day")))
      .select($"dl", $"rk")
      .transform(graft.Fx.materialize)
    val levels = s.createDataFrame(Seq((95L, 5L), (99L, 1L)))
      .toDF("level", "tail_pct")
    val vars = broadcast(levels).crossJoin(broadcast(n))
      .select($"level", $"tail_pct", $"n_est",
        expr("(n_est * tail_pct + 99) div 100").as("k"))
      .join(est, $"rk" === $"k")
      .select($"level", $"tail_pct", $"n_est", (-$"dl").as("var_dollars"))
    val test = pl.crossJoin(broadcast(n)).filter($"i" > $"n_est")
      .select($"dl")
    test.crossJoin(broadcast(vars))
      .groupBy($"level", $"tail_pct", $"n_est", $"var_dollars")
      .agg(count(lit(1)).as("n_test"),
        sum(($"dl" < -$"var_dollars").cast("long")).as("x"))
      .withColumn("p", $"tail_pct".cast("double") / lit(100.0))
      .withColumn("lr", lit(2.0) * (
        when($"x" > 0L, $"x".cast("double") *
          log($"x".cast("double") / ($"n_test".cast("double") * $"p")))
          .otherwise(lit(0.0)) +
        when($"x" < $"n_test", ($"n_test" - $"x").cast("double") *
          log(($"n_test" - $"x").cast("double") /
            ($"n_test".cast("double") * (lit(1.0) - $"p"))))
          .otherwise(lit(0.0))))
      .select($"level", $"n_est", $"var_dollars", $"n_test",
        $"x".as("n_exceptions"), r6($"lr").as("lr"),
        ($"lr" > lit(3.841459)).cast("int").as("reject_5pct"))
      .orderBy($"level")
  }

  val q416Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |pl AS (
       |  SELECT day, dl, row_number() OVER (ORDER BY day) AS i
       |  FROM (SELECT day, y - lag(y) OVER (ORDER BY day) AS dl FROM daily)
       |  WHERE dl IS NOT NULL),
       |nn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    (CAST(count(*) AS BIGINT) + 1) // 2 AS n_est
       |  FROM pl),
       |est AS (
       |  SELECT dl, row_number() OVER (ORDER BY dl, day) AS rk
       |  FROM pl CROSS JOIN nn WHERE i <= n_est),
       |lv AS (SELECT 95 AS level, 5 AS tail_pct
       |       UNION ALL SELECT 99, 1),
       |vars AS (
       |  SELECT lv.level, lv.tail_pct, nn.n_est, -est.dl AS var_dollars
       |  FROM lv CROSS JOIN nn
       |  JOIN est ON est.rk = (nn.n_est * lv.tail_pct + 99) // 100),
       |tst AS (
       |  SELECT v.level, v.tail_pct, v.n_est, v.var_dollars,
       |    CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN pl.dl < -v.var_dollars THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x
       |  FROM pl CROSS JOIN nn CROSS JOIN vars v
       |  WHERE pl.i > nn.n_est
       |  GROUP BY 1, 2, 3, 4),
       |f AS (
       |  SELECT level, n_est, var_dollars, n_test, x,
       |    2.0 * (
       |      CASE WHEN x > 0 THEN CAST(x AS DOUBLE)
       |        * ln(CAST(x AS DOUBLE)
       |          / (CAST(n_test AS DOUBLE) * (CAST(tail_pct AS DOUBLE) / 100.0)))
       |        ELSE 0.0 END +
       |      CASE WHEN x < n_test THEN CAST(n_test - x AS DOUBLE)
       |        * ln(CAST(n_test - x AS DOUBLE)
       |          / (CAST(n_test AS DOUBLE)
       |            * (1.0 - CAST(tail_pct AS DOUBLE) / 100.0)))
       |        ELSE 0.0 END) AS lr
       |  FROM tst)
       |SELECT CAST(level AS BIGINT) AS level, n_est, var_dollars, n_test,
       |  x AS n_exceptions, ${sqlR6("lr")} AS lr,
       |  CAST(lr > 3.841459 AS INT) AS reject_5pct
       |FROM f ORDER BY level""".stripMargin
  }

  /** q433 — capture–recapture estimate of the true user universe
    * (Chapman's bias-corrected Lincoln–Petersen): the first observed
    * week "marks" users, the last week "recaptures" them, and the
    * overlap prices how many users EXIST that the log never saw —
    * N̂ = (n₁+1)(n₂+1) div (m+1) − 1, the ecology estimator applied to
    * the only question a distinct-count can't answer (HLL/q128 count
    * the seen; this bounds the unseen). Coverage = observed/N̂ is the
    * headline: a low ratio says the event log samples its population
    * thinly, which reweights every per-user statistic upstream. Exact:
    * membership bits are integer comparisons on the day calendar,
    * N̂ and Seber's variance are stated integer truncations, the only
    * float is √Var (correctly-rounded IEEE) under r6. Stated: windows
    * are the first/last 7 calendar days of the log; independence of
    * the two samples is the method's assumption, not a claim.
    *
    * Scale shape: one pass collapses to per-user (inA, inB) bits
    * (groupBy user_id), then a single 1-row rollup. */
  def q433(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", epochDay($"ts").as("day"))
    val bounds = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
    val bits = ev.crossJoin(broadcast(bounds))
      .groupBy($"user_id")
      .agg(max(($"day" <= $"d0" + 6).cast("long")).as("in_a"),
        max(($"day" >= $"d1" - 6).cast("long")).as("in_b"))
    bits.agg(count(lit(1)).as("observed_users"),
        sum($"in_a").as("n1"), sum($"in_b").as("n2"),
        sum($"in_a" * $"in_b").as("m"))
      .withColumn("n_hat",
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
      .withColumn("var_hat",
        expr("""(cast(n1 + 1 as decimal(38,0)) * (n2 + 1) * (n1 - m) * (n2 - m))
                div (cast(m + 1 as decimal(38,0)) * (m + 1) * (m + 2))"""))
      .select($"observed_users", $"n1".as("n_week_a"), $"n2".as("n_week_b"),
        $"m".as("n_both"), $"n_hat",
        r6(sqrt($"var_hat".cast("double"))).as("se"),
        when($"n_hat" > 0, expr("(observed_users * 1000000) div n_hat"))
          .as("coverage_micro"))
  }

  val q433Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH ev AS (
       |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
       |    - DATE '1970-01-01' AS day
       |  FROM events),
       |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
       |bits AS (
       |  SELECT user_id,
       |    max(CASE WHEN day <= d0 + 6 THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN day >= d1 - 6 THEN 1 ELSE 0 END) AS in_b
       |  FROM ev CROSS JOIN bounds GROUP BY 1),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS observed_users,
       |    CAST(sum(in_a) AS BIGINT) AS n1,
       |    CAST(sum(in_b) AS BIGINT) AS n2,
       |    CAST(sum(in_a * in_b) AS BIGINT) AS m
       |  FROM bits),
       |est AS (
       |  SELECT *, ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS n_hat,
       |    (CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m) * (n2 - m))
       |      // (CAST(m + 1 AS HUGEINT) * (m + 1) * (m + 2)) AS var_hat
       |  FROM agg)
       |SELECT observed_users, n1 AS n_week_a, n2 AS n_week_b, m AS n_both,
       |  CAST(n_hat AS BIGINT) AS n_hat,
       |  ${sqlR6("sqrt(CAST(var_hat AS DOUBLE))")} AS se,
       |  CASE WHEN n_hat > 0
       |    THEN (observed_users * 1000000) // n_hat END AS coverage_micro
       |FROM est""".stripMargin
  }

  /** q445 — discrete repurchase hazard over inter-purchase gaps: for
    * each user's CONSECUTIVE purchase pair, the gap in days; then on
    * the bounded gap grid h(k) = events(k) / atRisk(k) with
    * atRisk(k) = Σ_{g≥k} events(g) — the RECURRENT-event timing
    * readout q271's lifespan survival (one span per user, churn)
    * and q250's first-conversion delay never see: a flat h(k) is the
    * memoryless/exponential signature (remarketing timing doesn't
    * matter), a hump says there IS a right day to nudge. Exact:
    * gaps are integer day diffs ordered by the (ts, event_id) total
    * order, at-risk counts are exact suffix sums (q271's rule), each
    * hazard one stated micro truncation; the exponential benchmark
    * h_exp = 1/mean-gap is one more (NULL on a degenerate mean,
    * stated). Each gap row carries the shared benchmark.
    *
    * Scale shape: one per-user lag window over purchases (shuffled by
    * user_id), collapse to the calendar-bounded gap grid, one suffix
    * window + 1-row rollup on that grid. */
  def q445(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wUser = Window.partitionBy($"user_id").orderBy($"day", $"event_id")
    val gaps = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", epochDay($"ts").cast("long").as("day"))
      .withColumn("prev", lag($"day", 1).over(wUser))
      .filter($"prev".isNotNull)
      .select(($"day" - $"prev").as("gap"))
      .groupBy($"gap").agg(count(lit(1)).as("d"))
      .transform(graft.Fx.materialize) // suffix window + rollup
    val wSuffix = Window.orderBy($"gap".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = gaps.agg(sum($"d").as("n"), sum($"gap" * $"d").as("sg"))
      .select(expr("(sg * 1000000) div n").as("mean_gap_micro"))
      .select($"mean_gap_micro",
        when($"mean_gap_micro" > 0,
          expr("(cast(1000000 as bigint) * 1000000) div mean_gap_micro"))
          .as("h_exp_micro"))
    gaps.withColumn("at_risk", sum($"d").over(wSuffix))
      .crossJoin(broadcast(tot))
      .select($"gap".as("gap_days"), $"d".as("n_events"), $"at_risk",
        expr("(d * 1000000) div at_risk").as("hazard_micro"),
        $"mean_gap_micro", $"h_exp_micro")
      .orderBy($"gap_days")
  }

  val q445Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS BIGINT) AS day
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT day - lag(day) OVER (PARTITION BY user_id
      |    ORDER BY day, event_id) AS gap
      |  FROM p),
      |cells AS MATERIALIZED (
      |  SELECT gap, CAST(count(*) AS BIGINT) AS d
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |tot AS (
      |  SELECT (CAST(sum(gap * d) AS BIGINT) * 1000000)
      |    // CAST(sum(d) AS BIGINT) AS mean_gap_micro
      |  FROM cells),
      |bench AS (
      |  SELECT mean_gap_micro,
      |    CASE WHEN mean_gap_micro > 0
      |      THEN (CAST(1000000 AS BIGINT) * 1000000) // mean_gap_micro
      |      END AS h_exp_micro
      |  FROM tot)
      |SELECT c.gap AS gap_days, c.d AS n_events,
      |  CAST(sum(c.d) OVER (ORDER BY c.gap DESC ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS at_risk,
      |  (c.d * 1000000) // CAST(sum(c.d) OVER (ORDER BY c.gap DESC
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hazard_micro,
      |  bench.mean_gap_micro, bench.h_exp_micro
      |FROM cells c CROSS JOIN bench
      |ORDER BY gap_days""".stripMargin

  /** q449 — Goh–Barabási burstiness/memory plane of inter-purchase
    * gaps: B = (σ−μ)/(σ+μ) over the gap distribution (−1 = metronome,
    * 0 = Poisson, →1 = bursty) and M = the lag-1 Pearson correlation
    * of CONSECUTIVE same-user gaps (do long waits follow long waits?)
    * — the two-coordinate fingerprint that separates "bursty because
    * heavy-tailed" from "bursty because correlated", which q445's
    * hazard curve (marginal timing) and q421's extremal index (tail
    * clustering of REVENUE days) each see only half of. Exact: gaps
    * are integer day diffs on the (ts, event_id) total order; every
    * moment is an exact DECIMAL sum (denominator-cleared, the q309
    * discipline); B and M are single fixed √/ratio trees, r6, NULL on
    * degenerate variance (stated).
    *
    * Scale shape: one per-user lag window (twice — gap, then previous
    * gap), two 1-row exact rollups. */
  def q449(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wUser = Window.partitionBy($"user_id").orderBy($"day", $"event_id")
    val gaps = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", epochDay($"ts").cast("long").as("day"))
      .withColumn("gap", $"day" - lag($"day", 1).over(wUser))
      .withColumn("pgap", lag($"gap", 1).over(wUser))
      .filter($"gap".isNotNull)
      .select($"gap", $"pgap")
      .transform(graft.Fx.materialize) // B rollup + M rollup
    val b = gaps.agg(count(lit(1)).as("n"), sum($"gap").as("sg"),
        sum(expr("cast(gap as decimal(38,0)) * gap")).as("sgg"))
      .select($"n", $"sg", expr("n * sgg - cast(sg as decimal(38,0)) * sg")
        .as("varn")) // n²·Var (population), exact
      .select($"n".as("n_gaps"),
        expr("(sg * 1000000) div n").as("mean_gap_micro"),
        when(expr("varn > 0 or sg > 0"), r6(
          (sqrt($"varn".cast("double")) - $"sg".cast("double")) /
            (sqrt($"varn".cast("double")) + $"sg".cast("double"))))
          .as("burstiness"))
    val m = gaps.filter($"pgap".isNotNull)
      .agg(count(lit(1)).as("np"), sum($"gap").as("sx"), sum($"pgap").as("sy"),
        sum(expr("cast(gap as decimal(38,0)) * pgap")).as("sxy"),
        sum(expr("cast(gap as decimal(38,0)) * gap")).as("sxx"),
        sum(expr("cast(pgap as decimal(38,0)) * pgap")).as("syy"))
      .select($"np".as("n_gap_pairs"),
        when(expr("""(np * sxx - cast(sx as decimal(38,0)) * sx) > 0
              and (np * syy - cast(sy as decimal(38,0)) * sy) > 0"""),
          r6(expr("cast(np * sxy - cast(sx as decimal(38,0)) * sy as double)") /
            (sqrt(expr("cast(np * sxx - cast(sx as decimal(38,0)) * sx as double)")) *
             sqrt(expr("cast(np * syy - cast(sy as decimal(38,0)) * sy as double)")))))
          .as("memory"))
    b.crossJoin(broadcast(m))
  }

  val q449Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH p AS (
       |  SELECT user_id, event_id,
       |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
       |      AS BIGINT) AS day
       |  FROM events WHERE event_type = 'purchase'),
       |g1 AS (
       |  SELECT user_id, day, event_id,
       |    day - lag(day) OVER (PARTITION BY user_id
       |      ORDER BY day, event_id) AS gap
       |  FROM p),
       |g0 AS (
       |  SELECT gap, lag(gap) OVER (PARTITION BY user_id
       |    ORDER BY day, event_id) AS pgap
       |  FROM g1),
       |g AS MATERIALIZED (SELECT gap, pgap FROM g0 WHERE gap IS NOT NULL),
       |b AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       |    (CAST(sum(gap) AS BIGINT) * 1000000) // count(*) AS mean_gap_micro,
       |    CASE WHEN count(*) * sum(CAST(gap AS HUGEINT) * gap)
       |        - CAST(sum(gap) AS HUGEINT) * sum(gap) > 0
       |        OR sum(gap) > 0
       |      THEN ${sqlR6(
      """(sqrt(CAST(count(*) * sum(CAST(gap AS HUGEINT) * gap)
        - CAST(sum(gap) AS HUGEINT) * sum(gap) AS DOUBLE))
        - CAST(sum(gap) AS DOUBLE))
        / (sqrt(CAST(count(*) * sum(CAST(gap AS HUGEINT) * gap)
        - CAST(sum(gap) AS HUGEINT) * sum(gap) AS DOUBLE))
        + CAST(sum(gap) AS DOUBLE))""".replaceAll("\\s+", " "))}
       |      END AS burstiness
       |  FROM g),
       |mm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_gap_pairs,
       |    CASE WHEN count(*) * sum(CAST(gap AS HUGEINT) * gap)
       |          - CAST(sum(gap) AS HUGEINT) * sum(gap) > 0
       |        AND count(*) * sum(CAST(pgap AS HUGEINT) * pgap)
       |          - CAST(sum(pgap) AS HUGEINT) * sum(pgap) > 0
       |      THEN ${sqlR6(
      """CAST(count(*) * sum(CAST(gap AS HUGEINT) * pgap)
        - CAST(sum(gap) AS HUGEINT) * sum(pgap) AS DOUBLE)
        / (sqrt(CAST(count(*) * sum(CAST(gap AS HUGEINT) * gap)
        - CAST(sum(gap) AS HUGEINT) * sum(gap) AS DOUBLE))
        * sqrt(CAST(count(*) * sum(CAST(pgap AS HUGEINT) * pgap)
        - CAST(sum(pgap) AS HUGEINT) * sum(pgap) AS DOUBLE)))""".replaceAll("\\s+", " "))}
       |      END AS memory
       |  FROM g WHERE pgap IS NOT NULL)
       |SELECT b.n_gaps, b.mean_gap_micro, b.burstiness,
       |  mm.n_gap_pairs, mm.memory
       |FROM b CROSS JOIN mm""".stripMargin
  }

  /** q442 — permutation (ordinal-pattern) entropy of daily revenue,
    * order 3 (Bandt–Pompe): each consecutive value triple maps to one
    * of six ordinal patterns by integer comparisons (ties rank by
    * TIME, stated — later wins), and the Shannon entropy of the
    * pattern distribution, normalized by ln 6, prices the series'
    * COMPLEXITY on a 0–1 scale: 1 = all orderings equally likely
    * (noise), low = few orderings dominate (deterministic structure).
    * The DISTRIBUTION-level companion to q401 (turning points counts
    * ONE pattern class) and q409 (Ljung–Box needs linear
    * autocorrelation; PE sees nonlinear order structure too). Exact:
    * patterns and counts are integers, shares stated micro
    * truncations, the entropy is a six-term pivoted ln tree (q372
    * discipline) with 0·ln 0 CASE-killed, h = H/ln 6 against the
    * pinned literal, r6. Each pattern row carries the shared verdict.
    *
    * Scale shape: the orders scan collapses to the day calendar; two
    * lead windows over that bounded grid; a ≤6-cell rollup. */
  def q442(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDay = Window.orderBy($"day")
    val tri = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").cast("long").as("day"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("y0"))
      .withColumn("y1", lead($"y0", 1).over(wDay))
      .withColumn("y2", lead($"y0", 2).over(wDay))
      .filter($"y2".isNotNull)
      .select((($"y1" >= $"y0").cast("long") +
        ($"y2" >= $"y0").cast("long") * 2 +
        ($"y2" >= $"y1").cast("long") * 4).as("pattern"))
    val counts = s.range(8).toDF("pattern")
      .filter($"pattern" =!= 2 && $"pattern" =!= 5) // non-transitive ids
      .join(tri.groupBy($"pattern").agg(count(lit(1)).as("c")),
        Seq("pattern"), "left")
      .select($"pattern", coalesce($"c", lit(0L)).as("c"))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n"))))
      .select($"pattern", $"c", expr("(c * 1000000) div n").as("p_micro"))
      .transform(graft.Fx.materialize) // rows + pivot
    val pivCols = Seq(0L, 1L, 3L, 4L, 6L, 7L).map(i =>
      max(when($"pattern" === i, $"p_micro")).as(s"s$i"))
    val h = counts.agg(pivCols.head, pivCols.tail: _*)
      .select(Seq(0L, 1L, 3L, 4L, 6L, 7L).map(i =>
        when(col(s"s$i") > 0,
          -(col(s"s$i").cast("double") / lit(1000000.0)) *
            log(col(s"s$i").cast("double") / lit(1000000.0)))
          .otherwise(lit(0.0)))
        .reduce(_ + _).as("hraw"))
      .select(r6($"hraw").as("entropy"),
        r6($"hraw" / lit(1.791759469228055)).as("h_norm"))
    counts.crossJoin(broadcast(h))
      .select($"pattern", $"c".as("n_triples"), $"p_micro",
        $"entropy", $"h_norm")
      .orderBy($"pattern")
  }

  val q442Sql: String = {
    import graft.Fx.sqlR6
    val ids = Seq(0, 1, 3, 4, 6, 7)
    val pivCols = ids.map(i =>
      s"max(CASE WHEN pattern = $i THEN p_micro END) AS s$i").mkString(", ")
    val hTree = ids.map(i =>
      s"""CASE WHEN s$i > 0
         | THEN -(CAST(s$i AS DOUBLE) / 1000000.0)
         |   * ln(CAST(s$i AS DOUBLE) / 1000000.0)
         | ELSE 0.0 END""".stripMargin.replace("\n", " "))
      .mkString(" + ")
    s"""WITH g AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |      AS BIGINT) AS y0
       |  FROM orders GROUP BY 1),
       |tri AS (
       |  SELECT CAST(y1 >= y0 AS BIGINT) + CAST(y2 >= y0 AS BIGINT) * 2
       |    + CAST(y2 >= y1 AS BIGINT) * 4 AS pattern
       |  FROM (
       |    SELECT y0, lead(y0, 1) OVER (ORDER BY day) AS y1,
       |      lead(y0, 2) OVER (ORDER BY day) AS y2
       |    FROM g) t
       |  WHERE y2 IS NOT NULL),
       |counts AS MATERIALIZED (
       |  SELECT b.pattern, COALESCE(t.c, 0) AS c,
       |    (COALESCE(t.c, 0) * 1000000) // (SELECT count(*) FROM tri)
       |      AS p_micro
       |  FROM (SELECT unnest([0, 1, 3, 4, 6, 7]) AS pattern) b
       |  LEFT JOIN (SELECT pattern, CAST(count(*) AS BIGINT) AS c
       |             FROM tri GROUP BY 1) t ON t.pattern = b.pattern),
       |piv AS (SELECT $pivCols FROM counts),
       |h AS (
       |  SELECT ${sqlR6(s"($hTree)")} AS entropy,
       |    ${sqlR6(s"($hTree) / 1.791759469228055")} AS h_norm
       |  FROM piv)
       |SELECT CAST(c.pattern AS BIGINT) AS pattern, c.c AS n_triples,
       |  c.p_micro, h.entropy, h.h_norm
       |FROM counts c CROSS JOIN h
       |ORDER BY pattern""".stripMargin
  }

  /** q443 — partial autocorrelation function at lags 1..7 by the
    * Durbin–Levinson recursion over q312's exact ACF: the AR-ORDER
    * readout the raw ACF can't give (an AR(1)'s ACF decays forever;
    * its PACF cuts off dead after lag 1 — which is the number that
    * picks the model). The recursion is UNROLLED: all 28 φ_{k,j}
    * coefficients are fixed expression trees over the seven exact
    * micro autocorrelations (each ρ̂ one truncating division of
    * DECIMAL sums, the q312 discipline), so both engines walk
    * identical doubles through every step; a vanishing innovation
    * denominator (|ρ| = 1 poles) nulls that lag onward (stated),
    * r6 output beside the ACF it derives from.
    *
    * Scale shape: q312's — one collapse to the day grid, the ×7 lag
    * equi-join, then constant-size arithmetic on a 7-value pivot. */
  def q443(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val acf = q312(s, d).select($"k", $"n_pairs", $"acf_micro")
      .transform(graft.Fx.materialize) // pivot + output rows
    val rCols = (1 to 7).map(k =>
      max(when($"k" === k, $"acf_micro".cast("double") / lit(1000000.0)))
        .as(s"r$k"))
    var piv = acf.agg(rCols.head, rCols.tail: _*)
      .withColumn("p1_1", $"r1")
    for (k <- 2 to 7) {
      val num = col(s"r$k") -
        (1 until k).map(j => col(s"p${k - 1}_$j") * col(s"r${k - j}"))
          .reduce(_ + _)
      val den = lit(1.0) -
        (1 until k).map(j => col(s"p${k - 1}_$j") * col(s"r$j"))
          .reduce(_ + _)
      piv = piv.withColumn(s"p${k}_$k", when(den =!= 0.0, num / den))
      for (j <- 1 until k)
        piv = piv.withColumn(s"p${k}_$j",
          col(s"p${k - 1}_$j") - col(s"p${k}_$k") * col(s"p${k - 1}_${k - j}"))
    }
    val pacfCol = (2 to 7).foldLeft(when($"k" === 1, col("p1_1"))) {
      (acc, k) => acc.when($"k" === k, col(s"p${k}_$k"))
    }
    acf.crossJoin(broadcast(
        piv.select((1 to 7).map(k => col(s"p${k}_$k")): _*)))
      .select($"k", $"n_pairs", $"acf_micro", r6(pacfCol).as("pacf"))
      .orderBy($"k")
  }

  val q443Sql: String = {
    import graft.Fx.sqlR6
    val rDefs = (1 to 7).map(k =>
      s"max(CASE WHEN k = $k THEN CAST(acf_micro AS DOUBLE) / 1000000.0 END) AS r$k")
      .mkString(", ")
    val steps = new scala.collection.mutable.ArrayBuffer[String]
    steps += "st1 AS MATERIALIZED (SELECT *, r1 AS p1_1 FROM piv)"
    var prev = "st1"
    for (k <- 2 to 7) {
      val num = s"r$k - (" +
        (1 until k).map(j => s"p${k - 1}_$j * r${k - j}").mkString(" + ") + ")"
      val den = "1.0 - (" +
        (1 until k).map(j => s"p${k - 1}_$j * r$j").mkString(" + ") + ")"
      steps += s"""stk$k AS MATERIALIZED (
        |  SELECT *, CASE WHEN ($den) <> 0.0 THEN ($num) / ($den) END
        |    AS p${k}_$k FROM $prev)""".stripMargin
      val upd = (1 until k).map(j =>
        s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j} AS p${k}_$j")
        .mkString(", ")
      steps += s"stj$k AS MATERIALIZED (SELECT *, $upd FROM stk$k)"
      prev = s"stj$k"
    }
    val pacfCase = "CASE " + (1 to 7).map(k =>
      s"WHEN a.k = $k THEN p.p${k}_$k").mkString(" ") + " END"
    s"""WITH g AS (
       |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
       |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS sr
       |       FROM g),
       |c AS (SELECT day, n * rev - sr AS c,
       |        row_number() OVER (ORDER BY day) AS rn
       |      FROM g CROSS JOIN st),
       |dd AS (SELECT sum(CAST(c AS HUGEINT) * c) AS den FROM c),
       |ks AS (SELECT unnest(range(1, 8)) AS k),
       |sh AS (SELECT k, rn - k AS ra, c AS cb FROM c CROSS JOIN ks),
       |nums AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
       |    sum(CAST(a.c AS HUGEINT) * sh.cb) AS num
       |  FROM sh JOIN c a ON sh.ra = a.rn GROUP BY k),
       |acf AS MATERIALIZED (
       |  SELECT CAST(k AS BIGINT) AS k, n_pairs,
       |    CAST((num * 1000000) // den AS BIGINT) AS acf_micro
       |  FROM nums CROSS JOIN dd),
       |piv AS (SELECT $rDefs FROM acf),
       |${steps.mkString(",\n")}
       |SELECT a.k, a.n_pairs, a.acf_micro, ${sqlR6(pacfCase)} AS pacf
       |FROM acf a CROSS JOIN $prev p
       |ORDER BY a.k""".stripMargin
  }

  /** q436 — count-model adequacy for per-user purchases: fit a
    * negative binomial by method of moments (r = m²/(v−m), p = m/v)
    * over the FULL user universe (zero-purchase users in — the panel
    * q368's hourly Fano never sees), then judge BOTH candidate models
    * where count models actually fail: the zero cell. Observed zero
    * share vs Poisson's e^(−m) vs NB's (r/(r+m))^r — Poisson under
    * overdispersion predicts far too few zeros, and the gap prices
    * how wrong per-user rate assumptions are before anyone builds a
    * frequency model on them. Exact: counts, n·Σc²−S² and every rate
    * are integer/stated-micro; the two zero predictions are single
    * pow/exp trees on micro-derived doubles, r6. v ≤ m (no
    * overdispersion) nulls the NB fit (stated).
    *
    * Scale shape: one groupBy user_id over purchases, one left join
    * against the distinct-user universe, a 1-row rollup. */
  def q436(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val universe = ev.select($"user_id").distinct()
    val counts = universe
      .join(ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(count(lit(1)).as("c0")),
        Seq("user_id"), "left")
      .select(coalesce($"c0", lit(0L)).as("c"))
    counts.agg(count(lit(1)).as("n"), sum($"c").as("sc"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("qc"),
        sum(($"c" === 0L).cast("long")).as("n_zero"))
      .withColumn("m_micro", expr("(sc * 1000000) div n"))
      .withColumn("v_micro",
        expr("((n * qc - cast(sc as decimal(38,0)) * sc) * 1000000) div (cast(n as decimal(38,0)) * (n - 1))"))
      .withColumn("r_micro",
        when($"v_micro" > $"m_micro",
          expr("(cast(m_micro as decimal(38,0)) * m_micro) div (v_micro - m_micro)")))
      .select($"n".as("n_users"), $"m_micro",
        expr("cast(v_micro as bigint)").as("var_micro"),
        when($"m_micro" > 0, expr("cast((v_micro * 1000000) div m_micro as bigint)"))
          .as("dispersion_micro"),
        expr("cast(r_micro as bigint)").as("r_micro"),
        when($"v_micro" > 0, expr("(m_micro * 1000000) div cast(v_micro as bigint)"))
          .as("p_micro"),
        expr("(n_zero * 1000000) div n").as("zero_obs_micro"),
        when($"r_micro".isNotNull, r6(
          pow($"r_micro".cast("double") /
            ($"r_micro".cast("double") + $"m_micro".cast("double")),
            $"r_micro".cast("double") / lit(1000000.0)))).as("zero_nb"),
        r6(exp(-$"m_micro".cast("double") / lit(1000000.0))).as("zero_poisson"))
  }

  val q436Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH universe AS (SELECT DISTINCT user_id FROM events),
       |pc AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS c0 FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |counts AS (
       |  SELECT COALESCE(pc.c0, 0) AS c
       |  FROM universe u LEFT JOIN pc ON pc.user_id = u.user_id),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
       |    sum(CAST(c AS HUGEINT) * c) AS qc,
       |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
       |  FROM counts),
       |mv AS (
       |  SELECT *, (sc * 1000000) // n AS m_micro,
       |    ((n * qc - CAST(sc AS HUGEINT) * sc) * 1000000)
       |      // (CAST(n AS HUGEINT) * (n - 1)) AS v_micro
       |  FROM agg),
       |fit AS (
       |  SELECT *, CASE WHEN v_micro > m_micro
       |    THEN (CAST(m_micro AS HUGEINT) * m_micro) // (v_micro - m_micro)
       |    END AS r_micro
       |  FROM mv)
       |SELECT n AS n_users, m_micro, CAST(v_micro AS BIGINT) AS var_micro,
       |  CASE WHEN m_micro > 0
       |    THEN CAST((v_micro * 1000000) // m_micro AS BIGINT)
       |    END AS dispersion_micro,
       |  CAST(r_micro AS BIGINT) AS r_micro,
       |  CASE WHEN v_micro > 0
       |    THEN CAST((m_micro * 1000000) // CAST(v_micro AS BIGINT) AS BIGINT)
       |    END AS p_micro,
       |  (n_zero * 1000000) // n AS zero_obs_micro,
       |  CASE WHEN r_micro IS NOT NULL THEN ${sqlR6(
      "pow(CAST(r_micro AS DOUBLE) / (CAST(r_micro AS DOUBLE) + CAST(m_micro AS DOUBLE)), CAST(r_micro AS DOUBLE) / 1000000.0)")}
       |    END AS zero_nb,
       |  ${sqlR6("exp(-CAST(m_micro AS DOUBLE) / 1000000.0)")} AS zero_poisson
       |FROM fit""".stripMargin
  }

  /** q431 — Hurst exponent of daily order revenue by the
    * AGGREGATED-VARIANCE method: variance of m-day block means falls
    * as m^(2H−2), so the slope of ln Var(m) over ln m at the stated
    * dyadic levels m ∈ {1,2,4,8,16} prices LONG MEMORY — H ≈ 0.5 is
    * iid, H > 0.5 persistent trends (shocks echo for weeks), H < 0.5
    * mean reversion. The persistence question q312's per-lag ACF and
    * q368's single-scale Fano ratio can't answer (long memory is
    * precisely variance decaying SLOWER than 1/m ACROSS scales).
    * Exact core: the day calendar is zero-filled (stated), block
    * means live on the whole-dollar grid (sum div m, stated
    * truncation; only FULL blocks count), and each level's variance
    * numerator N_b·Σv² − S² is an exact DECIMAL integer. Floats are
    * confined to one fixed tree per level (exact-int ratio → ln) and
    * the closed-form 5-point OLS slope (−2y₁−y₂+y₄+2y₅)/(10·ln 2)
    * with PINNED literals — the 5 y's pivot to scalars by
    * conditional aggregation (q372's discipline: never a float SUM
    * over engine-ordered rows). H = 1 + slope/2, r6; any level with
    * Var ≤ 0 (constant series) nulls H (stated).
    *
    * Scale shape: collapse to the bounded day calendar, one 5-level
    * broadcast grid join, two nested bounded aggregates, a 5-row
    * pivot. */
  def q431(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
    val bounds = daily.agg(min($"day").as("d0"), max($"day").as("d1"))
    val cal = bounds.select(explode(sequence($"d0", $"d1")).as("day"), $"d0")
      .join(daily, Seq("day"), "left")
      .select($"day", $"d0", coalesce($"y", lit(0L)).as("y"))
      .transform(graft.Fx.materialize) // 5 level passes share the scan
    val levels = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L), Tuple1(16L))).toDF("m")
    val perLevel = cal.crossJoin(broadcast(levels))
      .groupBy($"m", expr("(day - d0) div m").as("blk"))
      .agg(count(lit(1)).as("cnt"), sum($"y").as("sy"))
      .filter($"cnt" === $"m")
      .select($"m", expr("sy div m").as("v"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n_blocks"),
        sum($"v".cast("decimal(38,0)")).as("sv"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("svv"))
      .withColumn("num", expr("n_blocks * svv - sv * sv"))
      .withColumn("ln_var",
        when($"n_blocks" > 1L && $"num" > 0,
          log($"num".cast("double") /
            ($"n_blocks" * ($"n_blocks" - 1L)).cast("double")))
          .otherwise(lit(null).cast("double")))
      .transform(graft.Fx.materialize) // pivot + output rows
    val piv = perLevel.agg(
      max(when($"m" === 1L, $"ln_var")).as("y1"),
      max(when($"m" === 2L, $"ln_var")).as("y2"),
      max(when($"m" === 8L, $"ln_var")).as("y4"),
      max(when($"m" === 16L, $"ln_var")).as("y5"),
      sum($"ln_var".isNull.cast("int")).as("n_null"))
    val hurst = piv.select(
      when($"n_null" === 0,
        r6(lit(1.0) + ((lit(-2.0) * $"y1" - $"y2" + $"y4" + lit(2.0) * $"y5") /
          lit(6.931471805599453)) / lit(2.0)))
        .otherwise(lit(null).cast("double")).as("hurst"))
    perLevel.crossJoin(broadcast(hurst))
      .select($"m", $"n_blocks", r6($"ln_var").as("ln_var"), $"hurst")
      .orderBy($"m")
  }

  val q431Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       |cal AS MATERIALIZED (
       |  SELECT c.day, b.d0, COALESCE(d.y, 0) AS y
       |  FROM bounds b,
       |    (SELECT unnest(generate_series(b2.d0, b2.d1)) AS day
       |     FROM bounds b2) c
       |  LEFT JOIN daily d ON d.day = c.day),
       |lv(m) AS (VALUES (1), (2), (4), (8), (16)),
       |blocks AS (
       |  SELECT lv.m, (cal.day - cal.d0) // lv.m AS blk,
       |    count(*) AS cnt, CAST(sum(cal.y) AS BIGINT) AS sy
       |  FROM cal CROSS JOIN lv
       |  GROUP BY 1, 2),
       |pl AS MATERIALIZED (
       |  SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
       |    sum(CAST(sy // m AS HUGEINT)) AS sv,
       |    sum(CAST(sy // m AS HUGEINT) * (sy // m)) AS svv
       |  FROM blocks WHERE cnt = m
       |  GROUP BY 1),
       |ln_tab AS MATERIALIZED (
       |  SELECT m, n_blocks,
       |    CASE WHEN n_blocks > 1 AND n_blocks * svv - sv * sv > 0
       |      THEN ln(CAST(n_blocks * svv - sv * sv AS DOUBLE)
       |        / CAST(n_blocks * (n_blocks - 1) AS DOUBLE))
       |      ELSE NULL END AS ln_var
       |  FROM pl),
       |piv AS (
       |  SELECT max(CASE WHEN m = 1 THEN ln_var END) AS y1,
       |    max(CASE WHEN m = 2 THEN ln_var END) AS y2,
       |    max(CASE WHEN m = 8 THEN ln_var END) AS y4,
       |    max(CASE WHEN m = 16 THEN ln_var END) AS y5,
       |    sum(CASE WHEN ln_var IS NULL THEN 1 ELSE 0 END) AS n_null
       |  FROM ln_tab),
       |h AS (
       |  SELECT CASE WHEN n_null = 0
       |    THEN ${sqlR6("1.0 + ((-2.0 * y1 - y2 + y4 + 2.0 * y5) / 6.931471805599453) / 2.0")}
       |    ELSE NULL END AS hurst
       |  FROM piv)
       |SELECT CAST(t.m AS BIGINT) AS m, t.n_blocks,
       |  ${sqlR6("t.ln_var")} AS ln_var, h.hurst
       |FROM ln_tab t CROSS JOIN h
       |ORDER BY m""".stripMargin
  }

  /** q432 — Christoffersen independence backtest of q376's VaR: even
    * a PERFECT exception RATE (which is all q416's Kupiec test sees)
    * is a broken model if the exceptions CLUSTER — consecutive
    * violation days mean the risk measure lags the volatility state
    * (exactly the dependence q421's extremal index measures for raw
    * extremes, here charged against the MODEL). On q416's test-window
    * exception series: transition counts n₀₀ n₀₁ n₁₀ n₁₁ between
    * consecutive days, LR_ind = 2(ln L₁ − ln L₀) comparing the
    * first-order Markov likelihood against the iid one, ~χ²(1) at the
    * pinned 3.841459; LR_cc = LR_uc + LR_ind ~χ²(2) at 5.991465 is
    * the joint rate+independence verdict. Exact: split, VaR rank,
    * exceptions, and all four transition counts are integers; both LR
    * terms are fixed ln trees over exact-count ratios with every
    * 0·ln 0 CASE-killed, identical doubles both engines.
    *
    * Scale shape: q416's — collapse to the day calendar, rank windows
    * over the halved grid, one lag window over the test half, a
    * 2-level broadcast grid. */
  def q432(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wDay = Window.orderBy($"day")
    val pl = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("dl", $"y" - lag($"y", 1).over(wDay))
      .filter($"dl".isNotNull)
      .withColumn("i", row_number().over(wDay))
      .transform(graft.Fx.materialize)
    val n = pl.agg(count(lit(1)).as("n"))
      .select($"n", expr("(n + 1) div 2").as("n_est"))
    val est = pl.crossJoin(broadcast(n)).filter($"i" <= $"n_est")
      .withColumn("rk", row_number().over(Window.orderBy($"dl", $"day")))
      .select($"dl", $"rk")
    val levels = s.createDataFrame(Seq((95L, 5L), (99L, 1L)))
      .toDF("level", "tail_pct")
    val vars = broadcast(levels).crossJoin(broadcast(n))
      .select($"level", $"tail_pct", $"n_est",
        expr("(n_est * tail_pct + 99) div 100").as("k"))
      .join(est, $"rk" === $"k")
      .select($"level", $"tail_pct", (-$"dl").as("var_dollars"))
    val trans = pl.crossJoin(broadcast(n)).filter($"i" > $"n_est")
      .crossJoin(broadcast(vars))
      .select($"level", $"tail_pct", $"day",
        ($"dl" < -$"var_dollars").cast("long").as("e"))
      .withColumn("pe", lag($"e", 1).over(
        Window.partitionBy($"level").orderBy($"day")))
      .filter($"pe".isNotNull)
      .groupBy($"level", $"tail_pct")
      .agg(sum((($"pe" === 0L) && ($"e" === 0L)).cast("long")).as("n00"),
        sum((($"pe" === 0L) && ($"e" === 1L)).cast("long")).as("n01"),
        sum((($"pe" === 1L) && ($"e" === 0L)).cast("long")).as("n10"),
        sum((($"pe" === 1L) && ($"e" === 1L)).cast("long")).as("n11"))
    def term(cnt: org.apache.spark.sql.Column, num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(cnt > 0L, cnt.cast("double") *
        log(num.cast("double") / den.cast("double"))).otherwise(lit(0.0))
    val out = trans
      .withColumn("nn", $"n00" + $"n01" + $"n10" + $"n11")
      .withColumn("ln_l1",
        term($"n00", $"n00", $"n00" + $"n01") +
        term($"n01", $"n01", $"n00" + $"n01") +
        term($"n10", $"n10", $"n10" + $"n11") +
        term($"n11", $"n11", $"n10" + $"n11"))
      .withColumn("ln_l0",
        term($"n00" + $"n10", $"n00" + $"n10", $"nn") +
        term($"n01" + $"n11", $"n01" + $"n11", $"nn"))
      .withColumn("lr_ind", lit(2.0) * ($"ln_l1" - $"ln_l0"))
      .withColumn("p", $"tail_pct".cast("double") / lit(100.0))
      .withColumn("x", $"n01" + $"n11")
      .withColumn("nt", $"nn")
      .withColumn("lr_uc", lit(2.0) * (
        when($"x" > 0L, $"x".cast("double") *
          log($"x".cast("double") / ($"nt".cast("double") * $"p")))
          .otherwise(lit(0.0)) +
        when($"x" < $"nt", ($"nt" - $"x").cast("double") *
          log(($"nt" - $"x").cast("double") /
            ($"nt".cast("double") * (lit(1.0) - $"p"))))
          .otherwise(lit(0.0))))
    out.select($"level", $"n00", $"n01", $"n10", $"n11",
        r6($"lr_ind").as("lr_ind"),
        ($"lr_ind" > lit(3.841459)).cast("int").as("reject_ind_5pct"),
        r6($"lr_uc" + $"lr_ind").as("lr_cc"),
        (($"lr_uc" + $"lr_ind") > lit(5.991465)).cast("int")
          .as("reject_cc_5pct"))
      .orderBy($"level")
  }

  val q432Sql: String = {
    import graft.Fx.sqlR6
    def term(cnt: String, num: String, den: String): String =
      s"CASE WHEN $cnt > 0 THEN CAST($cnt AS DOUBLE) * ln(CAST($num AS DOUBLE) / CAST($den AS DOUBLE)) ELSE 0.0 END"
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
       |  FROM orders GROUP BY 1),
       |pl AS (
       |  SELECT day, dl, row_number() OVER (ORDER BY day) AS i
       |  FROM (SELECT day, y - lag(y) OVER (ORDER BY day) AS dl FROM daily)
       |  WHERE dl IS NOT NULL),
       |nn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    (CAST(count(*) AS BIGINT) + 1) // 2 AS n_est
       |  FROM pl),
       |est AS (
       |  SELECT dl, row_number() OVER (ORDER BY dl, day) AS rk
       |  FROM pl CROSS JOIN nn WHERE i <= n_est),
       |lv AS (SELECT 95 AS level, 5 AS tail_pct
       |       UNION ALL SELECT 99, 1),
       |vars AS MATERIALIZED (
       |  SELECT lv.level, lv.tail_pct, -est.dl AS var_dollars
       |  FROM lv CROSS JOIN nn
       |  JOIN est ON est.rk = (nn.n_est * lv.tail_pct + 99) // 100),
       |ex AS (
       |  SELECT v.level, v.tail_pct, pl.day,
       |    CASE WHEN pl.dl < -v.var_dollars THEN 1 ELSE 0 END AS e,
       |    lag(CASE WHEN pl.dl < -v.var_dollars THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY v.level ORDER BY pl.day) AS pe
       |  FROM pl CROSS JOIN nn CROSS JOIN vars v
       |  WHERE pl.i > nn.n_est),
       |tr AS MATERIALIZED (
       |  SELECT level, tail_pct,
       |    CAST(sum(CASE WHEN pe = 0 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
       |    CAST(sum(CASE WHEN pe = 0 AND e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(sum(CASE WHEN pe = 1 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(sum(CASE WHEN pe = 1 AND e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
       |  FROM ex WHERE pe IS NOT NULL
       |  GROUP BY 1, 2),
       |f AS (
       |  SELECT level, n00, n01, n10, n11,
       |    2.0 * (
       |      (${term("n00", "n00", "n00 + n01")} +
       |       ${term("n01", "n01", "n00 + n01")} +
       |       ${term("n10", "n10", "n10 + n11")} +
       |       ${term("n11", "n11", "n10 + n11")}) -
       |      (${term("n00 + n10", "n00 + n10", "n00 + n01 + n10 + n11")} +
       |       ${term("n01 + n11", "n01 + n11", "n00 + n01 + n10 + n11")}))
       |      AS lr_ind,
       |    2.0 * (
       |      CASE WHEN n01 + n11 > 0 THEN CAST(n01 + n11 AS DOUBLE)
       |        * ln(CAST(n01 + n11 AS DOUBLE)
       |          / (CAST(n00 + n01 + n10 + n11 AS DOUBLE)
       |            * (CAST(tail_pct AS DOUBLE) / 100.0)))
       |        ELSE 0.0 END +
       |      CASE WHEN n01 + n11 < n00 + n01 + n10 + n11
       |        THEN CAST(n00 + n10 AS DOUBLE)
       |        * ln(CAST(n00 + n10 AS DOUBLE)
       |          / (CAST(n00 + n01 + n10 + n11 AS DOUBLE)
       |            * (1.0 - CAST(tail_pct AS DOUBLE) / 100.0)))
       |        ELSE 0.0 END) AS lr_uc
       |  FROM tr)
       |SELECT CAST(level AS BIGINT) AS level, n00, n01, n10, n11,
       |  ${sqlR6("lr_ind")} AS lr_ind,
       |  CAST(lr_ind > 3.841459 AS INT) AS reject_ind_5pct,
       |  ${sqlR6("lr_uc + lr_ind")} AS lr_cc,
       |  CAST(lr_uc + lr_ind > 5.991465 AS INT) AS reject_cc_5pct
       |FROM f ORDER BY level""".stripMargin
  }

  /** q383 — quantile-regression trend of the daily-revenue UPPER
    * envelope: fit y ≈ a + b·x at τ = 0.9 by exact pinball-loss
    * minimization over a stated slope grid — how fast the TOP days
    * grow, which an OLS trend (mean) and Theil–Sen (median) both
    * miss when growth concentrates in peaks. For each candidate
    * slope b (dollars/day, the stated −100..100 step 5 grid), the
    * optimal intercept is the exact τ-quantile of the residuals
    * y − b·x (selection at rank ⌈0.9·n⌉ — quantile regression's
    * one-dimensional reduction), and the pinball loss
    * Σ[9·(r−a)⁺ + 1·(a−r)⁺] is an exact integer with τ = 9/10
    * cleared of fractions; the winner is (loss, b) — total order.
    * Exact selection + integer loss ⟹ no float enters the argmin.
    *
    * Scale shape: the corpus collapses to the day calendar; the
    * 41-slope grid cross-joins that bounded relation; residual
    * ranks ride slope-partitioned windows over the COLLAPSED
    * grid×calendar relation; one aggregate per slope, then a 41-row
    * argmin. */
  def q383(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .withColumn("x", $"day" - min($"day").over(Window.partitionBy(lit(1))))
      .transform(graft.Fx.materialize) // 41 slope probes
    val grid = s.range(-20L, 21L).select(($"id" * 5L).as("b"))
    val resid = daily.crossJoin(broadcast(grid))
      .select($"b", ($"y" - $"b" * $"x").as("r"))
    val wb = Window.partitionBy($"b").orderBy($"r")
    val wn = Window.partitionBy($"b")
    val withA = resid
      .withColumn("rk", row_number().over(wb))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("a", min(when($"rk" >= expr("(9 * n + 9) div 10"), $"r"))
        .over(wn))
    val losses = withA.groupBy($"b")
      .agg(max($"a").as("a"), max($"n").as("n"),
        sum(when($"r" > $"a", lit(9L) * ($"r" - $"a")).otherwise($"a" - $"r"))
          .as("loss10"))
    losses.orderBy($"loss10", $"b").limit(1)
      .select($"b".as("slope_dollars_per_day"), $"a".as("intercept_dollars"),
        $"n".as("n_days"), $"loss10")
  }

  val q383Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
      |  FROM orders GROUP BY 1),
      |dx AS (
      |  SELECT day - (SELECT min(day) FROM daily) AS x, y FROM daily),
      |grid AS (SELECT CAST(l * 5 AS BIGINT) AS b
      |         FROM generate_series(-20, 20) t(l)),
      |resid AS (
      |  SELECT grid.b, dx.y - grid.b * dx.x AS r
      |  FROM dx CROSS JOIN grid),
      |ranked AS (
      |  SELECT b, r,
      |    row_number() OVER (PARTITION BY b ORDER BY r) AS rk,
      |    count(*) OVER (PARTITION BY b) AS n
      |  FROM resid),
      |wa AS (
      |  SELECT b, r, n,
      |    min(CASE WHEN rk >= (9 * n + 9) // 10 THEN r END)
      |      OVER (PARTITION BY b) AS a
      |  FROM ranked),
      |losses AS (
      |  SELECT b, max(a) AS a, max(n) AS n,
      |    CAST(sum(CASE WHEN r > a THEN 9 * (r - a) ELSE a - r END) AS BIGINT)
      |      AS loss10
      |  FROM wa GROUP BY b)
      |SELECT b AS slope_dollars_per_day, a AS intercept_dollars,
      |  CAST(n AS BIGINT) AS n_days, loss10
      |FROM losses ORDER BY loss10, b LIMIT 1""".stripMargin

  /** q379 — SLO error-budget burn rate with the multi-window alert
    * rule: against a stated 75% success SLO (error budget 25% — sized
    * to this corpus's synthetic error mix), the burn rate of a window
    * is (error rate)/(budget), and a page fires only when BOTH the
    * fast 1-day window (burn ≥ 2) and the slow 7-day window
    * (burn ≥ 1.5) are burning — the SRE-handbook construction that
    * suppresses blips (fast-only) and stale alerts (slow-only).
    * Exact: daily error/total counts on the dense day spine (zero
    * fill); each burn is one truncating micro division
    * (errors·4·10⁶ div total — 4 = 1/budget); window sums are
    * integer ROWS frames over the bounded calendar; thresholds
    * compare integers. Days with an empty window degrade that burn
    * to NULL (and the alert with it).
    *
    * Scale shape: one collapse to the day calendar, a sequence-
    * generated spine, two running-sum windows over the COLLAPSED
    * spine, scalar arithmetic per day. */
  def q379(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(epochDay($"ts").as("day"))
      .agg(count(lit(1)).as("tot"),
        sum(($"event_type" === "error").cast("long")).as("err"))
      .transform(graft.Fx.materialize) // span probe + spine join
    val spine = daily.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("day"))
    val w7 = Window.orderBy($"day").rowsBetween(-6, 0)
    spine.join(daily, Seq("day"), "left_outer")
      .select($"day", coalesce($"tot", lit(0L)).as("tot"),
        coalesce($"err", lit(0L)).as("err"))
      .withColumn("tot7", sum($"tot").over(w7))
      .withColumn("err7", sum($"err").over(w7))
      .select($"day".cast("long").as("day"),
        when($"tot" > 0, expr("(err * 4000000) div tot")).as("burn1_micro"),
        when($"tot7" > 0, expr("(err7 * 4000000) div tot7")).as("burn7_micro"))
      .withColumn("page",
        when($"burn1_micro".isNotNull && $"burn7_micro".isNotNull,
          ($"burn1_micro" >= 2000000L && $"burn7_micro" >= 1500000L)
            .cast("int")))
      .orderBy($"day")
  }

  val q379Sql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(count(*) AS BIGINT) AS tot,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS err
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series((SELECT min(day) FROM daily),
      |                                (SELECT max(day) FROM daily))) AS day),
      |g AS (
      |  SELECT spine.day, COALESCE(d.tot, 0) AS tot, COALESCE(d.err, 0) AS err
      |  FROM spine LEFT JOIN daily d ON spine.day = d.day),
      |r AS (
      |  SELECT day, tot, err,
      |    sum(tot) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |      AS tot7,
      |    sum(err) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |      AS err7
      |  FROM g)
      |SELECT day,
      |  CASE WHEN tot > 0 THEN CAST((err * 4000000) // tot AS BIGINT) END
      |    AS burn1_micro,
      |  CASE WHEN tot7 > 0 THEN CAST((err7 * 4000000) // tot7 AS BIGINT) END
      |    AS burn7_micro,
      |  CASE WHEN tot > 0 AND tot7 > 0 THEN
      |    CAST((err * 4000000) // tot >= 2000000
      |     AND (err7 * 4000000) // tot7 >= 1500000 AS INT)
      |  END AS page
      |FROM r ORDER BY day""".stripMargin

  /** q378 — Shewhart X̄-R control chart on daily revenue, subgrouped
    * by complete calendar week (7 epoch-days, stated): the LARGE-
    * excursion monitor beside q320's CUSUM (CUSUM integrates small
    * persistent shifts; Shewhart flags single subgroups past 3σ-
    * equivalent limits). The n=7 chart constants are exact 3-decimal
    * rationals (A2 = 419/1000, D3 = 76/1000, D4 = 1924/1000), so
    * every limit test cross-multiplies to integers:
    * X̄_w ≷ X̄̄ ± A2·R̄ ⟺ 1000·W·S_w ≷ 1000·T ± 2933·ΣR (7·419),
    * R_w > D4·R̄ ⟺ 1000·W·R_w > 1924·ΣR — NO float ever enters a
    * verdict. Reported means ride one truncating micro division.
    *
    * Scale shape: collapse to days, then to weeks; the grand totals
    * broadcast back over the bounded week relation. */
  def q378(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weeks = Tables.orders(s, d)
      .groupBy(epochDay($"o_orderdate").as("day"))
      .agg(expr("cast(floor(sum(o_totalprice) * 100 + 0.5) as bigint) div 100")
        .as("y"))
      .groupBy(expr("day div 7").as("week"))
      .agg(count(lit(1)).as("nd"), sum($"y").as("sw"),
        (max($"y") - min($"y")).as("r"))
      .filter($"nd" === 7L)
      .transform(graft.Fx.materialize) // totals + per-week verdicts
    val tot = weeks.agg(count(lit(1)).as("ww"), sum($"sw").as("t"),
      sum($"r").as("sr"))
    weeks.crossJoin(broadcast(tot))
      .select($"week", expr("(sw * 1000000) div 7").as("xbar_micro"), $"r",
        expr("""cast(1000 * cast(ww as decimal(38,0)) * sw
               > 1000 * cast(t as decimal(38,0)) + 2933 * sr as int)""")
          .as("above_ucl_x"),
        expr("""cast(1000 * cast(ww as decimal(38,0)) * sw
               < 1000 * cast(t as decimal(38,0)) - 2933 * sr as int)""")
          .as("below_lcl_x"),
        expr("""cast(1000 * cast(ww as decimal(38,0)) * r
               > 1924 * cast(sr as decimal(38,0)) as int)""").as("above_ucl_r"))
      .orderBy($"week")
  }

  val q378Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) // 100 AS y
      |  FROM orders GROUP BY 1),
      |wk AS (
      |  SELECT day // 7 AS week, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(y) AS BIGINT) AS sw,
      |    CAST(max(y) - min(y) AS BIGINT) AS r
      |  FROM daily GROUP BY 1 HAVING count(*) = 7),
      |tot AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS ww, CAST(sum(sw) AS HUGEINT) AS t,
      |    CAST(sum(r) AS HUGEINT) AS sr
      |  FROM wk)
      |SELECT wk.week,
      |  CAST((CAST(sw AS HUGEINT) * 1000000) // 7 AS BIGINT) AS xbar_micro,
      |  wk.r,
      |  CAST(1000 * tot.ww * sw > 1000 * tot.t + 2933 * tot.sr AS INT)
      |    AS above_ucl_x,
      |  CAST(1000 * tot.ww * sw < 1000 * tot.t - 2933 * tot.sr AS INT)
      |    AS below_lcl_x,
      |  CAST(1000 * tot.ww * wk.r > 1924 * tot.sr AS INT) AS above_ucl_r
      |FROM wk CROSS JOIN tot ORDER BY wk.week""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q357_leadlag_xcorr", q357, Some(q357Sql)),
    QueryDef("q364_calendar_eta2", q364, Some(q364Sql)),
    QueryDef("q368_fano_factor", q368, Some(q368Sql)),
    QueryDef("q372_weekly_periodogram", q372, Some(q372Sql)),
    QueryDef("q376_var_cvar", q376, Some(q376Sql)),
    QueryDef("q378_xbar_r_chart", q378, Some(q378Sql)),
    QueryDef("q379_slo_burn", q379, Some(q379Sql)),
    QueryDef("q383_quantile_trend", q383, Some(q383Sql)),
    QueryDef("q391_behavior_novelty", q391, Some(q391Sql)),
    QueryDef("q393_mann_kendall", q393, Some(q393Sql)),
    QueryDef("q395_max_drawdown", q395, Some(q395Sql)),
    QueryDef("q401_turning_points", q401, Some(q401Sql)),
    QueryDef("q408_record_days", q408, Some(q408Sql)),
    QueryDef("q409_ljung_box", q409, Some(q409Sql)),
    QueryDef("q412_competing_risks", q412, Some(q412Sql)),
    QueryDef("q413_gumbel_return", q413, Some(q413Sql)),
    QueryDef("q414_jarque_bera", q414, Some(q414Sql)),
    QueryDef("q416_kupiec_backtest", q416, Some(q416Sql)),
    QueryDef("q419_bass_diffusion", q419, Some(q419Sql)),
    QueryDef("q421_extremal_index", q421, Some(q421Sql)),
    QueryDef("q422_absorption_time", q422, Some(q422Sql)),
    QueryDef("q349_mcnemar", q349, Some(q349Sql)),
    QueryDef("q340_bootstrap_ci", q340, Some(q340Sql)),
    QueryDef("q341_variance_ratio", q341, Some(q341Sql)),
    QueryDef("q331_mase_forecast_eval", q331, Some(q331Sql)),
    QueryDef("q328_rmst", q328, Some(q328Sql)),
    QueryDef("q312_acf_daily_revenue", q312, Some(q312Sql)),
    QueryDef("q320_cusum_control_chart", q320, Some(q320Sql)),
    QueryDef("q250_time_to_convert", q250, Some(q250Sql)),
    QueryDef("q249_peak_concurrency", q249, Some(q249Sql)),
    QueryDef("q239_replay_collapse", q239, Some(q239Sql)),
    QueryDef("q241_trending_types", q241, Some(q241Sql)),
    QueryDef("q234_rolling_active_users", q234, Some(q234Sql), bench = true),
    QueryDef("q185_decayed_counts", q185, Some(q185Sql)),
    QueryDef("q193_bounded_funnel", q193, Some(q193Sql)),
    QueryDef("q215_linear_interpolation", q215, Some(q215Sql), bench = true),
    QueryDef("q217_median_mad_outliers", q217, Some(q217Sql)),
    QueryDef("q218_cusum_changepoint", q218, Some(q218Sql)),
    QueryDef("q188_touch_attribution", q188, Some(q188Sql), bench = true),
    QueryDef("q259_multitouch_attribution", q259, Some(q259Sql)),
    QueryDef("q265_markov_attribution", q265, Some(q265Sql)),
    QueryDef("q270_holt_smoothing", q270, Some(q270Sql)),
    QueryDef("q271_kaplan_meier", q271, Some(q271Sql)),
    QueryDef("q429_greenwood_bands", q429, Some(q429Sql)),
    QueryDef("q431_hurst_exponent", q431, Some(q431Sql)),
    QueryDef("q432_christoffersen", q432, Some(q432Sql)),
    QueryDef("q433_capture_recapture", q433, Some(q433Sql)),
    QueryDef("q436_nb_zero_inflation", q436, Some(q436Sql)),
    QueryDef("q442_permutation_entropy", q442, Some(q442Sql)),
    QueryDef("q445_repurchase_hazard", q445, Some(q445Sql)),
    QueryDef("q449_burstiness_memory", q449, Some(q449Sql)),
    QueryDef("q443_pacf_durbin_levinson", q443, Some(q443Sql)),
    QueryDef("q398_nelson_aalen", q398, Some(q398Sql)),
    QueryDef("q273_cohort_ltv", q273, Some(q273Sql)),
    QueryDef("q274_theil_sen_trend", q274, Some(q274Sql)),
    QueryDef("q276_shapley_attribution", q276, Some(q276Sql)),
    QueryDef("q280_holt_winters", q280, Some(q280Sql)),
    QueryDef("q283_logrank_test", q283, Some(q283Sql)),
    QueryDef("q284_seasonal_anomalies", q284, Some(q284Sql)),
    QueryDef("q287_haar_energy", q287, Some(q287Sql)),
    QueryDef("q295_littles_law", q295, Some(q295Sql)),
    QueryDef("q296_binary_segmentation", q296, Some(q296Sql)),
    QueryDef("q297_multiple_ols", q297, Some(q297Sql)),
    QueryDef("q304_partial_correlation", q304, Some(q304Sql)),
    QueryDef("q305_median_ci", q305, Some(q305Sql)),
    QueryDef("q306_von_neumann", q306, Some(q306Sql)),
    QueryDef("q307_runs_test", q307, Some(q307Sql)),
    QueryDef("q309_higher_moments", q309, Some(q309Sql)),
    QueryDef("q311_seasonal_envelope", q311, Some(q311Sql)),
    QueryDef("q70_sessionize", q70, Some(q70Sql), bench = true),
    QueryDef("q71_asof_join", q71, Some(q71Sql), bench = true),
    QueryDef("q73_range_join", q73, Some(q73Sql), bench = true),
    QueryDef("q104_funnel", q104, Some(q104Sql), bench = true),
    QueryDef("q105_cohort_retention", q105, Some(q105Sql)),
    QueryDef("q108_session_window", q108, Some(q108Sql)),
    QueryDef("q109_triangle_count", q109, Some(q109Sql)),
    QueryDef("q110_running_uniques", q110, Some(q110Sql)),
    QueryDef("q132_hourly_anomalies", q132, Some(q132Sql)),
    QueryDef("q158_asof_tolerance", q158, Some(q158Sql)),
    QueryDef("q206_asof_nearest", q206, Some(q206Sql)),
    QueryDef("q161_event_paths", q161, Some(q161Sql)),
    QueryDef("q163_iqr_outliers", q163, Some(q163Sql)),
    QueryDef("q172_grouped_ols", q172, Some(q172Sql)),
    QueryDef("q178_pearson_corr", q178, Some(q178Sql)),
  )

  /** q178 — per-type Pearson correlation between event value and hour
    * of day, on integer moments: value floors onto a cent grid per
    * row, hour-of-day is an int, so all five moment sums accumulate
    * exactly as longs. The final r = (kΣxy−ΣxΣy)/√((kΣxx−Σx²)(kΣyy−Σy²))
    * divides exact integers under one sqrt — and IEEE-754 sqrt is
    * CORRECTLY ROUNDED (unlike ln/exp), so the result is
    * bit-identical cross-engine. NOT corr(): Spark's builtin
    * accumulates doubles in partition order. */
  def q178(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Tables.events(s, d)
      .select($"event_type",
        hour($"ts").cast("long").as("x"),
        floor($"value" * 100).cast("long").as("y"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("k"),
        sum($"x").as("sx"), sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
    // Final moment products in DECIMAL(38,0): k·Σy² overflows a long
    // once groups pass ~10⁶ rows of cent-scale values; decimal keeps
    // the arithmetic exact (DuckDB's HUGEINT does the same on the
    // oracle side), and double-casting an exactly-represented integer
    // is correctly rounded in both engines.
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    m.select($"event_type", $"k",
        (d38($"k") * d38($"sxy") - d38($"sx") * d38($"sy")).as("cov_n"),
        (d38($"k") * d38($"sxx") - d38($"sx") * d38($"sx")).as("vx_n"),
        (d38($"k") * d38($"syy") - d38($"sy") * d38($"sy")).as("vy_n"))
      .filter($"vx_n" > 0 && $"vy_n" > 0)
      .select($"event_type", $"k",
        r6($"cov_n".cast("double") /
          sqrt($"vx_n".cast("double") * $"vy_n".cast("double"))).as("r"))
      .orderBy($"event_type")
  }

  lazy val q178Sql: String =
    s"""WITH m AS (
       |  SELECT event_type, count(*) AS k,
       |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
       |    sum(x * x) AS sxx, sum(y * y) AS syy
       |  FROM (SELECT event_type,
       |          CAST(hour(ts) AS BIGINT) AS x,
       |          CAST(floor(value * 100) AS BIGINT) AS y
       |        FROM events) t
       |  GROUP BY 1)
       |SELECT event_type, k,
       |  ${sqlR6("CAST(k * sxy - sx * sy AS DOUBLE) / sqrt(CAST(k * sxx - sx * sx AS DOUBLE) * CAST(k * syy - sy * sy AS DOUBLE))")} AS r
       |FROM m
       |WHERE k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
       |ORDER BY event_type""".stripMargin
}
