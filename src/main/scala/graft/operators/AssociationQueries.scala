package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Association / co-occurrence operators, round 7: interval-overlap
  * joins (via the grid-blocked [[IntervalJoin]] operator), weighted
  * percentiles over bounded domains, audience-overlap matrices built
  * WITHOUT a self-join, association lift (PMI minus the log wrapper —
  * rank-identical, per the q122 rational-idf precedent), and
  * model-based trend outliers on top of q172's exact-integer OLS.
  *
  * Determinism discipline (house rules): no libm transcendentals in
  * oracle-checked outputs; doubles appear only as (a) correctly-rounded
  * divisions of exactly-represented integers, or (b) fixed-shape
  * arithmetic over such values, mirrored operator-for-operator in the
  * DuckDB SQL; every query ends in a total ORDER BY.
  */
object AssociationQueries {
  import Fx._

  // ------------------------------------------------------------------
  // q197 — concurrent competing shipments (interval-overlap join)
  // ------------------------------------------------------------------

  /** q197 — for each part, how many pairs of line items from DIFFERENT
    * suppliers had overlapping shipping windows (window = shipdate ..
    * shipdate + 1 + quantity % 28 days — receipt date synthesized
    * deterministically; the driver schema carries no receipt column).
    * Top 20 parts by overlapping-pair count.
    *
    * Scale shape: [[IntervalJoin.selfOverlapOrdered]] grid-blocks the
    * set into 32-day cells (one scan, materialized base) and joins
    * covering cells against START cells, so the overlap join is a
    * hash-partitionable equi-join on (partkey, cell) whose probe side
    * carries ≤ 2× replication (windows are ≤ 29 days < grain) and
    * whose build side carries NONE — each unordered pair is matched
    * exactly once, `_a` the earlier line item by (s, ok, ln), with no
    * dedup pass (r20: −26% wall vs the symmetric selfOverlap form,
    * identical output). The oracle states the same semantics as a
    * plain inequality join; counting each pair once under start order
    * equals counting it once under (ok, ln) order — the grouping key
    * pk and the sup≠sup predicate are orientation-symmetric. */
  def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select(
      $"l_partkey".as("pk"),
      $"l_suppkey".as("sup"),
      $"l_orderkey".as("ok"),
      $"l_linenumber".as("ln"),
      epochDay($"l_shipdate").cast("long").as("s"),
      (epochDay($"l_shipdate") + lit(1) +
        ($"l_quantity".cast("int") % 28)).cast("long").as("e"))
    IntervalJoin.selfOverlapOrdered(li, "pk", "s", "e", grain = 32L,
        tiebreak = Seq("ok", "ln")) // (ok, ln) = lineitem primary key
      .filter($"sup_a" =!= $"sup_b")
      .groupBy($"pk_a")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"pk_a".as("partkey"), $"n_pairs")
      .orderBy($"n_pairs".desc, $"partkey")
      .limit(20)
  }

  val q197Sql: String =
    """WITH li AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sup, l_orderkey AS ok,
      |    l_linenumber AS ln,
      |    (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS s,
      |    (CAST(l_shipdate AS DATE) - DATE '1970-01-01') + 1
      |      + (CAST(l_quantity AS INT) % 28) AS e
      |  FROM lineitem)
      |SELECT a.pk AS partkey, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM li a JOIN li b ON a.pk = b.pk
      |  AND a.s <= b.e AND b.s <= a.e
      |  AND a.sup <> b.sup
      |  AND (a.ok < b.ok OR (a.ok = b.ok AND a.ln < b.ln))
      |GROUP BY 1 ORDER BY n_pairs DESC, partkey LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q199 — weighted median / p90 over a bounded domain
  // ------------------------------------------------------------------

  /** q199 — weighted percentiles of shipping delay per return flag,
    * weighted by quantity: the smallest delay whose cumulative weight
    * reaches 50% / 90% of the flag's total. Exact, all-integer
    * comparisons (2·cw ≥ tw, 10·cw ≥ 9·tw — no division at all).
    *
    * Scale shape: the raw rows collapse to (flag × delay-domain) cells
    * FIRST (bounded: 28 delays), so the cumulative window runs over
    * ≤ 28 post-aggregation rows per flag — never over row data. This
    * is the scalable form of weighted percentile whenever the value
    * domain is bounded (delays, ratings, bucketed sizes...). */
  def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.lineitem(s, d)
      .select($"l_returnflag".as("flag"),
        (lit(1) + ($"l_quantity".cast("int") % 28)).as("delay"),
        $"l_quantity".cast("long").as("w"))
      .groupBy($"flag", $"delay").agg(sum($"w").as("w"))
    val cum = Window.partitionBy($"flag").orderBy($"delay")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("tw", sum($"w").over(Window.partitionBy($"flag")))
      .withColumn("cw", sum($"w").over(cum))
      .groupBy($"flag")
      .agg(max($"tw").as("total_qty"),
        min(when($"cw" * 2 >= $"tw", $"delay")).as("wmedian_delay"),
        min(when($"cw" * 10 >= $"tw" * 9, $"delay")).as("wp90_delay"))
      .orderBy($"flag")
  }

  val q199Sql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS flag,
      |    1 + (CAST(l_quantity AS INT) % 28) AS delay,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, delay, w,
      |    sum(w) OVER (PARTITION BY flag) AS tw,
      |    sum(w) OVER (PARTITION BY flag ORDER BY delay
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM g)
      |SELECT flag, CAST(max(tw) AS BIGINT) AS total_qty,
      |  min(CASE WHEN cw * 2 >= tw THEN delay END) AS wmedian_delay,
      |  min(CASE WHEN cw * 10 >= tw * 9 THEN delay END) AS wp90_delay
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  // ------------------------------------------------------------------
  // q200 — audience-overlap matrix without a self-join
  // ------------------------------------------------------------------

  /** q200 — pairwise audience overlap between event types: |A∩B|,
    * Jaccard, and overlap coefficient for every unordered type pair.
    *
    * Scale shape — ONE scan, one shuffle: the textbook form self-joins
    * the (type, user) relation on user (two shuffles of the relation,
    * exploding on power users) and re-reads it for the per-type
    * denominators. Here each user's DISTINCT type set (bounded by the
    * type vocabulary, NOT by activity) is collected in one shuffle,
    * and a single explode emits both the user's type PAIRS and its
    * type SINGLETONS (s2 = null) into one count. The per-type totals
    * the denominators need are then recovered from that tiny
    * aggregated relation itself via windows — partition by s1 for
    * n_a, by coalesce(s2, s1) for n_b (a singleton (b, null) groups
    * with the pairs (·, b)) — so the events table is never touched
    * again. */
  def q200(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, d)
      .select($"event_type".as("src"), $"user_id").distinct()
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"src")).as("ss"))
      .select(explode(concat(
        filter(
          flatten(transform($"ss",
            a => transform($"ss", b => struct(a.as("s1"), b.as("s2"))))),
          p => p("s1") < p("s2")),
        transform($"ss",
          a => struct(a.as("s1"), lit(null).cast("string").as("s2"))))).as("p"))
      .select($"p.s1".as("s1"), $"p.s2".as("s2"))
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("n"))
    counts
      .withColumn("n_a",
        max(when($"s2".isNull, $"n")).over(Window.partitionBy($"s1")))
      .withColumn("n_b",
        max(when($"s2".isNull, $"n")).over(Window.partitionBy(coalesce($"s2", $"s1"))))
      .filter($"s2".isNotNull)
      .select($"s1", $"s2", $"n_a", $"n_b", $"n".as("n_both"),
        r6($"n".cast("double") / ($"n_a" + $"n_b" - $"n")).as("jaccard"),
        r6($"n".cast("double") / least($"n_a", $"n_b")).as("overlap_coef"))
      .orderBy($"s1", $"s2")
  }

  val q200Sql: String =
    s"""WITH du AS (SELECT DISTINCT event_type AS src, user_id FROM events),
       |sz AS (SELECT src, count(*) AS n FROM du GROUP BY 1),
       |p AS (
       |  SELECT a.src AS s1, b.src AS s2, count(*) AS n_both
       |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.src < b.src
       |  GROUP BY 1, 2)
       |SELECT s1, s2, CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  ${sqlR6("CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both)")} AS jaccard,
       |  ${sqlR6("CAST(n_both AS DOUBLE) / least(sa.n, sb.n)")} AS overlap_coef
       |FROM p JOIN sz sa ON sa.src = p.s1 JOIN sz sb ON sb.src = p.s2
       |ORDER BY s1, s2""".stripMargin

  // ------------------------------------------------------------------
  // q201 — association lift for adjacent-word bigrams
  // ------------------------------------------------------------------

  /** q201 — collocation mining: lift of adjacent word pairs,
    * lift(x,y) = p(xy) / (p(x)·p(y)) with p over corpus occurrence
    * counts — PMI without the log wrapper (log is monotone, so the
    * ranking is identical and no libm transcendental enters the
    * output; the q122 rational-idf precedent). Min support 10, top 20
    * by lift.
    *
    * Scale shape: one explode feeds the unigram count, one the bigram
    * count (both digest-narrow group-bys with map-side partials); the
    * component-frequency joins run hint-free — the vocabulary is
    * Zipf-bounded, so AQE broadcasts the unigram side on real text
    * (the q164 measurement). The integer product n_big·cx·cy stays
    * within int64 up to ~10^6-token-vocabulary corpora; both engines
    * convert it to double with the same correctly-rounded cast. */
  def q201(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Tables.documents(s, d).select(split($"text", " ").as("w"))
    // both vocab tables materialized: uni feeds THREE consumers (its
    // total + the x and y joins) and bg two — without it each consumer
    // re-runs the full corpus explode+aggregate
    val uni = w.select(explode($"w").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .transform(Fx.materialize)
    val uniTot = uni.agg(sum($"c").as("n_uni"))
    val bg = w.select(explode(when(size($"w") >= 2,
        transform(sequence(lit(1), size($"w") - 1),
          i => struct(element_at($"w", i).as("x"), element_at($"w", i + 1).as("y"))))
        .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("b"))
      .select($"b.x".as("x"), $"b.y".as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).as("cxy"))
      .transform(Fx.materialize)
    val bgTot = bg.agg(sum($"cxy").as("n_big"))
    bg.filter($"cxy" >= 10)
      .join(uni.select($"t".as("x"), $"c".as("cx")), Seq("x"))
      .join(uni.select($"t".as("y"), $"c".as("cy")), Seq("y"))
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(bgTot))
      // each factor casts to double BEFORE multiplying: a BIGINT
      // product n_big·cx·cy overflows int64 at trillion-token corpora
      // (and DuckDB would error where Spark wraps — a divergence)
      .withColumn("lift",
        ($"cxy".cast("double") * $"n_uni".cast("double") * $"n_uni".cast("double")) /
          ($"n_big".cast("double") * $"cx".cast("double") * $"cy".cast("double")))
      .orderBy($"lift".desc, $"x", $"y")
      .limit(20)
      .select($"x", $"y", $"cxy", $"cx", $"cy", r6($"lift").as("lift"))
  }

  val q201Sql: String =
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM w) u
       |        GROUP BY t),
       |ut AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
       |bg AS (SELECT x, y, count(*) AS cxy FROM (
       |    SELECT w[i] AS x, w[i+1] AS y
       |    FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w) t) b
       |  GROUP BY x, y),
       |bt AS (SELECT CAST(sum(cxy) AS BIGINT) AS n_big FROM bg),
       |sc AS (
       |  SELECT bg.x, bg.y, cxy, ux.c AS cx, uy.c AS cy,
       |    (CAST(cxy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) /
       |      (CAST(n_big AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)) AS lift
       |  FROM bg JOIN uni ux ON bg.x = ux.t JOIN uni uy ON bg.y = uy.t
       |       CROSS JOIN ut CROSS JOIN bt
       |  WHERE cxy >= 10)
       |SELECT x, y, CAST(cxy AS BIGINT) AS cxy, CAST(cx AS BIGINT) AS cx,
       |  CAST(cy AS BIGINT) AS cy, ${sqlR6("lift")} AS lift
       |FROM sc ORDER BY lift DESC, x, y LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q203 — OLS trend outliers (residual top-k per group)
  // ------------------------------------------------------------------

  /** q203 — the 3 hours that deviate most from each event type's
    * fitted hourly-volume trend: q172's closed-form OLS (exact integer
    * moment sums) extended to per-hour residuals, ranked by |residual|
    * through the native bounded-heap [[graft.plans.TopK]] — no
    * per-group window sort.
    *
    * Determinism: slope/intercept are fixed-shape double arithmetic
    * over exactly-represented integer moments (each op correctly
    * rounded → bit-identical cross-engine), so residuals — and
    * therefore the |residual| ranking — are bit-identical too. */
  def q203(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hours = Tables.events(s, d)
      .groupBy($"event_type",
        (unix_timestamp(date_trunc("hour", $"ts")) / 3600L).cast("long").as("eh"))
      .agg(count(lit(1)).as("y"))
    val minEh = hours.agg(min($"eh").as("min_eh"))
    val xy = hours.crossJoin(broadcast(minEh))
      .select($"event_type", ($"eh" - $"min_eh").as("x"), $"y")
    val ab = xy.groupBy($"event_type")
      .agg(count(lit(1)).as("k"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .filter($"k" * $"sxx" - $"sx" * $"sx" =!= 0)
      .select($"event_type", $"k", $"sx", $"sy",
        (($"k" * $"sxy" - $"sx" * $"sy").cast("double") /
          ($"k" * $"sxx" - $"sx" * $"sx").cast("double")).as("b"))
      .select($"event_type", $"b",
        (($"sy".cast("double") - $"b" * $"sx".cast("double")) /
          $"k".cast("double")).as("a"))
    val res = xy.join(broadcast(ab), Seq("event_type"))
      .withColumn("resid", $"y".cast("double") - ($"a" + $"b" * $"x".cast("double")))
      .withColumn("score", abs($"resid"))
    graft.plans.TopK.perGroup(res, 3, Seq("event_type"),
        Seq(graft.plans.TopK.desc("score"), graft.plans.TopK.asc("x")))
      .select($"event_type", $"x", $"y", r6($"resid").as("residual"))
      .orderBy($"event_type", $"x")
  }

  val q203Sql: String =
    s"""WITH hours AS (
       |  SELECT event_type,
       |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh,
       |    count(*) AS y
       |  FROM events GROUP BY 1, 2),
       |xy AS (SELECT event_type, eh - (SELECT min(eh) FROM hours) AS x, y
       |       FROM hours),
       |m AS (
       |  SELECT event_type, count(*) AS k,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM xy GROUP BY 1),
       |ab AS (
       |  SELECT event_type,
       |    CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE) AS b,
       |    (CAST(sy AS DOUBLE) -
       |      (CAST(k * sxy - sx * sy AS DOUBLE) / CAST(k * sxx - sx * sx AS DOUBLE))
       |        * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) AS a
       |  FROM m WHERE k * sxx - sx * sx <> 0),
       |r AS (
       |  SELECT xy.event_type, x, y,
       |    CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)) AS resid
       |  FROM xy JOIN ab ON xy.event_type = ab.event_type),
       |rk AS (
       |  SELECT event_type, x, y, resid,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY abs(resid) DESC, x) AS rn
       |  FROM r)
       |SELECT event_type, x, y, ${sqlR6("resid")} AS residual
       |FROM rk WHERE rn <= 3 ORDER BY event_type, x""".stripMargin

  // ------------------------------------------------------------------
  // q204 — market-basket co-purchase lift (brand pairs per order)
  // ------------------------------------------------------------------

  /** q204 — association mining over order baskets: lift of brand pairs
    * co-occurring in an order, lift(a,b) = p(ab)/(p(a)p(b)) over
    * order-level supports. Min support 5, top 20 by lift.
    *
    * Scale shape: the q200 discipline applied to baskets — brands are
    * a broadcast dimension join; each order's DISTINCT brand set is
    * bounded by the brand vocabulary, so pairs, singletons, AND a
    * per-basket sentinel ('' — sorts before every real brand and
    * cannot collide) explode from one pass into one count. Supports
    * and the basket total then come from windows over that tiny
    * aggregated relation (≤ brands² rows — the one unpartitioned
    * window in the query runs over THIS, never row data). No second
    * scan anywhere. */
  def q204(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lb = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("ok"), $"p_brand".as("b")).distinct()
    val counts = lb.groupBy($"ok")
      .agg(sort_array(collect_list($"b")).as("bs"))
      .select(explode(concat(
        filter(
          flatten(transform($"bs",
            a => transform($"bs", c => struct(a.as("b1"), c.as("b2"))))),
          p => p("b1") < p("b2")),
        transform($"bs",
          a => struct(a.as("b1"), lit(null).cast("string").as("b2"))),
        array(struct(lit("").as("b1"), lit(null).cast("string").as("b2"))))).as("p"))
      .select($"p.b1".as("b1"), $"p.b2".as("b2"))
      .groupBy($"b1", $"b2").agg(count(lit(1)).as("n"))
    counts
      .withColumn("n_orders",
        max(when($"b1" === "" && $"b2".isNull, $"n")).over(Window.partitionBy()))
      .withColumn("n_a",
        max(when($"b2".isNull, $"n")).over(Window.partitionBy($"b1")))
      .withColumn("n_b",
        max(when($"b2".isNull, $"n")).over(Window.partitionBy(coalesce($"b2", $"b1"))))
      .filter($"b2".isNotNull && $"n" >= 5)
      // factor-wise double casts (same overflow rationale as q201)
      .withColumn("lift",
        ($"n".cast("double") * $"n_orders".cast("double")) /
          ($"n_a".cast("double") * $"n_b".cast("double")))
      .orderBy($"lift".desc, $"b1", $"b2")
      .limit(20)
      .select($"b1", $"b2", $"n".as("n_both"), $"n_a", $"n_b",
        r6($"lift").as("lift"))
  }

  val q204Sql: String =
    s"""WITH lb AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |no AS (SELECT count(DISTINCT ok) AS n_orders FROM lb),
       |sz AS (SELECT b, count(*) AS n FROM lb GROUP BY 1),
       |p AS (
       |  SELECT a.b AS b1, c.b AS b2, count(*) AS n_both
       |  FROM lb a JOIN lb c ON a.ok = c.ok AND a.b < c.b
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT b1, b2, n_both, sa.n AS n_a, sb.n AS n_b,
       |    (CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
       |      (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift_raw
       |  FROM p JOIN sz sa ON sa.b = p.b1 JOIN sz sb ON sb.b = p.b2
       |       CROSS JOIN no
       |  WHERE n_both >= 5)
       |SELECT b1, b2, CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ${sqlR6("lift_raw")} AS lift
       |FROM sc ORDER BY lift_raw DESC, b1, b2 LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q205 — concurrent-session overlap matrix (IntervalJoin consumer)
  // ------------------------------------------------------------------

  /** q205 — cross-activity concurrency: for each pair of event types,
    * how many of a user's 30-minute sessions of one type overlap a
    * session of the other type, and the total concurrent µs. Sessions
    * come from Spark's native `session_window` per (user, type);
    * the overlap join is [[IntervalJoin.overlap]] keyed on user with a
    * 2^32-µs (~71.6 min) grain — an equi-join on (user, cell), never
    * a per-user nested loop. Overlap duration is exact integer
    * arithmetic: min(end) − max(start) on µs longs.
    *
    * (Closed-interval semantics: sessions that merely TOUCH — one's
    * watermark end equals the other's start — count as overlapping;
    * the oracle mirrors with `<=`.) */
  def q205(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19: ONE scan + ONE session_window aggregation (the previous
    // overlap(sessions("_a"), sessions("_b")) built the identical
    // session relation twice). r20: selfOverlapOrdered — each
    // unordered session pair is matched exactly once (`_a` = earlier
    // start, tiebreak t: two sessions of one user can share a start
    // only across types), so the per-(user, cell) probe work halves;
    // the original `t_a < t_b` orientation filter is restated
    // orientation-free as (least, greatest) type grouping over
    // type-differing pairs — the same pair set, counted once either
    // way, and n/overlap_us are symmetric in the pair.
    val sess = Tables.events(s, d)
      .groupBy($"user_id".as("u"), $"event_type".as("t"),
        session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select($"u", $"t",
        unix_micros($"sw.start").as("s"),
        unix_micros($"sw.end").as("e"))
    IntervalJoin.selfOverlapOrdered(sess, "u", "s", "e", grain = 1L << 32,
        tiebreak = Seq("t"))
      .filter($"t_a" =!= $"t_b")
      .groupBy(least($"t_a", $"t_b").as("t_a"),
        greatest($"t_a", $"t_b").as("t_b"))
      .agg(count(lit(1)).as("n_concurrent"),
        sum(least($"e_a", $"e_b") - greatest($"s_a", $"s_b")).as("overlap_us"))
      .orderBy($"t_a", $"t_b")
  }

  val q205Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT user_id, event_type, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)),
      |sn AS (
      |  SELECT user_id, event_type, us,
      |    sum(new_sess) OVER (PARTITION BY user_id, event_type ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM g),
      |sess AS (
      |  SELECT user_id, event_type, min(us) AS s, max(us) + 1800000000 AS e
      |  FROM sn GROUP BY user_id, event_type, sid)
      |SELECT a.event_type AS t_a, b.event_type AS t_b,
      |  CAST(count(*) AS BIGINT) AS n_concurrent,
      |  CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS overlap_us
      |FROM sess a JOIN sess b ON a.user_id = b.user_id
      |  AND a.event_type < b.event_type
      |  AND a.s <= b.e AND b.s <= a.e
      |GROUP BY 1, 2 ORDER BY t_a, t_b""".stripMargin

  // ------------------------------------------------------------------
  // q208 — inter-arrival (re-order latency) distribution
  // ------------------------------------------------------------------

  /** q208 — days between a customer's consecutive orders, summarized
    * per priority of the LATER order: nearest-rank p50/p90 (exact
    * integer rank selection — the q163/q199 discipline; gaps collapse
    * to (priority, gap-day) cells first, so the rank windows run over
    * the bounded value domain, never row data) plus max. One shuffle
    * on customer for the lag, one on the cells. */
  def q208(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey",
      $"o_orderpriority".as("priority"), $"o_orderkey",
      epochDay($"o_orderdate").as("day"))
    val w = Window.partitionBy($"o_custkey").orderBy($"day", $"o_orderkey")
    val gaps = o.withColumn("prev", lag($"day", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"priority", ($"day" - $"prev").cast("long").as("gap"))
    val cells = gaps.groupBy($"priority", $"gap").agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy($"priority").orderBy($"gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("tc", sum($"c").over(Window.partitionBy($"priority")))
      .withColumn("cc", sum($"c").over(cum))
      .groupBy($"priority")
      .agg(max($"tc").as("n_gaps"),
        min(when($"cc" * 2 >= $"tc", $"gap")).as("p50_gap"),
        min(when($"cc" * 10 >= $"tc" * 9, $"gap")).as("p90_gap"),
        max($"gap").as("max_gap"))
      .orderBy($"priority")
  }

  val q208Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderpriority AS priority, o_orderkey,
      |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day
      |  FROM orders),
      |g AS (
      |  SELECT priority,
      |    CAST(day - lag(day) OVER (PARTITION BY o_custkey
      |      ORDER BY day, o_orderkey) AS BIGINT) AS gap
      |  FROM o),
      |cells AS (
      |  SELECT priority, gap, count(*) AS c FROM g WHERE gap IS NOT NULL
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT priority, gap, c,
      |    sum(c) OVER (PARTITION BY priority) AS tc,
      |    sum(c) OVER (PARTITION BY priority ORDER BY gap
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |  FROM cells)
      |SELECT priority, CAST(max(tc) AS BIGINT) AS n_gaps,
      |  min(CASE WHEN cc * 2 >= tc THEN gap END) AS p50_gap,
      |  min(CASE WHEN cc * 10 >= tc * 9 THEN gap END) AS p90_gap,
      |  max(gap) AS max_gap
      |FROM cum GROUP BY priority ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  // q212 — SCD2 point-in-time dimension enrichment (as-of reuse)
  // ------------------------------------------------------------------

  /** q212 — slowly-changing-dimension (type 2) enrichment: every fact
    * row must pick up the dimension VERSION that was valid when the
    * fact happened — the canonical warehouse lookup (`dim.valid_from
    * <= fact.date < next valid_from`). Because version intervals per
    * key are non-overlapping and right-open, the lookup IS a backward
    * as-of join on `valid_from` — so this runs through [[AsOf]]'s
    * single-shuffle union+window plan: no range join, no per-order
    * `row_number` over exploded (fact × version) candidates, which is
    * what the oracle affordably does at oracle scale and what a naive
    * port would ship to a cluster.
    *
    * The SCD2 dimension is synthesized deterministically from the data
    * itself: per customer, version k = 0,1,2 becomes valid at
    * `first_order_day + 300·k` with tier `(custkey + k) % 4` —
    * per-key version boundaries are irregular across keys (they
    * follow each customer's own history), so the as-of match is
    * genuinely data-dependent. Output: per-tier order counts,
    * customer counts, money-grid revenue, and the average fact age
    * within its version (exact integer day sums, one final division).
    */
  def q212(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = Tables.orders(s, d).select($"o_orderkey", $"o_custkey",
      epochDay($"o_orderdate").as("d"), $"o_totalprice")
    val dim = f.groupBy($"o_custkey").agg(min($"d").as("d0"))
      .select($"o_custkey", explode(sequence(lit(0), lit(2))).as("k"), $"d0")
      .select($"o_custkey",
        (-($"o_custkey" * 3 + $"k")).as("o_orderkey"), // unique right-side id, disjoint from fact keys
        ($"d0" + $"k" * 300).as("d"),
        (($"o_custkey" + $"k") % 4).as("tier"),
        ($"d0" + $"k" * 300).as("vf"))
    AsOf.asofJoin(f, dim, key = "o_custkey", ts = "d",
      idCol = "o_orderkey", valueCols = Seq("tier", "vf"))
      .groupBy($"asof_tier".as("tier"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_custs"),
        moneySum($"o_totalprice").as("revenue"),
        r4(sum($"d" - $"asof_vf") / count(lit(1))).as("avg_age_days"))
      .orderBy($"tier")
  }

  val q212Sql: String =
    s"""WITH f AS (
       |  SELECT o_orderkey, o_custkey,
       |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d, o_totalprice
       |  FROM orders),
       |d0 AS (SELECT o_custkey, min(d) AS d0 FROM f GROUP BY 1),
       |dim AS (
       |  SELECT d0.o_custkey, d0.d0 + ks.k * 300 AS vf,
       |    (d0.o_custkey + ks.k) % 4 AS tier
       |  FROM d0 CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) ks),
       |m AS (
       |  SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, f.d, dim.vf, dim.tier,
       |    row_number() OVER (PARTITION BY f.o_orderkey ORDER BY dim.vf DESC) AS rn
       |  FROM f JOIN dim ON f.o_custkey = dim.o_custkey AND dim.vf <= f.d)
       |SELECT tier, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
       |  ${sqlMoneySum("o_totalprice")} AS revenue,
       |  ${sqlR4("CAST(sum(d - vf) AS BIGINT) / count(*)")} AS avg_age_days
       |FROM m WHERE rn = 1
       |GROUP BY tier ORDER BY tier""".stripMargin

  // ------------------------------------------------------------------
  // q223 — frequent 3-itemsets with Apriori candidate pruning
  // ------------------------------------------------------------------

  /** q223 — frequent brand triples across order baskets, mined the
    * Apriori way: frequent pairs L2 first (support ≥ 0.5% of baskets),
    * then candidate triples C3 generated ONLY from L2 (join L2 with
    * itself on a shared first item, keep (b,c) also in L2 — the
    * anti-monotone closure: every sub-pair of a frequent triple must
    * itself be frequent), and only C3 members are counted against the
    * baskets (support ≥ 0.1%). The declared semantics — stated
    * identically by the oracle — is therefore "triples with support ≥
    * t₃ all of whose sub-pairs have support ≥ t₂".
    *
    * Scale shape: the per-basket self-joins fan out by basket SIZE
    * (bounded by the item domain, not the corpus), so pair/triple
    * generation is linear in baskets × O(size²·size); the pruning
    * step is the point at 100 TB — C3 is a metadata-scale relation
    * (≤|L2|² candidates, here dozens) broadcast into the triple
    * stream, so the big shuffle carries ONLY candidate triples, never
    * the full cube of the item domain. Thresholds are fractions of
    * the basket count, so the query is scale-invariant. */
  def q223(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("o"), $"p_brand".as("it"))
      .distinct()
      .transform(graft.Fx.materialize) // pair gen, triple gen, and the count share it
    val nBaskets = baskets.select($"o").distinct().count()
    val minPair = nBaskets / 200L
    val minTri = nBaskets / 1000L
    val l2 = baskets.as("x")
      .join(baskets.as("y"), $"x.o" === $"y.o" && $"x.it" < $"y.it")
      .groupBy($"x.it".as("a"), $"y.it".as("b"))
      .agg(count(lit(1)).as("sup"))
      .filter($"sup" >= minPair)
      .select($"a", $"b")
      .transform(graft.Fx.materialize) // three consumers: two C3 sides + the closure
    val c3 = l2.as("p")
      .join(l2.as("q"), $"p.a" === $"q.a" && $"p.b" < $"q.b")
      .select($"p.a".as("ca"), $"p.b".as("cb"), $"q.b".as("cc"))
      .join(l2.as("z"), $"cb" === $"z.a" && $"cc" === $"z.b", "left_semi")
    val triples = baskets.as("x")
      .join(baskets.as("y"), $"x.o" === $"y.o" && $"x.it" < $"y.it")
      .join(baskets.as("z"), $"y.o" === $"z.o" && $"y.it" < $"z.it")
      .select($"x.it".as("ta"), $"y.it".as("tb"), $"z.it".as("tc"))
      .join(broadcast(c3),
        $"ta" === $"ca" && $"tb" === $"cb" && $"tc" === $"cc", "left_semi")
    triples.groupBy($"ta".as("item_a"), $"tb".as("item_b"),
        $"tc".as("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= minTri)
      .orderBy($"support".desc, $"item_a", $"item_b", $"item_c")
  }

  val q223Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS o, p_brand AS it
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |no AS (SELECT count(DISTINCT o) AS n FROM b),
      |l2 AS (
      |  SELECT x.it AS a, y.it AS bb
      |  FROM b x JOIN b y ON x.o = y.o AND x.it < y.it
      |  GROUP BY 1, 2 HAVING count(*) >= (SELECT n FROM no) // 200),
      |c3 AS (
      |  SELECT p.a AS ca, p.bb AS cb, q.bb AS cc
      |  FROM l2 p JOIN l2 q ON p.a = q.a AND p.bb < q.bb
      |  WHERE EXISTS (SELECT 1 FROM l2 z WHERE z.a = p.bb AND z.bb = q.bb)),
      |t AS (
      |  SELECT x.it AS item_a, y.it AS item_b, z.it AS item_c,
      |    count(*) AS support
      |  FROM b x
      |  JOIN b y ON x.o = y.o AND x.it < y.it
      |  JOIN b z ON y.o = z.o AND y.it < z.it
      |  JOIN c3 ON c3.ca = x.it AND c3.cb = y.it AND c3.cc = z.it
      |  GROUP BY 1, 2, 3)
      |SELECT item_a, item_b, item_c, CAST(support AS BIGINT) AS support
      |FROM t WHERE support >= (SELECT n FROM no) // 1000
      |ORDER BY support DESC, item_a, item_b, item_c""".stripMargin

  // ------------------------------------------------------------------
  // q226 — first-order Markov transition matrix of event types
  // ------------------------------------------------------------------

  /** q226 — per-user event streams reduced to the first-order Markov
    * transition matrix: count of each (from_type → to_type) step over
    * every user's (ts, event_id)-ordered timeline, plus the
    * row-normalized transition probability — the behavioral model
    * behind next-event prediction, anomaly scoring (improbable
    * transitions), and session simulation.
    *
    * Scale shape: one shuffle on user_id for the lag window (each
    * partition bounded by its users' own activity), then the pair
    * aggregation lands on the |types|² ≤ dozens-row transition domain
    * — the normalizing row totals are a window over that metadata-
    * scale relation, never a second pass over events. Determinism:
    * counts are exact longs; the single division per output row is
    * correctly-rounded IEEE on identical operands ([[Fx.r6]]). */
  def q226(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUserTime = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val pairs = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(byUserTime))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("row_total",
        sum($"n").over(Window.partitionBy($"from_type")).cast("long"))
      .select($"from_type", $"to_type", $"n", $"row_total",
        r6($"n" / $"row_total").as("p"))
      .orderBy($"from_type", $"to_type")
  }

  val q226Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type FROM events),
       |steps AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS from_type,
       |    event_type AS to_type
       |  FROM e),
       |pairs AS (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
       |  ${sqlR6("n / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)")} AS p
       |FROM pairs
       |ORDER BY from_type, to_type""".stripMargin

  /** q415 — entropy rate of the q226 behavior chain: per from-state
    * the conditional Shannon entropy H_i = −Σ_j p_ij·ln p_ij (nats)
    * and the chain's entropy rate H = Σ_i π_i·H_i with the EMPIRICAL
    * source frequencies π_i = n_i/N (stated — the observed-step
    * weighting, not the eigenvector) — "how predictable is the next
    * action?" as ONE number, the information-theoretic summary q226's
    * probability matrix spreads over |types|² rows (H_i = 0: state i
    * always leads the same place; ln|types|: anything can follow).
    * Determinism: every p_ij = n_ij/n_i is one IEEE division of exact
    * longs and each ln runs on that bit-identical double; only the
    * ≤|types|-term entropy sums are engine-ordered, 1e-15 noise under
    * r6 (the q226 convention).
    *
    * Scale shape: one user-keyed shuffle for the lag window, counts
    * land on the |types|² grid; entropies are aggregates over that
    * metadata-scale relation. */
  def q415(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUserTime = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val pairs = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(byUserTime))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Fx.materialize)
    val st = pairs
      .withColumn("ni", sum($"n").over(Window.partitionBy($"from_type"))
        .cast("long"))
      .groupBy($"from_type", $"ni")
      .agg(sum(-($"n" / $"ni") * log($"n" / $"ni")).as("h"))
    val tot = pairs.agg(sum($"n").cast("long").as("nn"))
    val withPi = st.crossJoin(broadcast(tot))
      .withColumn("pi", $"ni" / $"nn")
    val rate = withPi.agg(sum($"pi" * $"h").as("rate"))
    withPi.crossJoin(broadcast(rate))
      .select($"from_type", $"ni".as("n_from"), r6($"pi").as("pi"),
        r6($"h").as("h_nats"), r6($"rate").as("rate_nats"))
      .orderBy($"from_type")
  }

  val q415Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type FROM events),
       |steps AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY us, event_id) AS from_type,
       |    event_type AS to_type
       |  FROM e),
       |pairs AS MATERIALIZED (
       |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
       |  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |wt AS (
       |  SELECT from_type, to_type, n,
       |    CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS ni
       |  FROM pairs),
       |st AS (
       |  SELECT from_type, ni, sum(-(n / ni) * ln(n / ni)) AS h
       |  FROM wt GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pairs),
       |wp AS (SELECT from_type, ni, h, ni / nn AS pi FROM st CROSS JOIN tot),
       |rt AS (SELECT sum(pi * h) AS rate FROM wp)
       |SELECT from_type, ni AS n_from, ${sqlR6("pi")} AS pi,
       |  ${sqlR6("h")} AS h_nats, ${sqlR6("rate")} AS rate_nats
       |FROM wp CROSS JOIN rt ORDER BY from_type""".stripMargin

  // ------------------------------------------------------------------
  // q236 — top user-journey paths (event-type trigrams)
  // ------------------------------------------------------------------

  /** q236 — the "user journey" report: the most common 3-step
    * event-type paths over every user's (ts, event_id)-ordered
    * timeline, with each path's share of all 3-step windows — q226's
    * first-order transitions extended to order 2, which is where
    * journey analysis starts distinguishing "view→click→purchase"
    * conversion paths from "view→click→view" browsing loops.
    *
    * Scale shape: identical to q226 — one user-keyed shuffle for the
    * two lag windows, then the count lands on the ≤|types|³ path
    * domain; the share denominator is a window over that bounded
    * relation. Top-k selection (k=15) happens on the already-tiny
    * path relation. */
  def q236(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val paths = Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"event_type")
      .withColumn("p1", lag($"event_type", 2).over(w))
      .withColumn("p2", lag($"event_type", 1).over(w))
      .filter($"p1".isNotNull)
      .groupBy($"p1".as("step1"), $"p2".as("step2"), $"event_type".as("step3"))
      .agg(count(lit(1)).as("n"))
    paths
      .withColumn("total", sum($"n").over(Window.partitionBy(lit(1))).cast("long"))
      .orderBy($"n".desc, $"step1", $"step2", $"step3")
      .limit(15)
      .select($"step1", $"step2", $"step3", $"n", r6($"n" / $"total").as("share"))
      .orderBy($"n".desc, $"step1", $"step2", $"step3")
  }

  val q236Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type FROM events),
       |steps AS (
       |  SELECT lag(event_type, 2) OVER w AS p1,
       |    lag(event_type, 1) OVER w AS p2, event_type AS p3
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |paths AS (
       |  SELECT p1 AS step1, p2 AS step2, p3 AS step3,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM steps WHERE p1 IS NOT NULL GROUP BY 1, 2, 3),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM paths),
       |top AS (
       |  SELECT step1, step2, step3, n FROM paths
       |  ORDER BY n DESC, step1, step2, step3 LIMIT 15)
       |SELECT step1, step2, step3, n, ${sqlR6("n / total")} AS share
       |FROM top CROSS JOIN t
       |ORDER BY n DESC, step1, step2, step3""".stripMargin

  // ------------------------------------------------------------------
  // q243 — A/B exposure readout (deterministic assignment, exact lift)
  // ------------------------------------------------------------------

  /** q243 — the experiment readout: users assign to control/treatment
    * by a salted md5 hash (the industry assignment rule — stable
    * across sessions, no coordination, mirrored bit-for-bit in the
    * oracle), conversion = the user has a purchase event, and the
    * report is per-arm exposure, conversions, conversion rate, and
    * the treatment−control lift in rate. Everything up to the final
    * divisions is exact integers; the lift subtraction runs on the
    * two r6-fixed rates so both engines subtract identical doubles.
    * (Significance testing needs only these four integers — n and
    * conversions per arm — which is exactly what the query emits.)
    *
    * Scale shape: one distinct-collapse of events to users (bounded
    * by the user universe), assignment as a scan-time expression, a
    * 2-row rollup, and a 1×1 self-join of that 2-row relation for
    * the lift column. */
  def q243(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("long")).as("converted"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val arms = users.groupBy($"arm")
      .agg(count(lit(1)).as("n_users"),
        sum($"converted").cast("long").as("n_converted"))
      .withColumn("rate", r6($"n_converted" / $"n_users"))
    // ctl rate via a window over the 2-row arm relation: an EMPTY
    // control arm degrades to NULL lift, never to an annihilated
    // readout (a cross join against the empty control row would
    // silently drop the treatment row too)
    arms
      .withColumn("ctl_rate", max(when($"arm" === "control", $"rate"))
        .over(Window.partitionBy(lit(1))))
      .select($"arm", $"n_users", $"n_converted", $"rate",
        r6($"rate" - $"ctl_rate").as("lift_vs_control"))
      .orderBy($"arm")
  }

  val q243Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
       |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id),
       |a AS (
       |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
       |    CAST(sum(converted) AS BIGINT) AS n_converted,
       |    ${sqlR6("CAST(sum(converted) AS BIGINT) / count(*)")} AS rate
       |  FROM u GROUP BY arm),
       |w AS (
       |  SELECT arm, n_users, n_converted, rate,
       |    max(CASE WHEN arm = 'control' THEN rate END) OVER () AS ctl_rate
       |  FROM a)
       |SELECT arm, n_users, n_converted, rate,
       |  ${sqlR6("rate - ctl_rate")} AS lift_vs_control
       |FROM w ORDER BY arm""".stripMargin

  // ------------------------------------------------------------------
  // q366 — mediation decomposition (views → clicks → revenue)
  // ------------------------------------------------------------------

  /** q366 — Baron–Kenny mediation decomposition: how much of the
    * view→revenue relationship flows THROUGH clicks? Per user,
    * x = views, m = clicks (the mediator), y = purchase cents; the
    * three OLS primitives a = S_xm/S_xx (x→m), b and the direct
    * effect from the two-predictor fit y ~ x + m (normal-equation
    * determinants, q297's machinery), c = S_xy/S_xx (total), and the
    * readout is the decomposition c = direct + a·b with
    * proportion-mediated a·b/c — the CAUSAL-PATH split that q304
    * (symmetric partialling) and q297 (coefficients alone) don't
    * report. Exact: all five n-scaled moment forms are DECIMAL(38,0)
    * integers; each base coefficient is ONE truncating micro division;
    * indirect and proportion-mediated compose the truncated micro
    * coefficients (stated second-level truncation, bounded |a|+|b|
    * micro) because the raw determinant product breaches 38 digits
    * near sf1; degenerate designs (zero x-variance, collinear x/m,
    * zero total effect) degrade the affected columns to NULL.
    *
    * Scale shape: one groupBy(user) with map-side combine → one 1-row
    * moment rollup; everything after is scalar arithmetic. */
  def q366(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(sum(($"event_type" === "view").cast("long")).as("x"),
        sum(($"event_type" === "click").cast("long")).as("m"),
        sum(when($"event_type" === "purchase",
          floor($"value" * 100).cast("long")).otherwise(lit(0L))).as("y"))
    per.agg(count(lit(1)).as("u"),
        sum($"x").as("sx"), sum($"m").as("sm"), sum($"y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * m")).as("sxm"),
        sum(expr("cast(m as decimal(38,0)) * m")).as("smm"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(m as decimal(38,0)) * y")).as("smy"))
      .select($"u",
        expr("u * sxx - cast(sx as decimal(38,0)) * sx").as("cxx"),
        expr("u * sxm - cast(sx as decimal(38,0)) * sm").as("cxm"),
        expr("u * smm - cast(sm as decimal(38,0)) * sm").as("cmm"),
        expr("u * sxy - cast(sx as decimal(38,0)) * sy").as("cxy"),
        expr("u * smy - cast(sm as decimal(38,0)) * sy").as("cmy"))
      .select($"u", $"cxx", $"cxy",
        expr("cmy * cxx - cxy * cxm").as("bnum"),
        expr("cxy * cmm - cmy * cxm").as("dnum"),
        expr("cmm * cxx - cxm * cxm").as("bden"),
        $"cxm")
      .select($"u".as("n_users"),
        when($"cxx" > 0, expr("(cxm * 1000000) div cxx")).as("a_micro"),
        when($"bden" > 0, expr("(bnum * 1000000) div bden")).as("b_micro"),
        when($"cxx" > 0, expr("(cxy * 1000000) div cxx")).as("c_micro"),
        when($"bden" > 0, expr("(dnum * 1000000) div bden")).as("direct_micro"))
      // indirect and proportion compose the already-truncated micro
      // coefficients (stated): a second-level truncation bounded by
      // |a|+|b| micro, in exchange for staying inside DECIMAL(38,0)
      // at ANY scale (the raw cxm·bnum product breaches 38 digits
      // around sf1)
      .withColumn("indirect_micro", expr(
        "(cast(a_micro as decimal(38,0)) * b_micro) div 1000000"))
      .withColumn("prop_mediated_micro",
        when($"c_micro" =!= 0L, expr(
          "(cast(indirect_micro as decimal(38,0)) * 1000000) div c_micro")))
  }

  val q366Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS m,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS u,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(m) AS HUGEINT) AS sm,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * m) AS sxm,
      |    sum(CAST(m AS HUGEINT) * m) AS smm, sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(m AS HUGEINT) * y) AS smy
      |  FROM per),
      |cs AS (
      |  SELECT u, u * sxx - sx * sx AS cxx, u * sxm - sx * sm AS cxm,
      |    u * smm - sm * sm AS cmm, u * sxy - sx * sy AS cxy,
      |    u * smy - sm * sy AS cmy
      |  FROM mo),
      |dt AS (
      |  SELECT u, cxx, cxy, cxm,
      |    cmy * cxx - cxy * cxm AS bnum,
      |    cxy * cmm - cmy * cxm AS dnum,
      |    cmm * cxx - cxm * cxm AS bden
      |  FROM cs),
      |co AS (
      |  SELECT CAST(u AS BIGINT) AS n_users,
      |    CASE WHEN cxx > 0 THEN CAST((cxm * 1000000) // cxx AS BIGINT) END AS a_micro,
      |    CASE WHEN bden > 0 THEN CAST((bnum * 1000000) // bden AS BIGINT) END AS b_micro,
      |    CASE WHEN cxx > 0 THEN CAST((cxy * 1000000) // cxx AS BIGINT) END AS c_micro,
      |    CASE WHEN bden > 0 THEN CAST((dnum * 1000000) // bden AS BIGINT) END AS direct_micro
      |  FROM dt)
      |SELECT co.*,
      |  CAST((CAST(a_micro AS HUGEINT) * b_micro) // 1000000 AS BIGINT)
      |    AS indirect_micro,
      |  CASE WHEN c_micro <> 0 THEN
      |    CAST((CAST((CAST(a_micro AS HUGEINT) * b_micro) // 1000000 AS HUGEINT)
      |      * 1000000) // c_micro AS BIGINT) END AS prop_mediated_micro
      |FROM co""".stripMargin

  // ------------------------------------------------------------------
  // q392 — gains / lift table for engagement-ranked targeting
  // ------------------------------------------------------------------

  /** q392 — the CRM gains table: rank users by total event count (the
    * stated engagement "model"), cut into deciles, and report per
    * decile the purchasers captured, the cumulative capture share,
    * and the cumulative lift over random targeting — the chart that
    * decides WHERE to stop spending, which calibration (q318) and
    * quality scores (q156) don't answer by themselves. Exact: the
    * ranking is a total order (events desc, user_id) assigned by the
    * scale-safe two-phase seqIds (never a global row_number window);
    * decile = ((rank−1)·10) div N + 1; capture and lift are
    * truncating micro divisions of exact cumulative integers (the
    * cumulative window runs over the COLLAPSED 10-row decile
    * relation).
    *
    * Scale shape: one groupBy(user); two-phase global ids; a 10-row
    * rollup and windows over it. */
  def q392(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("ev"),
        max(($"event_type" === "purchase").cast("long")).as("buyer"))
    val ranked = Ranking.seqIds(per, 8, $"ev".desc, $"user_id")
      .transform(graft.Fx.materialize) // count probe + decile rollup
    val n = ranked.agg(count(lit(1)).as("n"))
    val dec = ranked.crossJoin(broadcast(n))
      .select(expr("((seq_id - 1) * 10) div n + 1").as("decile"),
        $"buyer")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"buyer").as("n_buyers"))
    val w = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    dec
      .withColumn("cum_users", sum($"n_users").over(w))
      .withColumn("cum_buyers", sum($"n_buyers").over(w))
      .withColumn("tot_buyers", sum($"n_buyers").over(wAll))
      .withColumn("tot_users", sum($"n_users").over(wAll))
      .select($"decile", $"n_users", $"n_buyers",
        when($"tot_buyers" > 0,
          expr("(cum_buyers * 1000000) div tot_buyers")).as("capture_micro"),
        when($"tot_buyers" > 0 && $"cum_users" > 0, expr(
          """(cast(cum_buyers as decimal(38,0)) * tot_users * 1000000)
             div (cast(tot_buyers as decimal(38,0)) * cum_users)"""))
          .as("lift_micro"))
      .orderBy($"decile")
  }

  val q392Sql: String =
    """WITH per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS ev,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buyer
      |  FROM events GROUP BY user_id),
      |ranked AS (
      |  SELECT buyer,
      |    row_number() OVER (ORDER BY ev DESC, user_id) AS seq_id,
      |    count(*) OVER () AS n
      |  FROM per),
      |dec AS (
      |  SELECT ((seq_id - 1) * 10) // n + 1 AS decile,
      |    CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(buyer) AS BIGINT) AS n_buyers
      |  FROM ranked GROUP BY 1),
      |cum AS (
      |  SELECT decile, n_users, n_buyers,
      |    sum(n_users) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users,
      |    sum(n_buyers) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_buyers,
      |    sum(n_buyers) OVER () AS tot_buyers,
      |    sum(n_users) OVER () AS tot_users
      |  FROM dec)
      |SELECT decile, n_users, n_buyers,
      |  CASE WHEN tot_buyers > 0 THEN
      |    CAST((cum_buyers * 1000000) // tot_buyers AS BIGINT)
      |  END AS capture_micro,
      |  CASE WHEN tot_buyers > 0 AND cum_users > 0 THEN
      |    CAST((CAST(cum_buyers AS HUGEINT) * tot_users * 1000000)
      |      // (CAST(tot_buyers AS HUGEINT) * cum_users) AS BIGINT)
      |  END AS lift_micro
      |FROM cum ORDER BY decile""".stripMargin

  // ------------------------------------------------------------------
  // q371 — sharp regression discontinuity at zero account balance
  // ------------------------------------------------------------------

  /** q371 — sharp regression-discontinuity readout: does crossing the
    * zero-account-balance threshold shift order volume? Running
    * variable x = acctbal cents, outcome y = the customer's order
    * count, cutoff 0, bandwidth ±100,000 cents (stated): fit
    * y = α + βx by OLS separately LEFT ([−h, 0)) and RIGHT ([0, h])
    * of the cutoff and report the intercept gap α_R − α_L — the
    * effect AT the threshold. Completes the causal toolbox: q281
    * differences over time, q288 matches on covariates, q369
    * instruments non-compliance; RD exploits a known assignment
    * threshold. Exact: x and y are integers, each side's
    * α = (Σy·Σx² − Σx·Σxy)/(n·Σx² − (Σx)²) and β ride DECIMAL(38,0)
    * determinant forms with ONE truncating micro division each, and
    * the gap is an integer subtraction of the two stated truncations.
    * A side with zero x-variance degrades to NULL (and so does the
    * gap).
    *
    * Scale shape: one bandwidth-filtered scan (predicate pushed to
    * parquet) joined to a pre-aggregated per-customer order count,
    * collapsed to TWO moment rows; scalar arithmetic after. */
  def q371(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = 100000L
    val perCust = Tables.orders(s, d)
      .groupBy($"o_custkey").agg(count(lit(1)).as("y"))
    val pts = Tables.customer(s, d)
      .select($"c_custkey",
        floor($"c_acctbal" * 100 + lit(0.5)).cast("long").as("x"))
      .filter($"x" >= -h && $"x" <= h)
      .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"x", coalesce($"y", lit(0L)).as("y"),
        ($"x" >= 0L).cast("int").as("side"))
    val m = pts.groupBy($"side").agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .select($"side", $"n",
        expr("n * sxx - cast(sx as decimal(38,0)) * sx").as("vx"),
        expr("""cast(sy as decimal(38,0)) * sxx
             - cast(sx as decimal(38,0)) * sxy""").as("anum"),
        expr("n * sxy - cast(sx as decimal(38,0)) * sy").as("bnum"))
      .select($"side", $"n",
        when($"vx" > 0, expr("(anum * 1000000) div vx")).as("alpha_micro"),
        when($"vx" > 0, expr("(bnum * 1000000) div vx")).as("beta_micro"))
    val w = Window.partitionBy(lit(1))
    m.withColumn("al", max(when($"side" === 0, $"alpha_micro")).over(w))
      .withColumn("ar", max(when($"side" === 1, $"alpha_micro")).over(w))
      .select($"side", $"n", $"alpha_micro", $"beta_micro",
        ($"ar" - $"al").as("rd_gap_micro"))
      .orderBy($"side")
  }

  val q371Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY o_custkey),
      |pts AS (
      |  SELECT CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
      |    COALESCE(pc.y, 0) AS y,
      |    CAST(floor(c.c_acctbal * 100 + 0.5) >= 0 AS INT) AS side
      |  FROM customer c LEFT JOIN pc ON c.c_custkey = pc.o_custkey
      |  WHERE floor(c.c_acctbal * 100 + 0.5) BETWEEN -100000 AND 100000),
      |m AS (
      |  SELECT side, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM pts GROUP BY side),
      |c2 AS (
      |  SELECT side, n, n * sxx - sx * sx AS vx,
      |    sy * sxx - sx * sxy AS anum, n * sxy - sx * sy AS bnum
      |  FROM m),
      |co AS (
      |  SELECT side, CAST(n AS BIGINT) AS n,
      |    CASE WHEN vx > 0
      |      THEN CAST((anum * 1000000) // vx AS BIGINT) END AS alpha_micro,
      |    CASE WHEN vx > 0
      |      THEN CAST((bnum * 1000000) // vx AS BIGINT) END AS beta_micro
      |  FROM c2),
      |wd AS (
      |  SELECT *,
      |    max(CASE WHEN side = 0 THEN alpha_micro END) OVER () AS al,
      |    max(CASE WHEN side = 1 THEN alpha_micro END) OVER () AS ar
      |  FROM co)
      |SELECT side, n, alpha_micro, beta_micro, ar - al AS rd_gap_micro
      |FROM wd ORDER BY side""".stripMargin

  // ------------------------------------------------------------------
  // q369 — instrumental-variable (Wald/LATE) encouragement readout
  // ------------------------------------------------------------------

  /** q369 — the Wald instrumental-variable estimator for an
    * encouragement design: q243's assignment is the INSTRUMENT z,
    * "user clicked at least once" is the treatment actually TAKEN m,
    * purchase cents is the outcome y, and LATE = (ȳ₁−ȳ₀)/(m̄₁−m̄₀)
    * rescales the intention-to-treat effect by the compliance
    * differential — the standard answer when exposure is voluntary
    * (q243 prices ASSIGNMENT, q366 decomposes correlational paths;
    * only IV prices the effect OF TAKING under non-compliance). With
    * N_a, M_a, Y_a per arm: LATE = (Y₁N₀ − Y₀N₁)/(M₁N₀ − M₀N₁) —
    * one exact cross-multiplied truncating micro division, no mean
    * ever floated. The first-stage F = (N−2)·D²/(N·E) with
    * D = M₁N₀ − M₀N₁ and E = M₁(N₁−M₁)N₀ + M₀(N₀−M₀)N₁ is the same
    * exact-rational shape, and the weak-instrument flag applies the
    * Staiger–Stock F < 10 rule as an integer cross-comparison.
    * Degenerate compliance (D = 0) degrades LATE to NULL.
    *
    * Scale shape: one groupBy(user), one 2-row arm rollup pivoted
    * through a conditional 1-row aggregate; scalar arithmetic after. */
  def q369(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "click").cast("long")).as("m"),
        sum(when($"event_type" === "purchase",
          floor($"value" * 100).cast("long")).otherwise(lit(0L))).as("y"))
      .withColumn("z",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit(0L)).otherwise(lit(1L)))
    per.agg(
        sum(when($"z" === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when($"z" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"z" === 0L, $"m").otherwise(0L)).as("m0"),
        sum(when($"z" === 1L, $"m").otherwise(0L)).as("m1"),
        sum(when($"z" === 0L, $"y").otherwise(0L)).as("y0"),
        sum(when($"z" === 1L, $"y").otherwise(0L)).as("y1"))
      .filter($"n0" > 0L && $"n1" > 0L)
      .select($"n0", $"n1", $"m0", $"m1",
        expr("cast(m1 as decimal(38,0)) * n0 - cast(m0 as decimal(38,0)) * n1").as("dd"),
        expr("cast(y1 as decimal(38,0)) * n0 - cast(y0 as decimal(38,0)) * n1").as("dy"),
        expr("""cast(m1 as decimal(38,0)) * (n1 - m1) * n0
             + cast(m0 as decimal(38,0)) * (n0 - m0) * n1""").as("ee"))
      .select($"n0".as("n_control"), $"n1".as("n_treatment"),
        $"m0".as("takers_control"), $"m1".as("takers_treatment"),
        expr("(dy * 1000000) div (cast(n1 as decimal(38,0)) * n0)").as("itt_micro"),
        expr("(dd * 1000000) div (cast(n1 as decimal(38,0)) * n0)")
          .as("first_stage_micro"),
        when($"ee" > 0, expr(
          """((n0 + n1 - 2) * dd * dd * 1000000)
             div ((n0 + n1) * ee)""")).as("f_micro"),
        when($"ee" > 0, expr(
          """cast((n0 + n1 - 2) * dd * dd < 10 * (n0 + n1) * ee as int)"""))
          .as("weak_instrument"),
        when($"dd" =!= 0, expr("(dy * 1000000) div dd")).as("late_micro"))
  }

  val q369Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
      |         THEN 0 ELSE 1 END AS z
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
      |    CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
      |    CAST(sum(CASE WHEN z = 0 THEN m ELSE 0 END) AS HUGEINT) AS m0,
      |    CAST(sum(CASE WHEN z = 1 THEN m ELSE 0 END) AS HUGEINT) AS m1,
      |    CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS HUGEINT) AS y0,
      |    CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS HUGEINT) AS y1
      |  FROM per
      |  HAVING sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) > 0),
      |b AS (
      |  SELECT n0, n1, m0, m1,
      |    m1 * n0 - m0 * n1 AS dd, y1 * n0 - y0 * n1 AS dy,
      |    m1 * (n1 - m1) * n0 + m0 * (n0 - m0) * n1 AS ee
      |  FROM a)
      |SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treatment,
      |  CAST(m0 AS BIGINT) AS takers_control, CAST(m1 AS BIGINT) AS takers_treatment,
      |  CAST((dy * 1000000) // (n1 * n0) AS BIGINT) AS itt_micro,
      |  CAST((dd * 1000000) // (n1 * n0) AS BIGINT) AS first_stage_micro,
      |  CASE WHEN ee > 0 THEN
      |    CAST(((n0 + n1 - 2) * dd * dd * 1000000) // ((n0 + n1) * ee) AS BIGINT)
      |  END AS f_micro,
      |  CASE WHEN ee > 0 THEN
      |    CAST((n0 + n1 - 2) * dd * dd < 10 * (n0 + n1) * ee AS INT)
      |  END AS weak_instrument,
      |  CASE WHEN dd <> 0 THEN CAST((dy * 1000000) // dd AS BIGINT) END
      |    AS late_micro
      |FROM b""".stripMargin

  // ------------------------------------------------------------------
  // q367 — quantile treatment effects (distributional A/B readout)
  // ------------------------------------------------------------------

  /** q367 — quantile treatment effects: the per-decile gap between the
    * treatment and control distributions of user purchase revenue
    * under q243's salted-md5 assignment — WHERE in the distribution
    * the effect lives (a mean shift q243/q257/q355 report identically
    * can be tail-only, median-only, or rank-preserving; QTE is the
    * standard distributional readout that tells them apart). Exact:
    * the q-th decile is pure SELECTION — the value at 1-based rank
    * ⌈q·U/10⌉ = (q·U + 9) div 10 along the total order (cents,
    * user_id) — so no arithmetic touches the values and the gaps are
    * integer subtractions. An absent arm degrades its column (and the
    * gap) to NULL.
    *
    * Scale shape: ranks come from Ranking.groupRanks — the two-phase
    * range-repartition scan, NOT a row_number window partitioned by
    * the 2-value arm (which would serialize each arm through one task
    * at scale; WindowStragglerGuardSpec enforces the choice); decile
    * targets are a 2×9 broadcast grid joined on (arm, rank). */
  def q367(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        floor($"value" * 100).cast("long")).otherwise(lit(0L))).as("y"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val ranked = Ranking.groupRanks(per, Seq("arm"), 8, $"y", $"user_id")
      .transform(graft.Fx.materialize) // counts + decile probe
    val targets = ranked.groupBy($"arm").agg(count(lit(1)).as("u"))
      .crossJoin(broadcast(
        s.range(1L, 10L).select($"id".as("decile"))))
      .select($"arm".as("t_arm"), $"decile",
        expr("(decile * u + 9) div 10").as("k"))
    ranked.join(broadcast(targets),
        $"arm" === $"t_arm" && $"rank" === $"k")
      .select($"decile", $"arm", $"y")
      .groupBy($"decile")
      .agg(max(when($"arm" === "control", $"y")).as("y_control"),
        max(when($"arm" === "treatment", $"y")).as("y_treatment"))
      .withColumn("qte_cents", $"y_treatment" - $"y_control")
      .orderBy($"decile")
  }

  val q367Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
      |         THEN 'control' ELSE 'treatment' END AS arm
      |  FROM events GROUP BY user_id),
      |ranked AS (
      |  SELECT arm, y,
      |    row_number() OVER (PARTITION BY arm ORDER BY y, user_id) AS rank
      |  FROM per),
      |targets AS (
      |  SELECT c.arm, d.decile, (d.decile * c.u + 9) // 10 AS k
      |  FROM (SELECT arm, CAST(count(*) AS BIGINT) AS u FROM per GROUP BY arm) c
      |  CROSS JOIN (SELECT CAST(l AS BIGINT) AS decile
      |              FROM generate_series(1, 9) t(l)) d)
      |SELECT t.decile,
      |  max(CASE WHEN r.arm = 'control' THEN r.y END) AS y_control,
      |  max(CASE WHEN r.arm = 'treatment' THEN r.y END) AS y_treatment,
      |  max(CASE WHEN r.arm = 'treatment' THEN r.y END)
      |    - max(CASE WHEN r.arm = 'control' THEN r.y END) AS qte_cents
      |FROM ranked r JOIN targets t ON r.arm = t.arm AND r.rank = t.k
      |GROUP BY t.decile ORDER BY t.decile""".stripMargin

  // ------------------------------------------------------------------
  // q362 — Simpson's-paradox audit (aggregation reversal by brand)
  // ------------------------------------------------------------------

  /** q362 — Simpson's-paradox audit for the discount→quantity
    * relationship: does the POOLED association run the opposite way
    * from the WITHIN-BRAND associations? The covariance sign is the
    * slope sign, and both are exact integers here — discount lands on
    * its cent grid, quantity is integral, so each brand's
    * cov_n = n·Σxy − Σx·Σy and the pooled cov_n are DECIMAL(38,0)
    * integers whose SIGN is exact (no float slope ever computed). A
    * brand "reverses" when its sign and the pooled sign are strictly
    * opposite — the aggregation-reversal flag that q178 (one pooled
    * correlation) and q304 (linear partialling) both miss, and the
    * reason per-segment readouts must accompany any pooled metric.
    * Output: one row per brand (n, cov sign, slope_micro for
    * magnitude) plus the pooled sign and reversal flag; brands with
    * zero x-variance report sign NULL (stated).
    *
    * Scale shape: one scan collapses to per-brand moment sums
    * (map-side combine over 25 brands after a broadcast part join);
    * the pooled row is the same moments re-summed; everything after is
    * 25-row arithmetic. */
  def q362(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"),
        floor($"l_discount" * 100 + lit(0.5)).cast("long").as("x"),
        $"l_quantity".cast("long").as("y"))
    val per = rows.groupBy($"brand").agg(
        count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .withColumn("cov_n", expr(
        "n * sxy - cast(sx as decimal(38,0)) * sy"))
      .withColumn("vx_n", expr(
        "n * sxx - cast(sx as decimal(38,0)) * sx"))
    val pooled = per.agg(sum($"n").as("n"), sum($"sx").as("sx"),
        sum($"sy").as("sy"), sum($"sxy").as("sxy"))
      .select(expr("cast(sign(n * sxy - cast(sx as decimal(38,0)) * sy) as int)")
        .as("pooled_sign"))
    per.crossJoin(broadcast(pooled))
      .select($"brand", $"n",
        when($"vx_n" > 0, expr("cast(sign(cov_n) as int)")).as("brand_sign"),
        when($"vx_n" > 0, expr("cast((cov_n * 1000000) div vx_n as bigint)"))
          .as("slope_micro"),
        $"pooled_sign")
      .withColumn("reversed",
        when($"brand_sign".isNull, lit(null).cast("int"))
          .otherwise(($"brand_sign" * $"pooled_sign" === -1).cast("int")))
      .orderBy($"brand")
  }

  val q362Sql: String =
    """WITH rows0 AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS x,
      |    CAST(l.l_quantity AS BIGINT) AS y
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |per AS (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM rows0 GROUP BY brand),
      |per2 AS (
      |  SELECT brand, n,
      |    n * sxy - CAST(sx AS HUGEINT) * sy AS cov_n,
      |    n * sxx - CAST(sx AS HUGEINT) * sx AS vx_n
      |  FROM per),
      |pooled AS (
      |  SELECT CAST(sign(sum(n) * sum(sxy)
      |    - CAST(sum(sx) AS HUGEINT) * sum(sy)) AS INT) AS pooled_sign
      |  FROM per)
      |SELECT p2.brand, p2.n,
      |  CASE WHEN p2.vx_n > 0 THEN CAST(sign(p2.cov_n) AS INT) END AS brand_sign,
      |  CASE WHEN p2.vx_n > 0
      |    THEN CAST((p2.cov_n * 1000000) // p2.vx_n AS BIGINT) END AS slope_micro,
      |  pooled.pooled_sign,
      |  CASE WHEN p2.vx_n > 0
      |    THEN CAST(CAST(sign(p2.cov_n) AS INT) * pooled.pooled_sign = -1 AS INT)
      |  END AS reversed
      |FROM per2 p2 CROSS JOIN pooled ORDER BY p2.brand""".stripMargin

  // ------------------------------------------------------------------
  // q355 — delta-method inference for a RATIO metric (revenue/event)
  // ------------------------------------------------------------------

  /** q355 — delta-method standard error for a ratio metric: revenue
    * per EVENT, R = Σx/Σn over per-user pairs (x = purchase cents,
    * n = events). The randomization unit is the user but the metric
    * denominator is events, so the naive binomial/per-user SE is
    * WRONG — the industry answer (Deng et al., "Applying the Delta
    * Method in Metric Analytics", KDD'18) linearizes R around the
    * means: Var(R̂) ≈ [Σn²·S_xx − 2ΣxΣn·S_xn + Σx²·S_nn]/((U−1)·Σn⁴)
    * with S_ab the centered per-user moment forms. This is the RATIO
    * companion to q243 (user-level conversion) and q257 (CUPED on a
    * user-level mean) — neither can price a per-event metric; q317's
    * jackknife targets a clustered MEAN, not a ratio.
    *
    * Exactness: revenue floors onto the cent grid per row (stated);
    * per-user (x, n) and all five per-arm moment sums are exact
    * integers on DECIMAL(38,0)/HUGEINT; the variance numerator is one
    * integer quadratic form (provably ≥ 0 — it is U·(U−1)·Σn²·
    * Var(x − R·n)); R and SE² land on fixed grids via two truncating
    * divisions (micro for R, 1e-10 for SE² — stated, identical both
    * engines). The 5% verdict on the arm difference needs NO sqrt:
    * 100·ΔR_micro² > 38416·(SE²_t + SE²_c)_e10 is the exact
    * cross-multiplied form of |ΔR| > 1.96·√(Var_t+Var_c). A missing
    * arm degrades the verdict to NULL, never to a dropped row.
    *
    * Scale shape: one groupBy(user) with map-side combine, one 2-row
    * per-arm rollup carrying all moments, a window over that 2-row
    * relation for the cross-arm columns — no second pass, no joins. */
  def q355(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, d)
      .select($"user_id",
        when($"event_type" === "purchase",
          floor($"value" * 100).cast("long")).otherwise(lit(0L)).as("cents"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"cents").as("x"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val m = per.groupBy($"arm").agg(
        count(lit(1)).as("u"),
        sum($"n").as("sn"), sum($"x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * n")).as("sxn"),
        sum(expr("cast(n as decimal(38,0)) * n")).as("snn"))
      .filter($"u" >= 2L && $"sn" > 0L)
      .withColumn("ratio_micro", expr("(cast(sx as decimal(38,0)) * 1000000) div sn"))
      .withColumn("num", expr(
        """cast(sn as decimal(38,0)) * sn * (u * sxx - cast(sx as decimal(38,0)) * sx)
           - 2 * cast(sx as decimal(38,0)) * sn * (u * sxn - cast(sx as decimal(38,0)) * sn)
           + cast(sx as decimal(38,0)) * sx * (u * snn - cast(sn as decimal(38,0)) * sn)"""))
      .withColumn("t1", expr("num div ((u - 1) * cast(sn as decimal(38,0)) * sn)"))
      .withColumn("se2_e10", expr(
        "(cast(t1 as decimal(38,0)) * 10000000000) div (cast(sn as decimal(38,0)) * sn)"))
    val w = Window.partitionBy(lit(1))
    m.withColumn("cr", max(when($"arm" === "control", $"ratio_micro")).over(w))
      .withColumn("tr", max(when($"arm" === "treatment", $"ratio_micro")).over(w))
      .withColumn("cs", max(when($"arm" === "control", $"se2_e10")).over(w))
      .withColumn("ts", max(when($"arm" === "treatment", $"se2_e10")).over(w))
      .select($"arm", $"u".as("n_users"), $"sn".as("n_events"),
        $"sx".as("x_cents"), $"ratio_micro", $"se2_e10",
        expr("""case when cr is null or tr is null then cast(null as int)
                else cast(100 * cast(tr - cr as decimal(38,0)) * (tr - cr)
                     > 38416 * cast(ts + cs as decimal(38,0)) as int) end""")
          .as("reject_5pct"))
      .orderBy($"arm")
  }

  val q355Sql: String =
    """WITH per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
      |         THEN 'control' ELSE 'treatment' END AS arm
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS u,
      |    CAST(sum(n) AS BIGINT) AS sn, CAST(sum(x) AS BIGINT) AS sx,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * n) AS sxn,
      |    sum(CAST(n AS HUGEINT) * n) AS snn
      |  FROM per GROUP BY arm
      |  HAVING count(*) >= 2 AND sum(n) > 0),
      |v AS (
      |  SELECT arm, u, sn, sx,
      |    (CAST(sx AS HUGEINT) * 1000000) // sn AS ratio_micro,
      |    (CAST(sn AS HUGEINT) * sn * (u * sxx - CAST(sx AS HUGEINT) * sx)
      |      - 2 * CAST(sx AS HUGEINT) * sn * (u * sxn - CAST(sx AS HUGEINT) * sn)
      |      + CAST(sx AS HUGEINT) * sx * (u * snn - CAST(sn AS HUGEINT) * sn))
      |     // ((u - 1) * CAST(sn AS HUGEINT) * sn) AS t1
      |  FROM m),
      |v2 AS (
      |  SELECT arm, u, sn, sx, ratio_micro,
      |    (CAST(t1 AS HUGEINT) * 10000000000) // (CAST(sn AS HUGEINT) * sn)
      |      AS se2_e10
      |  FROM v),
      |w AS (
      |  SELECT *,
      |    max(CASE WHEN arm = 'control' THEN ratio_micro END) OVER () AS cr,
      |    max(CASE WHEN arm = 'treatment' THEN ratio_micro END) OVER () AS tr,
      |    max(CASE WHEN arm = 'control' THEN se2_e10 END) OVER () AS cs,
      |    max(CASE WHEN arm = 'treatment' THEN se2_e10 END) OVER () AS ts
      |  FROM v2)
      |SELECT arm, u AS n_users, sn AS n_events, sx AS x_cents,
      |  CAST(ratio_micro AS BIGINT) AS ratio_micro,
      |  CAST(se2_e10 AS BIGINT) AS se2_e10,
      |  CASE WHEN cr IS NULL OR tr IS NULL THEN NULL
      |    ELSE CAST(100 * CAST(tr - cr AS HUGEINT) * (tr - cr)
      |         > 38416 * CAST(ts + cs AS HUGEINT) AS INT) END AS reject_5pct
      |FROM w ORDER BY arm""".stripMargin

  // ------------------------------------------------------------------
  // q257 — CUPED variance-reduced A/B readout (exact moments)
  // ------------------------------------------------------------------

  /** q257 — the variance-reduced companion to q243: CUPED (Deng et
    * al., WSDM'13 — "Improving the Sensitivity of Online Controlled
    * Experiments by Utilizing Pre-Experiment Data"). Units are users
    * under q243's exact salted-md5 assignment; the metric Y is a
    * user's purchase revenue (cents) in the experiment window (Jan 16
    * onward), the covariate X is the same metric PRE-experiment
    * (before Jan 16 — unaffected by treatment by construction), and
    * the adjusted effect is Δ_cuped = Δ_raw − θ·Δ_x with
    * θ = cov(X,Y)/var(X) pooled over all units. The readout carries
    * the variance-reduction fraction ρ² = cov²/(var X·var Y) — the
    * share of metric variance the covariate removes, i.e. how much
    * longer the un-CUPED experiment would have to run for the same
    * power (1/(1−ρ²)×).
    *
    * Determinism: revenue floors onto the cent grid per row, so all
    * per-user (x, y) and the five pooled moment sums are exact
    * integers (products in DECIMAL(38,0) / HUGEINT for overflow
    * headroom); θ, Δ and ρ² are fixed-shape double arithmetic over
    * those exact integers (q178 discipline), degenerate-guarded: an
    * empty arm or zero covariate variance degrades the affected
    * columns to NULL, never to a crash or a silently wrong zero.
    *
    * Scale shape: one groupBy(user) over raw events with map-side
    * partial aggregation, then ONE single-row conditional aggregate —
    * per-arm and pooled moments in the same pass, no join between
    * arm-split frames. The sufficient statistics (counts and exact
    * sums) ride along for downstream significance testing. */
  def q257(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cut = lit("2024-01-16").cast("timestamp")
    val cents = floor($"value" * 100).cast("long")
    val perUser = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(
        sum(when($"event_type" === "purchase" && $"ts" < cut, cents)
          .otherwise(0L)).cast("long").as("x"),
        sum(when($"event_type" === "purchase" && $"ts" >= cut, cents)
          .otherwise(0L)).cast("long").as("y"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val m = perUser.agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum(d38($"x") * d38($"y")).as("sxy"),
      sum(d38($"x") * d38($"x")).as("sxx"),
      sum(d38($"y") * d38($"y")).as("syy"),
      sum(when($"arm" === "treatment", 1L).otherwise(0L)).as("nt"),
      sum(when($"arm" === "treatment", $"x").otherwise(0L)).as("sxt"),
      sum(when($"arm" === "treatment", $"y").otherwise(0L)).as("syt"))
    val k = m.select($"n", $"nt", ($"n" - $"nt").as("nc"),
      $"sx", $"sy", $"sxt", $"syt",
      (d38($"n") * $"sxy" - d38($"sx") * d38($"sy")).as("cov_n"),
      (d38($"n") * $"sxx" - d38($"sx") * d38($"sx")).as("vx_n"),
      (d38($"n") * $"syy" - d38($"sy") * d38($"sy")).as("vy_n"))
    // pinned double shapes — every operand below is an exact integer
    val theta = $"cov_n".cast("double") / $"vx_n".cast("double")
    val deltaRaw = $"syt".cast("double") / $"nt" -
      ($"sy" - $"syt").cast("double") / $"nc"
    val deltaX = $"sxt".cast("double") / $"nt" -
      ($"sx" - $"sxt").cast("double") / $"nc"
    val armsOk = $"nt" > 0 && $"nc" > 0
    k.select(
        $"n".as("n_users"), $"nt".as("n_treat"), $"nc".as("n_ctl"),
        $"sy".as("sum_y_cents"), $"sx".as("sum_x_cents"),
        r6(when($"vx_n" > 0, theta)).as("theta"),
        r6(when(armsOk, deltaRaw)).as("delta_raw_cents"),
        r6(when(armsOk && $"vx_n" > 0, deltaRaw - theta * deltaX))
          .as("delta_cuped_cents"),
        r6(when($"vx_n" > 0 && $"vy_n" > 0,
          $"cov_n".cast("double") * $"cov_n".cast("double") /
            ($"vx_n".cast("double") * $"vy_n".cast("double")))).as("rho2"))
      .orderBy($"n_users")
  }

  val q257Sql: String =
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
       |                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
       |                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
       |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT count(*) AS n,
       |    sum(x) AS sx, sum(y) AS sy,
       |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
       |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
       |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
       |    sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
       |    sum(CASE WHEN arm = 'treatment' THEN x ELSE 0 END) AS sxt,
       |    sum(CASE WHEN arm = 'treatment' THEN y ELSE 0 END) AS syt
       |  FROM per_user),
       |k AS (
       |  SELECT n, nt, n - nt AS nc, sx, sy, sxt, syt,
       |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS cov_n,
       |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS vx_n,
       |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS vy_n
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_users, CAST(nt AS BIGINT) AS n_treat,
       |  CAST(nc AS BIGINT) AS n_ctl,
       |  CAST(sy AS BIGINT) AS sum_y_cents, CAST(sx AS BIGINT) AS sum_x_cents,
       |  ${sqlR6("CASE WHEN vx_n > 0 THEN CAST(cov_n AS DOUBLE) / CAST(vx_n AS DOUBLE) END")} AS theta,
       |  ${sqlR6("CASE WHEN nt > 0 AND nc > 0 THEN CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc END")} AS delta_raw_cents,
       |  ${sqlR6("CASE WHEN nt > 0 AND nc > 0 AND vx_n > 0 THEN (CAST(syt AS DOUBLE) / nt - CAST(sy - syt AS DOUBLE) / nc) - (CAST(cov_n AS DOUBLE) / CAST(vx_n AS DOUBLE)) * (CAST(sxt AS DOUBLE) / nt - CAST(sx - sxt AS DOUBLE) / nc) END")} AS delta_cuped_cents,
       |  ${sqlR6("CASE WHEN vx_n > 0 AND vy_n > 0 THEN CAST(cov_n AS DOUBLE) * CAST(cov_n AS DOUBLE) / (CAST(vx_n AS DOUBLE) * CAST(vy_n AS DOUBLE)) END")} AS rho2
       |FROM k ORDER BY n_users""".stripMargin

  /** q268 — two-proportion z-test on the q243 experiment: the
    * SIGNIFICANCE readout that closes the experimentation suite
    * (q243 exposure/lift → q257 variance reduction → q268 decision).
    * z = (p_t − p_c) / √(p̂(1−p̂)(1/n_t + 1/n_c)) with the pooled p̂ —
    * every operand is an exact integer product (conversions and
    * exposures), combined in one pinned double shape ending in the
    * correctly-rounded sqrt (q178 discipline). The normal-CDF
    * p-value needs erf (libm — the documented exclusion), so the
    * emitted decision is the |z| ≥ 1.96 two-sided 5% flag plus the
    * sufficient statistics for any offline CDF. Degenerate guards:
    * an empty arm or an all-or-nothing pooled rate NULLs the z, never
    * divides by zero. One distinct-collapse + one 2-row rollup. */
  def q268(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // "converted" = purchase-heavy user (purchases exceed 20% of the
    // user's events): an interior-rate metric at every shipped SF —
    // has-any-purchase saturates at 100% here, which would make the
    // z gate vacuous (the q247 lesson: an all-or-nothing rate proves
    // nothing)
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg((sum(($"event_type" === "purchase").cast("long")) * 5 >
        count(lit(1))).cast("long").as("conv"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val m = users.agg(
      sum(when($"arm" === "treatment", 1L).otherwise(0L)).as("nt"),
      sum(when($"arm" === "treatment", $"conv").otherwise(0L)).as("ct"),
      sum(when($"arm" === "control", 1L).otherwise(0L)).as("nc"),
      sum(when($"arm" === "control", $"conv").otherwise(0L)).as("cc"))
    val k = m.select($"nt", $"ct", $"nc", $"cc",
      ($"nt" + $"nc").as("n"), ($"ct" + $"cc").as("c"),
      (d38($"ct") * d38($"nc") - d38($"cc") * d38($"nt")).as("dnum"))
    val z = ($"dnum".cast("double") / (d38($"nt") * d38($"nc")).cast("double")) /
      sqrt(
        (d38($"c") * d38($"n" - $"c")).cast("double") /
          (d38($"n") * d38($"n")).cast("double") *
          (($"n").cast("double") / (d38($"nt") * d38($"nc")).cast("double")))
    val ok = $"nt" > 0 && $"nc" > 0 && $"c" > 0 && $"c" < $"n"
    k.select($"nt".as("n_treat"), $"ct".as("conv_treat"),
        $"nc".as("n_ctl"), $"cc".as("conv_ctl"),
        r6($"ct".cast("double") / $"nt").as("rate_treat"),
        r6($"cc".cast("double") / $"nc").as("rate_ctl"),
        r6(when(ok, z)).as("z"),
        when(ok, (abs(z) >= 1.96).cast("int")).as("significant_5pct"))
      .orderBy($"n_treat")
  }

  val q268Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
       |         > count(*) AS INT) AS conv,
       |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT
       |    sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
       |    sum(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END) AS ct,
       |    sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
       |    sum(CASE WHEN arm = 'control' THEN conv ELSE 0 END) AS cc
       |  FROM u),
       |k AS (
       |  SELECT nt, ct, nc, cc, nt + nc AS n, ct + cc AS c,
       |    CAST(ct AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nt AS dnum
       |  FROM m),
       |z AS (
       |  SELECT *,
       |    (CAST(dnum AS DOUBLE) / CAST(CAST(nt AS HUGEINT) * nc AS DOUBLE)) /
       |    sqrt(CAST(CAST(c AS HUGEINT) * (n - c) AS DOUBLE) /
       |           CAST(CAST(n AS HUGEINT) * n AS DOUBLE) *
       |         (CAST(n AS DOUBLE) / CAST(CAST(nt AS HUGEINT) * nc AS DOUBLE))) AS zval,
       |    (nt > 0 AND nc > 0 AND c > 0 AND c < n) AS ok
       |  FROM k)
       |SELECT CAST(nt AS BIGINT) AS n_treat, CAST(ct AS BIGINT) AS conv_treat,
       |  CAST(nc AS BIGINT) AS n_ctl, CAST(cc AS BIGINT) AS conv_ctl,
       |  ${sqlR6("CAST(ct AS DOUBLE) / nt")} AS rate_treat,
       |  ${sqlR6("CAST(cc AS DOUBLE) / nc")} AS rate_ctl,
       |  ${sqlR6("CASE WHEN ok THEN zval END")} AS z,
       |  CASE WHEN ok THEN CAST(abs(zval) >= 1.96 AS INT) END AS significant_5pct
       |FROM z ORDER BY n_treat""".stripMargin

  /** q272 — sample-ratio-mismatch (SRM) audit: the guardrail that runs
    * BEFORE any readout (q243/q257/q268 all assume the assignment is
    * healthy) — a salted-hash split whose arm counts deviate from
    * 50/50 beyond chance means the assignment or logging pipeline is
    * broken, and every downstream metric is garbage. Twenty salt
    * variants of the q243 rule are audited in one pass: per salt, a
    * 1-dof chi-square against the even split as exact micro-unit
    * integers ((n₀−n₁)²·10⁶ div n — the q258 grid), flagged past the
    * pinned 3.841459 critical value (5%). On a healthy hash family
    * ~1 in 20 trips the flag by construction — the audit's own base
    * rate, stated.
    *
    * Scale shape: one explode (×20) and one low-cardinality groupBy
    * WITH map-side partials (an aggregation, not a window — the
    * 20-group reduce is shuffle-light by design); everything after
    * runs on the 20-row relation. */
  def q272(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d).select($"user_id").distinct()
    val salted = users
      .select($"user_id", explode(sequence(lit(1), lit(20))).as("salt"))
      .withColumn("arm",
        (Fx.md5Prefix(concat($"user_id".cast("string"),
          lit("#srm"), $"salt".cast("string")), 8) % 2).cast("long"))
    salted.groupBy($"salt")
      .agg(sum(lit(1L) - $"arm").as("n_ctl"), sum($"arm").as("n_treat"))
      .withColumn("chi2_micro", expr(
        "((n_ctl - n_treat) * (n_ctl - n_treat) * 1000000) div (n_ctl + n_treat)"))
      .withColumn("srm_flag", ($"chi2_micro" > 3841459L).cast("int"))
      .select($"salt".cast("long").as("salt"), $"n_ctl", $"n_treat",
        $"chi2_micro", $"srm_flag")
      .orderBy($"salt")
  }

  val q272Sql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |salted AS (
      |  SELECT user_id, salt,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#srm' || CAST(salt AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
      |  FROM u CROSS JOIN (SELECT unnest(range(1, 21)) AS salt) t),
      |a AS (
      |  SELECT salt, CAST(sum(1 - arm) AS BIGINT) AS n_ctl,
      |    CAST(sum(arm) AS BIGINT) AS n_treat
      |  FROM salted GROUP BY salt)
      |SELECT CAST(salt AS BIGINT) AS salt, n_ctl, n_treat,
      |  CAST(((n_ctl - n_treat) * (n_ctl - n_treat) * 1000000) // (n_ctl + n_treat) AS BIGINT) AS chi2_micro,
      |  CAST(((n_ctl - n_treat) * (n_ctl - n_treat) * 1000000) // (n_ctl + n_treat) > 3841459 AS INT) AS srm_flag
      |FROM a ORDER BY salt""".stripMargin

  // ------------------------------------------------------------------
  // q245 — sequential pattern mining (MLlib PrefixSpan, oracle-checked)
  // ------------------------------------------------------------------

  /** q245 — frequent sequential patterns over user event timelines via
    * MLlib's PrefixSpan (Pei et al. 2001): every pattern of ≤ 2 events
    * supported by ≥ 40% of users, with support counted per USER (a
    * sequence contains a pattern once no matter how often it repeats
    * — the sequence-support definition that distinguishes sequence
    * mining from q226's transition counts, which weight by
    * occurrence). Because input itemsets are singleton events ordered
    * by (ts, event_id), containment of <a,b> is exactly "some a
    * strictly before some b in the user's timeline", which the oracle
    * states as an EXISTS-style self-join with count(DISTINCT user) —
    * so even a library miner's output hash-matches plain SQL, pinning
    * both the mining semantics and the ceil(minSupport·n) frequency
    * threshold.
    *
    * Scale shape: timelines collapse to one array per user (bounded
    * by the user's own activity — the q104 shape); PrefixSpan's
    * prefix-projection fans out by pattern, never all-pairs. The
    * oracle's quadratic self-join is oracle-side only. */
  def q245(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seqs = Tables.events(s, d)
      .select($"user_id",
        struct(unix_micros($"ts").as("us"), $"event_id", $"event_type").as("e"))
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"e")).as("evs"))
      .select(transform($"evs", x => array(x("event_type"))).as("sequence"))
    val pats = new org.apache.spark.ml.fpm.PrefixSpan()
      .setMinSupport(0.4).setMaxPatternLength(2)
      .setSequenceCol("sequence")
      .findFrequentSequentialPatterns(seqs)
      .select(array_join(flatten($"sequence"), "->").as("pattern"),
        $"freq".cast("long").as("freq"))
    val tot = seqs.agg(count(lit(1)).as("n_seqs"))
    pats.crossJoin(broadcast(tot))
      .select($"pattern", $"freq", $"n_seqs".cast("long").as("n_seqs"),
        r6($"freq" / $"n_seqs").as("support"))
      .orderBy($"pattern")
  }

  val q245Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type FROM events),
       |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM e),
       |s1 AS (
       |  SELECT event_type AS pattern,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS freq
       |  FROM e GROUP BY 1),
       |p2 AS (
       |  SELECT a.event_type || '->' || b.event_type AS pattern,
       |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS freq
       |  FROM e a JOIN e b ON a.user_id = b.user_id
       |    AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
       |  GROUP BY 1),
       |pats AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2)
       |SELECT pattern, freq, n AS n_seqs, ${sqlR6("freq / n")} AS support
       |FROM pats CROSS JOIN u
       |WHERE freq >= CAST(ceil(0.4 * n) AS BIGINT)
       |ORDER BY pattern""".stripMargin

  /** Shared order→distinct-brand baskets for the FPGrowth family
    * (q246/q247) — materialized because FPGrowth.fit makes multiple
    * passes (the q223 precedent; q204/q223 build their own pair/basket
    * shapes of the same relation for their different downstream
    * plans). */
  private def brandBaskets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct()
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"p_brand")).as("items"))
      .transform(graft.Fx.materialize)
  }

  // ------------------------------------------------------------------
  // q246 — frequent itemsets (MLlib FPGrowth, oracle-checked)
  // ------------------------------------------------------------------

  /** q246 — frequent brand itemsets over order baskets via MLlib's
    * FPGrowth — the library twin of q223's hand-built Apriori (same
    * anti-monotone support semantics, prefix-tree mining instead of
    * candidate generation): each order is its distinct set of part
    * brands, and every itemset of ≤ 2 brands in ≥ 2% of orders comes
    * back with basket-support counts. Items inside an itemset are
    * order-free, so the output canonicalizes by sorting and joining —
    * after which a library miner's result, threshold rule included
    * (ceil(minSupport·n)), hash-matches the plain SQL statement of
    * "baskets containing the brand (pair)".
    *
    * Scale shape: baskets collapse to distinct (order, brand) — the
    * bounded-domain reduction q223 uses — and FP-growth's projected
    * trees never materialize candidate cross products; the oracle's
    * pair self-join is oracle-side only. */
  def q246(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baskets = brandBaskets(s, d)
    val fp = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.02).setItemsCol("items")
      .fit(baskets)
    val sets = fp.freqItemsets
      .filter(size($"items") <= 2)
      .select(array_join(array_sort($"items"), ",").as("itemset"),
        $"freq".cast("long").as("freq"))
    val tot = baskets.agg(count(lit(1)).as("n_baskets"))
    sets.crossJoin(broadcast(tot))
      .select($"itemset", $"freq", $"n_baskets".cast("long").as("n_baskets"),
        r6($"freq" / $"n_baskets").as("support"))
      .orderBy($"itemset")
  }

  val q246Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM ob),
       |s1 AS (
       |  SELECT b AS itemset, CAST(count(*) AS BIGINT) AS freq
       |  FROM ob GROUP BY 1),
       |s2 AS (
       |  SELECT a.b || ',' || c.b AS itemset, CAST(count(*) AS BIGINT) AS freq
       |  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
       |  GROUP BY 1),
       |sets AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
       |SELECT itemset, freq, n_baskets, ${sqlR6("freq / n_baskets")} AS support
       |FROM sets CROSS JOIN n
       |WHERE freq >= CAST(ceil(0.02 * n_baskets) AS BIGINT)
       |ORDER BY itemset""".stripMargin

  // ------------------------------------------------------------------
  // q247 — association rules (confidence / lift from FPGrowth)
  // ------------------------------------------------------------------

  /** q247 — single-antecedent association rules off q246's itemset
    * lattice: A→B with confidence = f(AB)/f(A) and
    * lift = confidence / (f(B)/n) — MLlib's own rule generator, its
    * floating-point evaluation ORDER mirrored operation-for-operation
    * in the SQL (two divisions in that exact shape; both engines'
    * per-op IEEE rounding then agrees bit-for-bit, the q201-lift
    * precedent applied to a library's output). Rules with
    * confidence ≥ 0.12 — chosen BELOW this data's max confidence at
    * every SF (0.193 at sf0.01, 0.162 at sf0.1), so the gate is
    * never vacuously satisfied by two empty relations; the boundary
    * compare runs on identical doubles so the cut is
    * cross-engine-stable.
    *
    * This is the recommender/affinity readout ("customers who bought
    * brand A also bought B") the basket pipeline exists for — support
    * says common, confidence says directional, lift says beyond-
    * chance. */
  def q247(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val baskets = brandBaskets(s, d)
    val fp = new org.apache.spark.ml.fpm.FPGrowth()
      .setMinSupport(0.02).setMinConfidence(0.12).setItemsCol("items")
      .fit(baskets)
    fp.associationRules
      .filter(size($"antecedent") === 1 && size($"consequent") === 1)
      .select($"antecedent"(0).as("ante"), $"consequent"(0).as("cons"),
        r6($"confidence").as("confidence"), r6($"lift").as("lift"))
      .orderBy($"ante", $"cons")
  }

  val q247Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM ob),
       |f1 AS (SELECT b, CAST(count(*) AS BIGINT) AS f FROM ob GROUP BY 1),
       |f2 AS (
       |  SELECT a.b AS x, c.b AS y, CAST(count(*) AS BIGINT) AS fab
       |  FROM ob a JOIN ob c ON a.ok = c.ok AND a.b <> c.b
       |  GROUP BY 1, 2),
       |freq AS (SELECT x, y, fab FROM f2, n
       |         WHERE fab >= CAST(ceil(0.02 * n_baskets) AS BIGINT)),
       |rules AS (
       |  SELECT freq.x AS ante, freq.y AS cons,
       |    (CAST(fab AS DOUBLE) / fa.f) AS conf,
       |    (CAST(fab AS DOUBLE) / fa.f) / (CAST(fb.f AS DOUBLE) / n.n_baskets)
       |      AS lift
       |  FROM freq
       |  JOIN f1 fa ON fa.b = freq.x
       |  JOIN f1 fb ON fb.b = freq.y
       |  CROSS JOIN n)
       |SELECT ante, cons, ${sqlR6("conf")} AS confidence, ${sqlR6("lift")} AS lift
       |FROM rules WHERE conf >= 0.12
       |ORDER BY ante, cons""".stripMargin

  /** q278 — split-conformal prediction intervals per order priority:
    * the distribution-free calibration recipe. A three-way salted-md5
    * split (train/calibration/test) fits the simplest predictor on
    * train (the nearest-rank lower median — exact cents), computes
    * absolute residuals on calibration, and takes the conformal
    * quantile at rank k = ⌈0.9·(n_cal+1)⌉ — computed as the INTEGER
    * (9·(n_cal+1)+9) div 10, so no float touches the rank — clamped
    * to n_cal (the finite-sample "else infinite interval" case,
    * stated). The guarantee P(|y−ŷ| ≤ q̂) ≥ 0.9 is then AUDITED on
    * the held-out test split: exact covered/total counts, one r6
    * division. Everything is integer until that division.
    *
    * Scale shape: both rank selections ride [[Ranking.groupRanks]]
    * (o_orderpriority is a 5-value enum — a raw partitioned window
    * would single-task each priority's history); group counts join
    * back broadcast. */
  def q278(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey",
      $"o_orderpriority".as("grp"),
      floor($"o_totalprice" * 100).cast("long").as("cents"),
      (Fx.md5Prefix(concat($"o_orderkey".cast("string"), lit("#conf")), 8) % 3)
        .cast("int").as("fold"))
      .transform(Fx.materialize)
    val train = o.filter($"fold" === 0)
    val nTrain = train.groupBy($"grp").agg(count(lit(1)).as("n_train"))
      .withColumnRenamed("grp", "__g1")
    val med = Ranking.groupRanks(train, Seq("grp"), 8, $"cents".asc, $"o_orderkey".asc)
      .join(broadcast(nTrain), $"grp" === $"__g1")
      .filter($"rank" === ceil($"n_train" * 0.5))
      .select($"grp".as("__mg"), $"n_train", $"cents".as("med_cents"))
    val cal = o.filter($"fold" === 1)
      .join(broadcast(med), $"grp" === $"__mg")
      .withColumn("resid", abs($"cents" - $"med_cents"))
    val nCal = cal.groupBy($"grp").agg(count(lit(1)).as("n_cal"))
      .withColumnRenamed("grp", "__g2")
    val qhat = Ranking.groupRanks(
        cal.select($"grp", $"o_orderkey", $"resid"), Seq("grp"), 8,
        $"resid".asc, $"o_orderkey".asc)
      .join(broadcast(nCal), $"grp" === $"__g2")
      .withColumn("k", least(expr("(9 * (n_cal + 1) + 9) div 10"), $"n_cal"))
      .filter($"rank" === $"k")
      .select($"grp".as("__qg"), $"n_cal", $"k", $"resid".as("qhat_cents"))
    o.filter($"fold" === 2)
      .join(broadcast(med), $"grp" === $"__mg")
      .join(broadcast(qhat), $"grp" === $"__qg")
      .groupBy($"grp", $"n_train", $"med_cents", $"n_cal", $"k", $"qhat_cents")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs($"cents" - $"med_cents") <= $"qhat_cents", 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        r6($"n_covered".cast("double") / $"n_test"))
      .select($"grp", $"n_train", $"med_cents", $"n_cal", $"k",
        $"qhat_cents", $"n_test", $"n_covered", $"coverage")
      .orderBy($"grp")
  }

  val q278Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#conf'), 1, 8))::BIGINT % 3 AS INT) AS fold
      |  FROM orders),
      |tr AS (
      |  SELECT grp, cents,
      |    row_number() OVER (PARTITION BY grp ORDER BY cents, o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY grp) AS n_train
      |  FROM o WHERE fold = 0),
      |med AS (
      |  SELECT grp, CAST(n_train AS BIGINT) AS n_train, cents AS med_cents
      |  FROM tr WHERE rk = CAST(ceil(n_train * 0.5) AS BIGINT)),
      |cal AS (
      |  SELECT o.grp, o.o_orderkey, abs(o.cents - med.med_cents) AS resid
      |  FROM o JOIN med ON o.grp = med.grp WHERE o.fold = 1),
      |cr AS (
      |  SELECT grp, resid,
      |    row_number() OVER (PARTITION BY grp ORDER BY resid, o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY grp) AS n_cal
      |  FROM cal),
      |qh AS (
      |  SELECT grp, CAST(n_cal AS BIGINT) AS n_cal,
      |    CAST(least((9 * (n_cal + 1) + 9) // 10, n_cal) AS BIGINT) AS k,
      |    resid AS qhat_cents
      |  FROM cr WHERE rk = least((9 * (n_cal + 1) + 9) // 10, n_cal))
      |SELECT o.grp, med.n_train, med.med_cents, qh.n_cal, qh.k,
      |  qh.qhat_cents,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN abs(o.cents - med.med_cents) <= qh.qhat_cents
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  floor(CAST(sum(CASE WHEN abs(o.cents - med.med_cents) <= qh.qhat_cents
      |                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5)
      |    / 1000000 AS coverage
      |FROM o
      |JOIN med ON o.grp = med.grp
      |JOIN qh ON o.grp = qh.grp
      |WHERE o.fold = 2
      |GROUP BY o.grp, med.n_train, med.med_cents, qh.n_cal, qh.k, qh.qhat_cents
      |ORDER BY o.grp""".stripMargin

  /** q302 — minimum-detectable-effect readout for the q243/q268
    * experiment: with THESE arm sizes and THIS pooled baseline rate,
    * what absolute lift could the test even see? MDE = (z_{α/2} +
    * z_β)·√(p̄(1−p̄)(1/n_t + 1/n_c)) at α = 0.05 two-sided, 80%
    * power — the z-sum pinned as the single literal 2.8016 (adding
    * 1.96 + 0.8416 in each engine's literal type first would risk a
    * decimal-vs-binary rounding split), one sqrt
    * (the q268 budget), every other operand an exact integer or a
    * correctly-rounded quotient. The readout also answers the
    * question people actually ask — "was the observed lift inside
    * the detectable range?" — with a `powered` flag comparing the
    * two r6-fixed doubles. Run this BEFORE q268: an underpowered
    * experiment's non-significance means nothing.
    *
    * Scale shape: one user-level collapse (q268's), then 1-row
    * arithmetic. */
  def q302(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg((sum(($"event_type" === "purchase").cast("long")) * 5 >
        count(lit(1))).cast("long").as("conv"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val m = users.agg(
      sum(when($"arm" === "treatment", 1L).otherwise(0L)).as("nt"),
      sum(when($"arm" === "treatment", $"conv").otherwise(0L)).as("ct"),
      sum(when($"arm" === "control", 1L).otherwise(0L)).as("nc"),
      sum(when($"arm" === "control", $"conv").otherwise(0L)).as("cc"))
    val p = ($"ct" + $"cc").cast("double") / ($"nt" + $"nc").cast("double")
    val mde = lit(2.8016) *
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / $"nt".cast("double") + lit(1.0) / $"nc".cast("double")))
    val lift = $"ct".cast("double") / $"nt".cast("double") -
      $"cc".cast("double") / $"nc".cast("double")
    m.select($"nt".as("n_treat"), $"ct".as("conv_treat"),
        $"nc".as("n_ctl"), $"cc".as("conv_ctl"),
        r6(p).as("p_pool"), r6(mde).as("mde_abs"),
        r6(lift).as("observed_lift"),
        (abs(r6(lift)) >= r6(mde)).cast("int").as("powered"))
      .orderBy($"n_treat")
  }

  val q302Sql: String = {
    val p = "(CAST(ct + cc AS DOUBLE) / (nt + nc))"
    val mde = s"(2.8016 * sqrt($p * (1.0 - $p) * " +
      "(1.0 / CAST(nt AS DOUBLE) + 1.0 / CAST(nc AS DOUBLE))))"
    val lift = "(CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
       |         > count(*) AS INT) AS conv,
       |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT
       |    sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
       |    sum(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END) AS ct,
       |    sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
       |    sum(CASE WHEN arm = 'control' THEN conv ELSE 0 END) AS cc
       |  FROM u)
       |SELECT CAST(nt AS BIGINT) AS n_treat, CAST(ct AS BIGINT) AS conv_treat,
       |  CAST(nc AS BIGINT) AS n_ctl, CAST(cc AS BIGINT) AS conv_ctl,
       |  ${sqlR6(p)} AS p_pool,
       |  ${sqlR6(mde)} AS mde_abs,
       |  ${sqlR6(lift)} AS observed_lift,
       |  CAST(abs(${sqlR6(lift)}) >= ${sqlR6(mde)} AS INT) AS powered
       |FROM m ORDER BY n_treat""".stripMargin
  }

  /** q294 — standardized-mean-difference covariate balance, before
    * and after q288's CEM matching: the diagnostic every matching
    * study must print (|SMD| < 0.1 is the conventional "balanced"
    * line). Per covariate and phase, SMD = (x̄_t − x̄_c) /
    * √((s²_t + s²_c)/2); the variances use the exact-moment identity
    * (n·Σx² − (Σx)²)/(n(n−1)) so everything up to the final pinned
    * double shape (one sqrt, the q268 budget) is integer — moments
    * accumulate in DECIMAL(38,0)/HUGEINT since Σx² hits value²·n
    * scale. "After" recomputes on the population inside matched
    * strata (both arms present) — the matched sample, stated.
    *
    * Scale shape: one per-user aggregate feeds both phases; the
    * covariate unpivot is a 3× constant fan-out of the USER-level
    * frame; each phase is one rollup to (covariate × arm) cells. */
  def q294(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(epochDay($"ts")).as("n_days"),
        sum(when($"event_type" === "purchase", floor($"value" * 100))
          .otherwise(0L).cast("long")).as("cents"))
      .select($"user_id", $"n_ev", $"n_days", $"cents",
        expr("n_ev div 10").as("b_act"), expr("n_days div 5").as("b_days"),
        (Fx.md5Prefix(concat($"user_id".cast("string"), lit("#cem")), 8) % 2)
          .cast("int").as("treat"))
      .transform(Fx.materialize)
    val matchedStrata = users.groupBy($"b_act", $"b_days")
      .agg(sum($"treat").as("nt"), sum(lit(1) - $"treat").as("nc"))
      .filter($"nt" > 0 && $"nc" > 0)
      .select($"b_act".as("__ba"), $"b_days".as("__bd"))
    val after = users.join(broadcast(matchedStrata),
      $"b_act" === $"__ba" && $"b_days" === $"__bd")
      .select(users.columns.map(col): _*)
    def phase(df: DataFrame, name: String): DataFrame = {
      val long_ = df.select($"treat",
        expr("stack(3, 'n_ev', n_ev, 'n_days', n_days, 'cents', cents) as (cov, x)"))
      long_.groupBy($"cov", $"treat")
        .agg(count(lit(1)).as("n"),
          sum($"x").as("sx"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
        .withColumn("phase", lit(name))
    }
    val cells = phase(users, "before").unionByName(phase(after, "after"))
      .withColumn("mean_micro", expr("(cast(sx as decimal(38,0)) * 1000000) div n"))
      .withColumn("varx",
        when($"n" > 1,
          expr("""cast(cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx
                  as double) / cast(cast(n as decimal(38,0)) * (n - 1) as double)"""))
          .otherwise(lit(0.0)))
    val t = cells.filter($"treat" === 1)
      .select($"phase", $"cov", $"n".as("n_t"),
        $"mean_micro".as("mean_t_micro"), $"varx".as("v_t"), $"sx".as("sx_t"))
    val c = cells.filter($"treat" === 0)
      .select($"phase".as("__p"), $"cov".as("__c"), $"n".as("n_c"),
        $"mean_micro".as("mean_c_micro"), $"varx".as("v_c"), $"sx".as("sx_c"))
    t.join(c, $"phase" === $"__p" && $"cov" === $"__c")
      .withColumn("smd",
        r6(($"sx_t".cast("double") / $"n_t" - $"sx_c".cast("double") / $"n_c")
          / sqrt(($"v_t" + $"v_c") / 2)))
      .select($"phase", $"cov", $"n_t", $"n_c",
        $"mean_t_micro", $"mean_c_micro", $"smd")
      .orderBy($"phase", $"cov")
  }

  val q294Sql: String = {
    val varExpr = (n: String, sx: String, sxx: String) =>
      s"CAST(CAST($n AS HUGEINT) * $sxx - CAST($sx AS HUGEINT) * $sx AS DOUBLE)" +
        s" / CAST(CAST($n AS HUGEINT) * ($n - 1) AS DOUBLE)"
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS n_ev,
       |    count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cem'), 1, 8))::BIGINT % 2 AS INT) AS treat
       |  FROM events GROUP BY user_id),
       |ub AS (SELECT *, n_ev // 10 AS b_act, n_days // 5 AS b_days FROM u),
       |ms AS (
       |  SELECT b_act, b_days FROM ub GROUP BY 1, 2
       |  HAVING sum(treat) > 0 AND sum(1 - treat) > 0),
       |aft AS (SELECT ub.* FROM ub JOIN ms USING (b_act, b_days)),
       |longf AS (
       |  SELECT 'before' AS phase, treat, 'n_ev' AS cov, n_ev AS x FROM ub
       |  UNION ALL SELECT 'before', treat, 'n_days', n_days FROM ub
       |  UNION ALL SELECT 'before', treat, 'cents', cents FROM ub
       |  UNION ALL SELECT 'after', treat, 'n_ev', n_ev FROM aft
       |  UNION ALL SELECT 'after', treat, 'n_days', n_days FROM aft
       |  UNION ALL SELECT 'after', treat, 'cents', cents FROM aft),
       |cells AS (
       |  SELECT phase, cov, treat, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
       |  FROM longf GROUP BY 1, 2, 3),
       |m AS (
       |  SELECT *,
       |    CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT) AS mean_micro,
       |    CASE WHEN n > 1 THEN ${varExpr("n", "sx", "sxx")} ELSE 0.0 END AS varx
       |  FROM cells)
       |SELECT t.phase, t.cov, t.n AS n_t, c.n AS n_c,
       |  t.mean_micro AS mean_t_micro, c.mean_micro AS mean_c_micro,
       |  ${sqlR6("(CAST(t.sx AS DOUBLE) / t.n - CAST(c.sx AS DOUBLE) / c.n) / sqrt((t.varx + c.varx) / 2)")}
       |    AS smd
       |FROM m t JOIN m c
       |  ON t.phase = c.phase AND t.cov = c.cov AND t.treat = 1 AND c.treat = 0
       |ORDER BY t.phase, t.cov""".stripMargin
  }

  /** q291 — Wilson score intervals for per-segment buy rates: the
    * binomial interval that behaves at the extremes (Wald collapses
    * to zero width at p̂∈{0,1} and goes negative near them; Wilson
    * never does — the reason it's the textbook default for
    * conversion dashboards). Counts are exact (customers vs
    * customers-with-orders per market segment, a semi-join); the
    * interval is the one fixed-shape double pipeline — z = 1.96
    * pinned, one sqrt (the q268 budget), every operand either an
    * exact integer or a correctly-rounded quotient of them —
    * mirrored operation-for-operation so both engines produce
    * identical doubles before the r6 fix.
    *
    * Scale shape: one distinct-collapse of orders to buyers, one
    * equi-join onto customer (both sides grow with data — shuffle
    * join is the right plan), one segment rollup; interval
    * arithmetic runs on the 5-row grid. */
  def q291(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val buyers = Tables.orders(s, d).select($"o_custkey").distinct()
      .withColumn("has_order", lit(1L))
    val seg = Tables.customer(s, d)
      .join(buyers, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(coalesce($"has_order", lit(0L))).as("x"))
    val z = 1.96
    val nD = $"n".cast("double"); val xD = $"x".cast("double")
    val phat = xD / nD
    val z2n = lit(z * z) / nD
    val center = (phat + z2n / 2) / (lit(1.0) + z2n)
    val half = (lit(z) / (lit(1.0) + z2n)) *
      sqrt(phat * (lit(1.0) - phat) / nD + lit(z * z) / (nD * nD * 4))
    seg.select($"c_mktsegment", $"n", $"x",
        r6(phat).as("rate"),
        r6(center - half).as("wilson_lo"),
        r6(center + half).as("wilson_hi"))
      .orderBy($"c_mktsegment")
  }

  val q291Sql: String = {
    val nD = "CAST(n AS DOUBLE)"; val xD = "CAST(x AS DOUBLE)"
    val phat = s"($xD / $nD)"
    val z2n = s"((1.96 * 1.96) / $nD)"
    val center = s"(($phat + $z2n / 2) / (1.0 + $z2n))"
    val half = s"((1.96 / (1.0 + $z2n)) * " +
      s"sqrt($phat * (1.0 - $phat) / $nD + (1.96 * 1.96) / ($nD * $nD * 4)))"
    s"""WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
       |seg AS (
       |  SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN b.o_custkey IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS x
       |  FROM customer c LEFT JOIN buyers b ON c.c_custkey = b.o_custkey
       |  GROUP BY 1)
       |SELECT c_mktsegment, n, x,
       |  ${sqlR6(phat)} AS rate,
       |  ${sqlR6(s"($center - $half)")} AS wilson_lo,
       |  ${sqlR6(s"($center + $half)")} AS wilson_hi
       |FROM seg ORDER BY c_mktsegment""".stripMargin
  }

  /** q288 — coarsened exact matching (CEM, Iacus–King–Porro): the
    * matching estimator with no model and no distance metric — users
    * match when their COARSENED covariates (activity decile-ish
    * buckets: total events div 10, active days div 5) are exactly
    * equal. Strata holding both arms contribute n_treated-weighted
    * mean differences; the ATT is one integer division of exact
    * micro sums; strata with treated users but NO controls are
    * reported, not silently dropped (the estimand honesty CEM is
    * about). Every mean is a single micro division; the ATT
    * numerator/denominator are BIGINT sums.
    *
    * Scale shape: one per-user aggregate, one stratum rollup
    * (bounded by the coarsening grid), broadcast-size arithmetic
    * after. The whole estimator is two groupBys — which is the CEM
    * sales pitch at 100 TB: matching via grouping, not pairwise
    * distances. */
  def q288(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(epochDay($"ts")).as("n_days"),
        sum(when($"event_type" === "purchase", floor($"value" * 100))
          .otherwise(0L).cast("long")).as("cents"))
      .select($"user_id", expr("n_ev div 10").as("b_act"),
        expr("n_days div 5").as("b_days"), $"cents",
        (Fx.md5Prefix(concat($"user_id".cast("string"), lit("#cem")), 8) % 2)
          .cast("int").as("treat"))
    val strata = users.groupBy($"b_act", $"b_days")
      .agg(sum(when($"treat" === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when($"treat" === 1, $"cents").otherwise(0L)).as("sum_t"),
        sum(when($"treat" === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when($"treat" === 0, $"cents").otherwise(0L)).as("sum_c"))
      .transform(Fx.materialize)
    val matched = strata.filter($"n_t" > 0 && $"n_c" > 0)
      .withColumn("mean_t_micro", expr("(cast(sum_t as decimal(38,0)) * 1000000) div n_t"))
      .withColumn("mean_c_micro", expr("(cast(sum_c as decimal(38,0)) * 1000000) div n_c"))
      .transform(Fx.materialize)
    val att = matched.agg(
      expr("sum(cast(n_t as decimal(38,0)) * (mean_t_micro - mean_c_micro)) div sum(n_t)")
        .as("att_micro"),
      sum($"n_t").as("n_matched_treated"))
    val unmatched = strata.filter($"n_t" > 0 && $"n_c" === 0)
      .agg(coalesce(sum($"n_t"), lit(0L)).as("n_unmatched_treated"))
    matched.crossJoin(broadcast(att)).crossJoin(broadcast(unmatched))
      .select($"b_act", $"b_days", $"n_t", $"n_c",
        $"mean_t_micro", $"mean_c_micro",
        $"att_micro", $"n_matched_treated", $"n_unmatched_treated")
      .orderBy($"b_act", $"b_days")
  }

  val q288Sql: String =
    """WITH u AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cem'), 1, 8))::BIGINT % 2 AS INT) AS treat
      |  FROM events GROUP BY user_id),
      |strata AS (
      |  SELECT n_ev // 10 AS b_act, n_days // 5 AS b_days,
      |    CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      |    CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS sum_t,
      |    CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      |    CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS sum_c
      |  FROM u GROUP BY 1, 2),
      |matched AS (
      |  SELECT *,
      |    CAST((CAST(sum_t AS HUGEINT) * 1000000) // n_t AS BIGINT) AS mean_t_micro,
      |    CAST((CAST(sum_c AS HUGEINT) * 1000000) // n_c AS BIGINT) AS mean_c_micro
      |  FROM strata WHERE n_t > 0 AND n_c > 0),
      |att AS (
      |  SELECT CAST(sum(CAST(n_t AS HUGEINT) * (mean_t_micro - mean_c_micro))
      |              // sum(n_t) AS BIGINT) AS att_micro,
      |    CAST(sum(n_t) AS BIGINT) AS n_matched_treated
      |  FROM matched),
      |um AS (
      |  SELECT CAST(COALESCE(sum(n_t), 0) AS BIGINT) AS n_unmatched_treated
      |  FROM strata WHERE n_t > 0 AND n_c = 0)
      |SELECT m.b_act, m.b_days, m.n_t, m.n_c, m.mean_t_micro, m.mean_c_micro,
      |  a.att_micro, a.n_matched_treated, um.n_unmatched_treated
      |FROM matched m CROSS JOIN att a CROSS JOIN um
      |ORDER BY m.b_act, m.b_days""".stripMargin

  /** q281 — difference-in-differences readout: the workhorse causal
    * estimate when treatment switches on at a known date. Users
    * assign to arms by the salted-md5 rule; the calendar midpoint
    * ((min_day + max_day) div 2, a bounded-aggregate scalar) splits
    * pre/post; each (arm × period) cell's outcome is total purchase
    * cents over the arm's user count — every user counts in both
    * periods (zero if silent, via the user-universe cross join), so
    * the panel is balanced by construction. Cell means land on the
    * micro grid as one integer division each; the DiD estimate
    * (T_post − T_pre) − (C_post − C_pre) is then a SUBTRACTION OF
    * EXACT INTEGERS — no float enters the causal number. Four cell
    * rows, each carrying the shared estimate.
    *
    * Scale shape: one scan for the day bounds (2-value aggregate),
    * one distinct-collapse to users, one (user × 2-period) grid via
    * a 2-row cross join, one cell rollup; everything after the first
    * aggregates is broadcast-size. */
  def q281(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", epochDay($"ts").as("day"), $"event_type", $"value")
      .transform(Fx.materialize)
    val bounds = ev.agg(min($"day").as("d0"), max($"day").as("d1"))
      .select(expr("(d0 + d1) div 2").as("cut"))
    val users = ev.select($"user_id").distinct()
      .withColumn("treat",
        (Fx.md5Prefix(concat($"user_id".cast("string"), lit("#did")), 8) % 2)
          .cast("int"))
    val periods = s.range(2).toDF("post")
    val panel = users.crossJoin(broadcast(periods))
    val outcomes = ev.filter($"event_type" === "purchase")
      .crossJoin(broadcast(bounds))
      .withColumn("post", ($"day" > $"cut").cast("long"))
      .groupBy($"user_id", $"post")
      .agg(sum(floor($"value" * 100).cast("long")).as("cents"))
    val cells = panel.join(outcomes, Seq("user_id", "post"), "left")
      .groupBy($"treat", $"post")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce($"cents", lit(0L))).as("sum_cents"))
      .withColumn("mean_micro",
        expr("(cast(sum_cents as decimal(38,0)) * 1000000) div n_users"))
      .transform(Fx.materialize)
    val did = cells.groupBy()
      .agg(sum(when($"treat" === 1 && $"post" === 1, $"mean_micro")
          .when($"treat" === 1 && $"post" === 0, -$"mean_micro")
          .when($"treat" === 0 && $"post" === 1, -$"mean_micro")
          .otherwise($"mean_micro")).as("did_micro"))
    cells.crossJoin(broadcast(did))
      .select($"treat", $"post", $"n_users", $"sum_cents", $"mean_micro",
        $"did_micro")
      .orderBy($"treat", $"post")
  }

  val q281Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
      |    event_type, value
      |  FROM events),
      |cut AS (SELECT (min(day) + max(day)) // 2 AS cut FROM ev),
      |users AS (
      |  SELECT DISTINCT user_id,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#did'), 1, 8))::BIGINT % 2 AS INT) AS treat
      |  FROM ev),
      |panel AS (
      |  SELECT u.user_id, u.treat, p.post
      |  FROM users u CROSS JOIN (SELECT CAST(0 AS BIGINT) AS post
      |                           UNION ALL SELECT 1) p),
      |outc AS (
      |  SELECT user_id, CAST(day > cut AS BIGINT) AS post,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM ev CROSS JOIN cut
      |  WHERE event_type = 'purchase'
      |  GROUP BY 1, 2),
      |cells AS (
      |  SELECT p.treat, p.post, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(COALESCE(o.cents, 0)) AS BIGINT) AS sum_cents
      |  FROM panel p
      |  LEFT JOIN outc o ON p.user_id = o.user_id AND p.post = o.post
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT treat, post, n_users, sum_cents,
      |    CAST((CAST(sum_cents AS HUGEINT) * 1000000) // n_users AS BIGINT)
      |      AS mean_micro
      |  FROM cells),
      |did AS (
      |  SELECT CAST(sum(CASE
      |      WHEN treat = 1 AND post = 1 THEN mean_micro
      |      WHEN treat = 1 AND post = 0 THEN -mean_micro
      |      WHEN treat = 0 AND post = 1 THEN -mean_micro
      |      ELSE mean_micro END) AS BIGINT) AS did_micro
      |  FROM m)
      |SELECT m.treat, m.post, m.n_users, m.sum_cents, m.mean_micro,
      |  did.did_micro
      |FROM m CROSS JOIN did
      |ORDER BY m.treat, m.post""".stripMargin

  /** q282 — group-sequential experiment monitoring with
    * O'Brien–Fleming stopping bounds: the fix for the peeking
    * problem. Four equally-spaced interim looks over the experiment
    * calendar (cutoffs are integer arithmetic on the bounded day
    * range); at each look the q268 two-proportion z recomputes on the
    * CUMULATIVE exposures/conversions (users and their interior-rate
    * conversion metric as of that cutoff — both exact integers), and
    * compares against the classic OBF two-sided α=0.05 boundaries
    * for K=4 (4.049, 2.863, 2.337, 2.024 — Jennison & Turnbull,
    * Table 2.3; pinned literals, identical doubles both engines).
    * `stop_look` marks the first boundary crossing, computed over
    * the 4-row look grid.
    *
    * Scale shape: the corpus collapses to the (user × day) grid
    * once; the ×4 look fan-out applies to that collapsed grid (a
    * stated constant), cumulative cells are a (look, user) rollup to
    * 8 integers per look, and the z/boundary arithmetic runs on the
    * 4-row grid. */
  def q282(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val ud = Fx.eventTs(Tables.events(s, d))
      .groupBy($"user_id", epochDay($"ts").as("day"))
      .agg(count(lit(1)).as("n_ev"),
        sum(($"event_type" === "purchase").cast("long")).as("n_purch"))
      .transform(Fx.materialize)
    val bounds = ud.agg(min($"day").as("d0"), max($"day").as("d1"))
    val looks = s.range(1, 5).toDF("look")
      .crossJoin(broadcast(bounds))
      .select($"look",
        ($"d0" + expr("((d1 - d0 + 1) * look) div 4") - 1).as("cut"),
        element_at(
          map(lit(1L), lit(4.049), lit(2L), lit(2.863),
              lit(3L), lit(2.337), lit(4L), lit(2.024)), $"look").as("crit"))
    val cum = ud.crossJoin(broadcast(looks))
      .filter($"day" <= $"cut")
      .groupBy($"look", $"cut", $"crit", $"user_id")
      .agg(sum($"n_ev").as("n_ev"), sum($"n_purch").as("n_purch"))
      .withColumn("conv", ($"n_purch" * 5 > $"n_ev").cast("long"))
      .withColumn("arm",
        when(Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val m = cum.groupBy($"look", $"cut", $"crit").agg(
      sum(when($"arm" === "treatment", 1L).otherwise(0L)).as("nt"),
      sum(when($"arm" === "treatment", $"conv").otherwise(0L)).as("ct"),
      sum(when($"arm" === "control", 1L).otherwise(0L)).as("nc"),
      sum(when($"arm" === "control", $"conv").otherwise(0L)).as("cc"))
    val k = m.select($"look", $"cut", $"crit", $"nt", $"ct", $"nc", $"cc",
      ($"nt" + $"nc").as("n"), ($"ct" + $"cc").as("c"),
      (d38($"ct") * d38($"nc") - d38($"cc") * d38($"nt")).as("dnum"))
    val z = ($"dnum".cast("double") / (d38($"nt") * d38($"nc")).cast("double")) /
      sqrt(
        (d38($"c") * d38($"n" - $"c")).cast("double") /
          (d38($"n") * d38($"n")).cast("double") *
          (($"n").cast("double") / (d38($"nt") * d38($"nc")).cast("double")))
    val ok = $"nt" > 0 && $"nc" > 0 && $"c" > 0 && $"c" < $"n"
    val perLook = k
      .withColumn("z", r6(when(ok, z)))
      .withColumn("reject", when(ok, (abs(z) >= $"crit").cast("int")).otherwise(0))
      .transform(Fx.materialize)
    val stop = perLook.filter($"reject" === 1)
      .agg(min($"look").as("__stop"))
    perLook.crossJoin(broadcast(stop))
      .select($"look", $"cut".as("cut_day"),
        $"nt".as("n_treat"), $"ct".as("conv_treat"),
        $"nc".as("n_ctl"), $"cc".as("conv_ctl"),
        $"z", $"crit", $"reject", $"__stop".as("stop_look"))
      .orderBy($"look")
  }

  val q282Sql: String =
    s"""WITH ud AS (
       |  SELECT user_id,
       |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS day,
       |    count(*) AS n_ev,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
       |looks AS (
       |  SELECT look, d0 + ((d1 - d0 + 1) * look) // 4 - 1 AS cut,
       |    CASE look WHEN 1 THEN 4.049 WHEN 2 THEN 2.863
       |              WHEN 3 THEN 2.337 ELSE 2.024 END AS crit
       |  FROM (SELECT CAST(1 AS BIGINT) AS look UNION ALL SELECT 2
       |        UNION ALL SELECT 3 UNION ALL SELECT 4) l CROSS JOIN b),
       |cum AS (
       |  SELECT l.look, l.cut, l.crit, ud.user_id,
       |    CAST(sum(ud.n_purch) * 5 > sum(ud.n_ev) AS BIGINT) AS conv,
       |    CASE WHEN ('0x' || substr(md5(CAST(ud.user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm
       |  FROM ud CROSS JOIN looks l
       |  WHERE ud.day <= l.cut
       |  GROUP BY 1, 2, 3, 4),
       |m AS (
       |  SELECT look, cut, crit,
       |    sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS nt,
       |    sum(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END) AS ct,
       |    sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS nc,
       |    sum(CASE WHEN arm = 'control' THEN conv ELSE 0 END) AS cc
       |  FROM cum GROUP BY 1, 2, 3),
       |k AS (
       |  SELECT look, cut, crit, nt, ct, nc, cc, nt + nc AS n, ct + cc AS c,
       |    CAST(ct AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nt AS dnum
       |  FROM m),
       |zt AS (
       |  SELECT *,
       |    (CAST(dnum AS DOUBLE) / CAST(CAST(nt AS HUGEINT) * nc AS DOUBLE)) /
       |    sqrt(CAST(CAST(c AS HUGEINT) * (n - c) AS DOUBLE) /
       |           CAST(CAST(n AS HUGEINT) * n AS DOUBLE) *
       |         (CAST(n AS DOUBLE) / CAST(CAST(nt AS HUGEINT) * nc AS DOUBLE))) AS zval,
       |    (nt > 0 AND nc > 0 AND c > 0 AND c < n) AS ok
       |  FROM k),
       |pl AS (
       |  SELECT look, cut, nt, ct, nc, cc, crit,
       |    ${sqlR6("CASE WHEN ok THEN zval END")} AS z,
       |    CASE WHEN ok THEN CAST(abs(zval) >= crit AS INT) ELSE 0 END AS reject
       |  FROM zt),
       |st AS (SELECT min(CASE WHEN reject = 1 THEN look END) AS stop_look FROM pl)
       |SELECT pl.look, pl.cut AS cut_day,
       |  CAST(pl.nt AS BIGINT) AS n_treat, CAST(pl.ct AS BIGINT) AS conv_treat,
       |  CAST(pl.nc AS BIGINT) AS n_ctl, CAST(pl.cc AS BIGINT) AS conv_ctl,
       |  pl.z, pl.crit, pl.reject, st.stop_look
       |FROM pl CROSS JOIN st
       |ORDER BY pl.look""".stripMargin

  /** q319 — iterative proportional fitting (raking) of the
    * segment × priority order grid to uniform target margins: the
    * survey-weighting workhorse (post-stratification when only the
    * MARGINS of the population are known, never the joint). Weights
    * start at 1 on the micro grid and two full row/column scaling
    * rounds run as exact integer arithmetic — each scaling factor is
    * one truncating division of micro-scaled totals, each weight
    * update one multiply + renormalizing division, so both engines
    * walk bit-identical weight sequences (the float-free analogue of
    * statsmodels' rake). Emits the fitted cell weights plus the
    * achieved row/column margins against the shared target — the
    * residual misfit after 2 rounds is part of the readout (IPF
    * converges geometrically; stopping early is the stated
    * semantics, as q265 does for value iteration).
    *
    * Scale shape: one corpus join collapses to the 25-cell grid; all
    * four scalings are windows over that bounded grid (the q258
    * convention). */
  def q319(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderpriority".as("priority"))
      .join(Tables.customer(s, d)
        .select($"c_custkey".as("o_custkey"), $"c_mktsegment".as("segment")),
        "o_custkey")
      .groupBy($"segment", $"priority")
      .agg(count(lit(1)).as("n"))
      .withColumn("t", sum($"n").over(Window.partitionBy(lit(1))))
      .withColumn("w", lit(1000000L))
    // the target·10¹² scaling product rides DECIMAL(38,0): on BIGINT
    // it would overflow once a margin holds ~4.6e6 orders (silent
    // wrap in Spark, error in DuckDB — the q324/q334 discipline)
    val raked = (1 to 2).foldLeft(cells) { (cur, _) =>
      cur
        .withColumn("wr", sum($"n" * $"w").over(Window.partitionBy($"segment")))
        .withColumn("w", expr(
          """cast((w * ((cast(t div 5 as decimal(38,0)) * 1000000000000)
             div wr)) div 1000000 as bigint)"""))
        .drop("wr")
        .withColumn("wc", sum($"n" * $"w").over(Window.partitionBy($"priority")))
        .withColumn("w", expr(
          """cast((w * ((cast(t div 5 as decimal(38,0)) * 1000000000000)
             div wc)) div 1000000 as bigint)"""))
        .drop("wc")
    }
    raked
      .withColumn("row_margin_micro",
        sum($"n" * $"w").over(Window.partitionBy($"segment")))
      .withColumn("col_margin_micro",
        sum($"n" * $"w").over(Window.partitionBy($"priority")))
      .select($"segment", $"priority", $"n", $"w".as("weight_micro"),
        $"row_margin_micro", $"col_margin_micro",
        expr("(t div 5) * 1000000").as("target_margin_micro"))
      .orderBy($"segment", $"priority")
  }

  val q319Sql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |t0 AS (
      |  SELECT segment, priority, n,
      |    CAST(sum(n) OVER () AS BIGINT) AS t,
      |    CAST(1000000 AS BIGINT) AS w
      |  FROM cells),
      |r1 AS (
      |  SELECT segment, priority, n, t,
      |    CAST((w * ((CAST(t // 5 AS HUGEINT) * 1000000000000) //
      |      CAST(sum(n * w) OVER (PARTITION BY segment) AS BIGINT))) // 1000000 AS BIGINT) AS w
      |  FROM t0),
      |c1 AS (
      |  SELECT segment, priority, n, t,
      |    CAST((w * ((CAST(t // 5 AS HUGEINT) * 1000000000000) //
      |      CAST(sum(n * w) OVER (PARTITION BY priority) AS BIGINT))) // 1000000 AS BIGINT) AS w
      |  FROM r1),
      |r2 AS (
      |  SELECT segment, priority, n, t,
      |    CAST((w * ((CAST(t // 5 AS HUGEINT) * 1000000000000) //
      |      CAST(sum(n * w) OVER (PARTITION BY segment) AS BIGINT))) // 1000000 AS BIGINT) AS w
      |  FROM c1),
      |c2 AS (
      |  SELECT segment, priority, n, t,
      |    CAST((w * ((CAST(t // 5 AS HUGEINT) * 1000000000000) //
      |      CAST(sum(n * w) OVER (PARTITION BY priority) AS BIGINT))) // 1000000 AS BIGINT) AS w
      |  FROM r2)
      |SELECT segment, priority, n, w AS weight_micro,
      |  CAST(sum(n * w) OVER (PARTITION BY segment) AS BIGINT)
      |    AS row_margin_micro,
      |  CAST(sum(n * w) OVER (PARTITION BY priority) AS BIGINT)
      |    AS col_margin_micro,
      |  (t // 5) * 1000000 AS target_margin_micro
      |FROM c2 ORDER BY segment, priority""".stripMargin

  /** q396 — ROC AUC of a score for a binary outcome by the exact
    * rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁·n₀) with
    * average-rank tie handling — the threshold-free ordering-quality
    * readout the eval stack lacked (q392's gains table fixes decile
    * cuts, q318 calibrates probabilities; AUC scores the pure
    * ranking). Outcome: the line item was returned (l_returnflag =
    * 'R'); score: the discount grid — "does a deeper discount predict
    * a return?", reported per l_linestatus. Exact end-to-end: the
    * score collapses to its 11-value cent grid, so tied ranks are the
    * grid identity avg_rank(v) = cum_before(v) + (c(v)+1)/2; doubling
    * clears the half — 2·R₁ = Σ c₁(v)·(2·cum_before(v) + c(v) + 1) is
    * an exact integer — and AUC_micro = (1e6·(2R₁ − n₁(n₁+1))) div
    * (2·n₁·n₀) is one truncating DECIMAL division, identical both
    * engines (q363's div discipline; DECIMAL because n₁² overflows
    * int64 beyond ~3e9 positives).
    *
    * Scale shape: one aggregate to the (group × grid-value) cells
    * (≤ groups·11 rows), a window over that bounded grid, a 2-row
    * rollup — the corpus is scanned once, nothing quadratic. */
  def q396(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .select($"l_linestatus".as("ls"),
        floor($"l_discount" * 100 + lit(0.5)).cast("long").as("v"),
        ($"l_returnflag" === "R").cast("long").as("y"))
      .groupBy($"ls", $"v")
      .agg(count(lit(1)).as("c"), sum($"y").as("c1"))
    val w = Window.partitionBy($"ls").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cumb", coalesce(sum($"c").over(w), lit(0L)))
      .groupBy($"ls")
      .agg(sum(expr("cast(c1 as decimal(38,0)) * (2 * cumb + c + 1)")).as("r2x"),
        sum($"c1").as("n1"), sum($"c" - $"c1").as("n0"))
      .select($"ls", $"n1", $"n0",
        expr("""cast(((r2x - cast(n1 as decimal(38,0)) * (n1 + 1)) * 1000000)
               div (2 * cast(n1 as decimal(38,0)) * n0) as bigint)""")
          .as("auc_micro"))
      .orderBy($"ls")
  }

  val q396Sql: String =
    """WITH cells AS (
      |  SELECT l_linestatus AS ls,
      |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT ls, v, c, c1,
      |    COALESCE(sum(c) OVER (PARTITION BY ls ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM cells),
      |agg AS (
      |  SELECT ls,
      |    sum(CAST(c1 AS HUGEINT) * (2 * cumb + c + 1)) AS r2x,
      |    CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c - c1) AS BIGINT) AS n0
      |  FROM cum GROUP BY ls)
      |SELECT ls, n1, n0,
      |  CAST(((r2x - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000)
      |    // (2 * CAST(n1 AS HUGEINT) * n0) AS BIGINT) AS auc_micro
      |FROM agg ORDER BY ls""".stripMargin

  /** q397 — E-value sensitivity analysis (VanderWeele & Ding 2017)
    * for q243's A/B conversion readout: the minimum risk ratio an
    * UNMEASURED confounder must carry with BOTH the arm and the
    * outcome to fully explain the observed effect away —
    * E = RR* + √(RR*·(RR*−1)) on the null-away ratio RR* = max(RR,
    * 1/RR). The robustness companion the causal suite lacked: q243
    * reports the lift, q268 its sampling z; the E-value answers "how
    * big a lurking confounder kills it?" (E ≈ 1 ⇒ fragile).
    * Determinism: arm counts are exact integers under the salted-md5
    * assignment; RR = (c₁/n₁)/(c₀/n₀) is two correctly-rounded IEEE
    * divisions of exact integers in a FIXED tree, √ is correctly
    * rounded by IEEE mandate (q268's precedent), outputs r6-rounded.
    *
    * Scale shape: one per-user aggregate, a 2-row arm rollup, scalar
    * math — q243's exact shape plus four IEEE ops. */
  def q397(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val arms = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("long")).as("conv"))
      .withColumn("t",
        (Fx.md5Prefix(concat($"user_id".cast("string"), lit("#exp1")), 8) % 2 =!= 0).cast("long"))
      .agg(
        sum(when($"t" === 1L, $"conv")).as("c1"),
        sum($"t").as("n1"),
        sum(when($"t" === 0L, $"conv")).as("c0"),
        sum(lit(1L) - $"t").as("n0"))
    arms
      .withColumn("rr",
        ($"c1".cast("double") / $"n1".cast("double")) /
          ($"c0".cast("double") / $"n0".cast("double")))
      .withColumn("rrstar",
        when($"rr" >= 1.0, $"rr").otherwise(lit(1.0) / $"rr"))
      .select($"c1", $"n1", $"c0", $"n0",
        r6($"rr").as("rr"),
        r6($"rrstar" + sqrt($"rrstar" * ($"rrstar" - 1.0))).as("evalue"),
        when($"rr" >= 1.0, lit("harmful")).otherwise(lit("protective"))
          .as("direction"))
  }

  val q397Sql: String = {
    import graft.Fx.sqlR6
    val rr = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / " +
      "(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
       |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'), 1, 8))::BIGINT % 2 <> 0
       |         THEN 1 ELSE 0 END AS t
       |  FROM events GROUP BY user_id),
       |a AS (
       |  SELECT CAST(sum(CASE WHEN t = 1 THEN conv END) AS BIGINT) AS c1,
       |    CAST(sum(t) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN t = 0 THEN conv END) AS BIGINT) AS c0,
       |    CAST(sum(1 - t) AS BIGINT) AS n0
       |  FROM u),
       |r AS (
       |  SELECT c1, n1, c0, n0, $rr AS rr,
       |    CASE WHEN $rr >= 1.0 THEN $rr ELSE 1.0 / ($rr) END AS rrstar
       |  FROM a)
       |SELECT c1, n1, c0, n0, ${sqlR6("rr")} AS rr,
       |  ${sqlR6("rrstar + sqrt(rrstar * (rrstar - 1.0))")} AS evalue,
       |  CASE WHEN rr >= 1.0 THEN 'harmful' ELSE 'protective' END AS direction
       |FROM r""".stripMargin
  }

  // ------------------------------------------------------------------
  // q549 — Markov removal-effect channel attribution
  // ------------------------------------------------------------------

  /** The pinned transient-state enum for q549 (alphabetical). */
  private val mkChannels = Seq("click", "error", "signup", "view")

  /** Determinant by Laplace expansion over a square matrix of SQL
    * expression strings (bounded ≤ 4×4 here — 24 product terms). */
  private def detSql(m: Vector[Vector[String]]): String =
    if (m.size == 1) m(0)(0)
    else (0 until m.size).map { j =>
      val minor = m.tail.map(row => row.patch(j, Nil, 1))
      val sign = if (j % 2 == 0) "+" else "-"
      s"$sign (${m(0)(j)}) * ${detSql(minor)}"
    }.mkString("(", " ", ")")

  /** Exact BigInt determinant, same expansion (driver fold). */
  private def detBig(m: Vector[Vector[BigInt]]): BigInt =
    if (m.size == 1) m(0)(0)
    else (0 until m.size).map { j =>
      val minor = m.tail.map(row => row.patch(j, Nil, 1))
      val t = m(0)(j) * detBig(minor)
      if (j % 2 == 0) t else -t
    }.sum

  /** q549 — Markov REMOVAL-EFFECT channel attribution (Anderl et al.
    * 2014), the chain-based standard beside q276's Shapley: journeys
    * are each user's events truncated at the FIRST purchase (stated;
    * non-converters run to a terminal 'end' state), the first-order
    * transition counts define an absorbing chain over the pinned
    * transient enum {click, error, signup, view} plus start/purchase/
    * end, and each channel's credit is its removal effect — how much
    * the start→purchase absorption probability drops when flows into
    * that channel are redirected to 'end' (drop the channel's row and
    * column) — normalized into shares. Absorption solves EXACTLY by
    * Cramer on the INTEGER system (diag(n)−C)·a = c_purchase (no
    * per-step iteration truncation — where q488's steps readout uses
    * the 12-iteration convention, here the 4×4/3×3 determinants are
    * exact); each aᵢ is ONE stated micro truncation 10⁶·det_i div det,
    * a_start composes them over the exact start flows (stated), the
    * removal effect is one further stated truncation clamped at 0
    * (composed truncations can leave O(1µ) noise), and shares divide
    * exact micro integers. States with no outflow are absorbing with
    * a = 0 (q488's convention, stated); singular or start-less
    * systems degrade to NULL. Overflow discipline: all cells are
    * pre-scaled by g = 1 + N div 10⁷ (stated integer division; g = 1
    * at every shipped SF), so the 4×4 determinant ≤ 24·(2·10⁷)⁴
    * ≈ 4·10³⁰ and the 10⁶-scaled Cramer quotient stay inside
    * HUGEINT/BigInt range at ANY corpus size. Determinants are
    * non-negative by weak diagonal dominance of the Z-matrix (row
    * sums include the absorbing outflows), so floor and
    * truncate-toward-zero division agree across engines.
    *
    * Scale shape: journey truncation and lag transitions are per-user
    * windows (q226's shape); the collapsed grid is ≤ 7×7 cells —
    * bounded by the type enum — and folds on the driver (the
    * documented q270 bounded-grid exception); the oracle replays the
    * identical arithmetic through generated determinant SQL. */
  def q549(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wU = Window.partitionBy($"user_id")
    val wOrd = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wDesc = Window.partitionBy($"user_id")
      .orderBy($"us".desc, $"event_id".desc)
    val ev = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
      .withColumn("fp", min(when($"event_type" === "purchase",
        struct($"us", $"event_id"))).over(wU))
      .filter($"fp".isNull || struct($"us", $"event_id") <= $"fp")
    val seqd = ev.withColumn("prev", lag($"event_type", 1).over(wOrd))
      .withColumn("last1", row_number().over(wDesc))
      .transform(Fx.materialize)
    val steps = seqd.select(coalesce($"prev", lit("start")).as("src"),
        $"event_type".as("dst"))
      .union(seqd.filter($"last1" === 1 && $"event_type" =!= "purchase")
        .select($"event_type".as("src"), lit("end").as("dst")))
    val cells = steps.groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    Fx.free(seqd)
    val nTot = cells.map(_._3).sum
    val g = 1L + nTot / 10000000L
    val cm = cells.map { case (a, b, n) => (a, b) -> n / g }
      .filter(_._2 > 0L).toMap.withDefaultValue(0L)
    val sinks = Seq("purchase", "end")
    def outSum(i: String): Long =
      (mkChannels ++ sinks).map(j => cm((i, j))).sum
    /** micro absorption per kept transient state, None when singular */
    def aMicro(keep: Seq[String]): Option[Map[String, Long]] = {
      val n = keep.map(outSum)
      val m = keep.indices.map { i =>
        keep.indices.map { j =>
          if (i == j) {
            if (n(i) == 0L) BigInt(1)
            else BigInt(n(i)) - cm((keep(i), keep(j)))
          } else -BigInt(cm((keep(i), keep(j))))
        }.toVector
      }.toVector
      val p = keep.map(t => BigInt(cm((t, "purchase")))).toVector
      val det = detBig(m)
      if (det == 0) None
      else Some(keep.indices.map { i =>
        val mi = m.indices.map(r => m(r).updated(i, p(r))).toVector
        keep(i) -> (BigInt(1000000) * detBig(mi) / det).toLong
      }.toMap)
    }
    val nStart = outSum("start")
    def aStart(am: Map[String, Long], keep: Seq[String]): Option[Long] =
      if (nStart == 0L) None
      else Some(((BigInt(cm(("start", "purchase"))) * 1000000 +
        keep.map(j => BigInt(cm(("start", j))) * am(j)).sum) / nStart)
        .toLong)
    val aFull = aMicro(mkChannels).flatMap(aStart(_, mkChannels))
    val removed: Map[String, Option[Long]] = mkChannels.map { k =>
      val keep = mkChannels.filterNot(_ == k)
      k -> aMicro(keep).flatMap(aStart(_, keep))
    }.toMap
    val re: Map[String, Option[Long]] = mkChannels.map { k =>
      k -> (for (af <- aFull; ar <- removed(k); if af > 0L)
        yield math.max(0L, 1000000L - ar * 1000000L / af))
    }.toMap
    // share defined only when EVERY removal effect is (the oracle's
    // NULL-propagating sum) and the total is positive
    val reSum: Option[Long] =
      if (re.values.forall(_.isDefined)) Some(re.values.flatten.sum)
      else None
    val rows = mkChannels.map { k =>
      org.apache.spark.sql.Row(k, outSum(k),
        aFull.map(java.lang.Long.valueOf).orNull,
        removed(k).map(java.lang.Long.valueOf).orNull,
        re(k).map(java.lang.Long.valueOf).orNull,
        (for (v <- re(k); t <- reSum; if t > 0L)
          yield java.lang.Long.valueOf(v * 1000000L / t)).orNull)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("channel",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_out",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("a_full_micro",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("a_removed_micro",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("removal_micro",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("share_micro",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
      .orderBy($"channel")
  }

  val q549Sql: String = {
    val T = mkChannels
    val allDst = T ++ Seq("purchase", "end")
    // pivot columns c_<src>_<dst> for src in start::T
    val piv = ("start" +: T).flatMap { i =>
      allDst.map { j =>
        s"""CAST(coalesce(sum(CASE WHEN src = '$i' AND dst = '$j' THEN n
           | ELSE 0 END), 0) AS HUGEINT) AS c_${i}_$j"""
          .stripMargin.replace("\n", "")
      }
    }.mkString(",\n  ")
    def nExpr(i: String): String =
      allDst.map(j => s"c_${i}_$j").mkString("(", " + ", ")")
    def mm(keep: Seq[String]): Vector[Vector[String]] =
      keep.indices.map { i =>
        keep.indices.map { j =>
          if (i == j)
            s"(CASE WHEN ${nExpr(keep(i))} = 0 THEN 1 " +
              s"ELSE ${nExpr(keep(i))} - c_${keep(i)}_${keep(j)} END)"
          else s"(0 - c_${keep(i)}_${keep(j)})"
        }.toVector
      }.toVector
    def pv(keep: Seq[String]): Vector[String] =
      keep.map(t => s"c_${t}_purchase").toVector
    // per system (full or one removal): det + per-state a_micro exprs
    def aCols(tag: String, keep: Seq[String]): Seq[String] = {
      val m = mm(keep); val p = pv(keep)
      val det = detSql(m)
      s"$det AS det_$tag" +: keep.indices.map { i =>
        val mi = m.indices.map(r => m(r).updated(i, p(r))).toVector
        s"${detSql(mi)} AS det_${tag}_${keep(i)}"
      }
    }
    val systems = ("full" -> T) +: T.map(k => s"no_$k" -> T.filterNot(_ == k))
    val detCols = systems.flatMap { case (tag, keep) => aCols(tag, keep) }
      .mkString(",\n  ")
    val aDefs = systems.flatMap { case (tag, keep) =>
      keep.map(st =>
        s"1000000 * det_${tag}_$st // nullif(det_$tag, 0) AS a_${tag}_$st")
    }.mkString(",\n  ")
    val nsExpr = nExpr("start")
    def aStartExpr(tag: String, keep: Seq[String]): String = {
      val terms = keep.map(j => s"c_start_$j * a_${tag}_$j")
        .mkString(" + ")
      s"(1000000 * c_start_purchase + $terms) // nullif($nsExpr, 0)"
    }
    val asDefs = (s"${aStartExpr("full", T)} AS as_full" +:
      T.map(k =>
        s"${aStartExpr(s"no_$k", T.filterNot(_ == k))} AS as_no_$k"))
      .mkString(",\n  ")
    // DuckDB's greatest() IGNORES NULLs (greatest(0, NULL) = 0), so the
    // singular/start-less NULL from as_full/as_no_k — and the driver's
    // `af > 0` guard — must be propagated explicitly or the mirror
    // would emit 0 where the driver emits NULL.
    val reDefs = T.map(k =>
      s"CASE WHEN as_full IS NULL OR as_no_$k IS NULL OR as_full <= 0 " +
        s"THEN NULL ELSE greatest(0, 1000000 - as_no_$k * 1000000 " +
        s"// as_full) END AS re_$k").mkString(",\n  ")
    val reSum = T.map(k => s"re_$k").mkString("(", " + ", ")")
    val rows = T.map { k =>
      s"""SELECT '$k' AS channel, CAST(${nExpr(k)} AS BIGINT) AS n_out,
         |  CAST(as_full AS BIGINT) AS a_full_micro,
         |  CAST(as_no_$k AS BIGINT) AS a_removed_micro,
         |  CAST(re_$k AS BIGINT) AS removal_micro,
         |  CAST(re_$k * 1000000 // nullif($reSum, 0) AS BIGINT)
         |    AS share_micro
         |FROM res""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
       |    event_type
       |  FROM events),
       |firstp AS (
       |  SELECT user_id, us AS pus, event_id AS pid FROM (
       |    SELECT user_id, us, event_id, row_number() OVER (
       |      PARTITION BY user_id ORDER BY us, event_id) AS rn
       |    FROM e WHERE event_type = 'purchase') t
       |  WHERE rn = 1),
       |trunc AS (
       |  SELECT e.* FROM e LEFT JOIN firstp USING (user_id)
       |  WHERE pus IS NULL OR (e.us, e.event_id) <= (pus, pid)),
       |seqd AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS prev,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY us DESC, event_id DESC) AS last1
       |  FROM trunc),
       |steps AS (
       |  SELECT coalesce(prev, 'start') AS src, event_type AS dst FROM seqd
       |  UNION ALL
       |  SELECT event_type, 'end' FROM seqd
       |  WHERE last1 = 1 AND event_type <> 'purchase'),
       |cells AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM steps GROUP BY 1, 2),
       |gg AS (SELECT 1 + CAST(sum(n) AS BIGINT) // 10000000 AS g
       |       FROM cells),
       |sc AS (SELECT src, dst, n // g AS n FROM cells CROSS JOIN gg
       |       WHERE n // g > 0),
       |piv AS (SELECT
       |  $piv
       |FROM sc),
       |dets AS (SELECT *,
       |  $detCols
       |FROM piv),
       |avals AS (SELECT *,
       |  $aDefs
       |FROM dets),
       |astart AS (SELECT *,
       |  $asDefs
       |FROM avals),
       |res AS (SELECT *,
       |  $reDefs
       |FROM astart)
       |$rows
       |ORDER BY channel""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q549_markov_attribution", q549, Some(q549Sql)),
    QueryDef("q396_roc_auc", q396, Some(q396Sql)),
    QueryDef("q397_evalue_sensitivity", q397, Some(q397Sql)),
    QueryDef("q319_ipf_raking", q319, Some(q319Sql)),
    QueryDef("q278_conformal_intervals", q278, Some(q278Sql)),
    QueryDef("q281_diff_in_diff", q281, Some(q281Sql)),
    QueryDef("q282_sequential_monitoring", q282, Some(q282Sql)),
    QueryDef("q288_cem_att", q288, Some(q288Sql)),
    QueryDef("q291_wilson_intervals", q291, Some(q291Sql)),
    QueryDef("q294_smd_balance", q294, Some(q294Sql)),
    QueryDef("q302_mde_power", q302, Some(q302Sql)),
    QueryDef("q247_association_rules", q247, Some(q247Sql)),
    QueryDef("q246_fpgrowth_itemsets", q246, Some(q246Sql)),
    QueryDef("q245_prefixspan_patterns", q245, Some(q245Sql)),
    QueryDef("q243_ab_readout", q243, Some(q243Sql)),
    QueryDef("q355_delta_method_ratio", q355, Some(q355Sql)),
    QueryDef("q362_simpsons_audit", q362, Some(q362Sql)),
    QueryDef("q366_mediation", q366, Some(q366Sql)),
    QueryDef("q367_qte_deciles", q367, Some(q367Sql)),
    QueryDef("q369_iv_wald", q369, Some(q369Sql)),
    QueryDef("q371_regression_discontinuity", q371, Some(q371Sql)),
    QueryDef("q392_gains_table", q392, Some(q392Sql)),
    QueryDef("q257_cuped_readout", q257, Some(q257Sql)),
    QueryDef("q268_two_proportion_z", q268, Some(q268Sql)),
    QueryDef("q272_srm_audit", q272, Some(q272Sql)),
    QueryDef("q236_journey_paths", q236, Some(q236Sql)),
    QueryDef("q226_markov_transitions", q226, Some(q226Sql)),
    QueryDef("q415_entropy_rate", q415, Some(q415Sql)),
    QueryDef("q223_apriori_triples", q223, Some(q223Sql)),
    QueryDef("q197_interval_overlap", q197, Some(q197Sql), bench = true),
    QueryDef("q199_weighted_median", q199, Some(q199Sql)),
    QueryDef("q200_audience_overlap", q200, Some(q200Sql), bench = true),
    QueryDef("q201_bigram_lift", q201, Some(q201Sql)),
    QueryDef("q203_trend_outliers", q203, Some(q203Sql)),
    QueryDef("q204_copurchase_lift", q204, Some(q204Sql)),
    QueryDef("q205_session_overlap", q205, Some(q205Sql), bench = true),
    QueryDef("q208_interorder_gaps", q208, Some(q208Sql)),
    QueryDef("q212_scd2_enrichment", q212, Some(q212Sql), bench = true))
}
