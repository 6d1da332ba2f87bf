package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 second batch: the remaining classical-inference families
  * the registry lacked, each placed beside its existing relative —
  * location/scale/dependence (Mood q467, Hodges–Lehmann+Cliff q468,
  * γ/Somers q469, Cucconi q483, Sₙ q484, Hoeffding's D q479),
  * randomness/complexity (turning points q470, records q485, LZ76
  * q481), agreement (Cohen's κ q471, Lin's CCC q472), sequential
  * monitoring (EWMA q473, SPRT q474), volatility (ARCH LM q478),
  * symmetry (Bowker q475), decomposition (Oaxaca–Blinder q486),
  * spatial hotspots (Getis–Ord G* q489), sequence alignment (DTW
  * q480), sketch-based planning (KMV NDV q476, bloom advisor q482),
  * chain pricing (absorption steps q488), and corpus/sampling audits
  * (Gries' DP q477, split leakage q487, length bias q490).
  *
  * Exactness discipline (the q334/q448/q460 conventions): counts and
  * moment sums are exact BIGINT / DECIMAL(38,0) / HUGEINT; every
  * reported statistic is ONE truncating micro-division of exact
  * integers (or a stated per-cell truncation then an integer sum);
  * verdicts compare micro integers against pinned χ²/z critical
  * literals. No float crosses the engine boundary un-gridded.
  *
  * Scale shapes: global order statistics (the grand median, the HL
  * median) ride the VALUE-GRID + Ranking.groupRunningSum distributed
  * prefix (the q310/q456 pattern — never a global row window over a
  * corpus-growing relation); concordance runs on the bounded
  * priority×band CELL grid (≤5×6 cells), never the row pair grid;
  * turning points lag/lead over the calendar-bounded day grid.
  */
object InferenceQueries {
  import Fx._

  /** Exact cents of a money column. */
  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** Nearest-rank global order statistic on a value grid: given
    * (v, cnt) rows, returns the 1-row frame with the k-th smallest
    * value where k = (N+1) div 2 (lower median). Distributed prefix
    * via [[Ranking.groupRunningSum]] with an EMPTY group — no global
    * row window, scales to any value-domain size. */
  private def gridMedian(grid: DataFrame, v: String, cnt: String): DataFrame = {
    val run = Ranking.groupRunningSum(grid, Seq(), 32, cnt, col(v))
    val tot = grid.agg(sum(col(cnt)).as("n"))
    run.crossJoin(broadcast(tot))
      .filter(col("run_before") + col(cnt) >= expr("(n + 1) div 2"))
      .agg(min(col(v)).as("m"))
  }

  /** KMV partial aggregate: per partition, the k smallest DISTINCT
    * values of `h` per group — bounded TreeSet state (≤ k entries per
    * group per task), ONE pass, emits ≤ k rows per (partition,
    * group). The global k smallest distinct hashes are exactly the k
    * smallest distinct of this union (any hash among the global
    * k-smallest-distinct is among its own partition's
    * k-smallest-distinct), so a `.distinct()` + top-k over the tiny
    * union reproduces the full-data answer while the shuffle carries
    * O(k·partitions·groups) rows instead of the value domain — the
    * difference between a sketch and a COUNT(DISTINCT) at 100 TB.
    * mapPartitions is the honest implementation of bounded
    * sketch state here (no Catalyst aggregate exists for k-min-set). */
  private def kMinDistinct(df: DataFrame, group: String, h: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(group), col(h)).as[(String, Long)].mapPartitions { it =>
      val sets = scala.collection.mutable.Map.empty[String, java.util.TreeSet[java.lang.Long]]
      it.foreach { case (g, hv) =>
        val s = sets.getOrElseUpdate(g, new java.util.TreeSet[java.lang.Long]())
        val boxed = java.lang.Long.valueOf(hv)
        if (s.size < k) { s.add(boxed); () }
        else if (hv < s.last && !s.contains(boxed)) {
          s.add(boxed); s.pollLast(); ()
        }
      }
      sets.iterator.flatMap { case (g, s) =>
        scala.jdk.javaapi.CollectionConverters.asScala(s.iterator())
          .map(v => (g, v.longValue()))
      }
    }.toDF(group, h)
  }

  /** χ²(df) 5% critical values, micro-pinned (the q409 ladder + df
    * 8..10). */
  private val chiCritSql =
    """cast(case df when 1 then 3841459 when 2 then 5991465
       when 3 then 7814728 when 4 then 9487729 when 5 then 11070498
       when 6 then 12591587 when 7 then 14067140 when 8 then 15507313
       when 9 then 16918978 else 18307038 end as bigint)"""
  private val chiCritDuck =
    """CAST(CASE df WHEN 1 THEN 3841459 WHEN 2 THEN 5991465
      WHEN 3 THEN 7814728 WHEN 4 THEN 9487729 WHEN 5 THEN 11070498
      WHEN 6 THEN 12591587 WHEN 7 THEN 14067140 WHEN 8 THEN 15507313
      WHEN 9 THEN 16918978 ELSE 18307038 END AS BIGINT)"""

  // ------------------------------------------------------------------
  // q467 — Mood's median test across market segments
  // ------------------------------------------------------------------

  /** q467 — Mood's median test of order totals across the five market
    * segments: dichotomize every order at the GRAND nearest-rank
    * median (ties ≤ median go below — stated), then χ² on the 2×k
    * above/below contingency. The median-robust omnibus beside
    * Kruskal–Wallis q334: it asks only "do segments differ around the
    * common median", immune to tail shape, which is exactly the
    * question when order-value distributions are heavy-tailed.
    * Exactness: the grand median is an exact nearest-rank cent value
    * (value-grid + distributed prefix, q310 shape); χ² is the stated
    * per-cell truncation Σ floor(10⁶·(O·N−R·C)²/(N·R·C)) on
    * DECIMAL(38,0) (O·N ≈ 4.5e9 at sf0.1 → squares ≈ 2e19 exceed
    * BIGINT); verdict vs the pinned χ²(k−1) ladder. Degenerate
    * all-one-side data (R_above = 0 or R_below = 0) → NULL χ², the
    * q351 convention. Two fact passes by design: a global order
    * statistic then a classify-count — each one scan with pushdown,
    * never a collected sort. */
  def q467(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val oc = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), cents($"o_totalprice").as("c"))
    val grid = oc.groupBy($"c").agg(count(lit(1)).as("cnt"))
    val med = gridMedian(grid, "c", "cnt")
    // materialized: the 5-row segment grid feeds THREE consumers
    // (totals, chi, final projection) — without it each consumer
    // recomputes the orders⋈customer scan (12 scans → 4 in the plan)
    val cells = oc.crossJoin(broadcast(med))
      .groupBy($"seg")
      .agg(sum(when($"c" > $"m", 1L).otherwise(0L)).as("n_above"),
        sum(when($"c" <= $"m", 1L).otherwise(0L)).as("n_below"))
      .transform(Fx.materialize)
    val totals = cells.agg(
      sum($"n_above").as("ra"), sum($"n_below").as("rb"),
      sum($"n_above" + $"n_below").as("n"), count(lit(1)).as("k"))
    val chi = cells.crossJoin(broadcast(totals))
      .select(when($"ra" === 0 || $"rb" === 0, lit(null).cast("long"))
        .otherwise(expr(
          """((cast(n_above as decimal(38,0)) * n
              - cast(ra as decimal(38,0)) * (n_above + n_below))
             * (cast(n_above as decimal(38,0)) * n
              - cast(ra as decimal(38,0)) * (n_above + n_below)) * 1000000)
             div (cast(n as decimal(38,0)) * ra * (n_above + n_below))
           + ((cast(n_below as decimal(38,0)) * n
              - cast(rb as decimal(38,0)) * (n_above + n_below))
             * (cast(n_below as decimal(38,0)) * n
              - cast(rb as decimal(38,0)) * (n_above + n_below)) * 1000000)
             div (cast(n as decimal(38,0)) * rb * (n_above + n_below))"""))
        .as("term"), ($"k" - 1).as("df"))
      .groupBy($"df").agg(sum($"term").as("chi2_micro"))
      .select($"chi2_micro", $"df",
        when($"chi2_micro".isNull, lit(null).cast("int"))
          .otherwise(($"chi2_micro" > expr(chiCritSql)).cast("int"))
          .as("reject_5pct"))
    cells.crossJoin(broadcast(chi))
      .select($"seg", $"n_above", $"n_below", $"chi2_micro", $"df",
        $"reject_5pct")
      .orderBy($"seg")
  }

  val q467Sql: String =
    s"""WITH oc AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |grid AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM oc GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grid),
      |run AS (SELECT c, cnt, coalesce(sum(cnt) OVER (ORDER BY c
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
      |  FROM grid),
      |med AS (SELECT min(c) AS m FROM run, tot
      |  WHERE rb + cnt >= (n + 1) // 2),
      |cells AS (
      |  SELECT seg,
      |    CAST(sum(CASE WHEN c > m THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |    CAST(sum(CASE WHEN c <= m THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      |  FROM oc, med GROUP BY seg),
      |t2 AS (SELECT CAST(sum(n_above) AS HUGEINT) AS ra,
      |    CAST(sum(n_below) AS HUGEINT) AS rbt,
      |    CAST(sum(n_above + n_below) AS HUGEINT) AS n,
      |    CAST(count(*) AS BIGINT) AS k FROM cells),
      |chi0 AS (
      |  SELECT CAST(max(k) - 1 AS BIGINT) AS df,
      |    CAST(sum(CASE WHEN ra = 0 OR rbt = 0 THEN NULL ELSE
      |      ((CAST(n_above AS HUGEINT) * n - ra * (n_above + n_below))
      |       * (CAST(n_above AS HUGEINT) * n - ra * (n_above + n_below))
      |       * 1000000) // (n * ra * (n_above + n_below))
      |      + ((CAST(n_below AS HUGEINT) * n - rbt * (n_above + n_below))
      |       * (CAST(n_below AS HUGEINT) * n - rbt * (n_above + n_below))
      |       * 1000000) // (n * rbt * (n_above + n_below)) END) AS BIGINT)
      |      AS chi2_micro
      |  FROM cells, t2),
      |chi AS (SELECT chi2_micro, df,
      |    CASE WHEN chi2_micro IS NULL THEN NULL
      |      ELSE CAST(chi2_micro > $chiCritDuck AS INT) END AS reject_5pct
      |  FROM chi0)
      |SELECT seg, n_above, n_below, chi2_micro, df, reject_5pct
      |FROM cells, chi ORDER BY seg""".stripMargin

  // ------------------------------------------------------------------
  // q468 — Hodges–Lehmann shift + Cliff's delta (AUTOMOBILE vs BUILDING)
  // ------------------------------------------------------------------

  /** Shared monthly two-segment kilo-dollar grid (the q451 shape): one
    * fact scan, conditional aggregation, months where both traded. */
  private def segKiloMonthly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .filter($"c_mktsegment".isin("AUTOMOBILE", "BUILDING"))
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(
        sum(when($"c_mktsegment" === "AUTOMOBILE", cents($"o_totalprice"))
          .otherwise(0L)).as("xc"),
        sum(when($"c_mktsegment" === "BUILDING", cents($"o_totalprice"))
          .otherwise(0L)).as("yc"),
        sum(when($"c_mktsegment" === "AUTOMOBILE", 1L).otherwise(0L)).as("nx"),
        sum(when($"c_mktsegment" === "BUILDING", 1L).otherwise(0L)).as("ny"))
      .filter($"nx" > 0 && $"ny" > 0)
      .select($"ym", expr("xc div 100000").as("x"), expr("yc div 100000").as("y"))
  }

  private val segKiloMonthlySql: String =
    """SELECT ym, xc // 100000 AS x, yc // 100000 AS y FROM (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
      |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS xc,
      |    CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
      |      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS yc,
      |    sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS nx,
      |    sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS ny
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY 1) t WHERE nx > 0 AND ny > 0""".stripMargin

  /** q468 — Hodges–Lehmann two-sample shift estimator between the
    * AUTOMOBILE and BUILDING monthly revenue series, plus Cliff's
    * delta: over ALL month pairs (i, j) form d = x_i − y_j
    * (kilo-dollars, exact integers); the HL estimate is the lower
    * nearest-rank median of the pair differences — the robust "how
    * MUCH does one segment out-earn the other per month" answer the
    * Mann–Whitney-style tests (q254) only give a verdict on — and
    * Cliff's δ = (#[d>0] − #[d<0])/n_pairs is the distribution-free
    * effect size on the same grid. Pair grid is calendar² (≤80×80) —
    * bounded by the calendar, not the corpus (the q312 exemption);
    * the median is still computed value-grid + distributed prefix
    * (never a global row window) so the shape survives a daily or
    * hourly re-grid. All integers; δ is one truncating
    * micro-division. */
  def q468(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = segKiloMonthly(s, d).transform(Fx.materialize)
    val pairs = g.select($"x")
      .crossJoin(broadcast(g.select($"y")))
      .select(($"x" - $"y").as("dd"))
    val grid = pairs.groupBy($"dd").agg(count(lit(1)).as("cnt"))
    val hl = gridMedian(grid, "dd", "cnt")
      .select($"m".as("hl_shift_k"))
    val st = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when($"dd" > 0, 1L).otherwise(0L)).as("n_gt"),
      sum(when($"dd" < 0, 1L).otherwise(0L)).as("n_lt"))
    st.crossJoin(broadcast(hl))
      .select($"n_pairs", $"hl_shift_k", $"n_gt", $"n_lt",
        when($"n_pairs" === 0, lit(null).cast("long"))
          .otherwise(expr("((n_gt - n_lt) * 1000000) div n_pairs"))
          .as("cliffs_delta_micro"))
  }

  val q468Sql: String =
    s"""WITH g AS ($segKiloMonthlySql),
      |pairs AS (SELECT a.x - b.y AS dd FROM g a, g b),
      |grid AS (SELECT dd, CAST(count(*) AS BIGINT) AS cnt
      |  FROM pairs GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grid),
      |run AS (SELECT dd, cnt, coalesce(sum(cnt) OVER (ORDER BY dd
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
      |  FROM grid),
      |hl AS (SELECT min(dd) AS hl_shift_k FROM run, tot
      |  WHERE rb + cnt >= (n + 1) // 2),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt,
      |    CAST(sum(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lt
      |  FROM pairs)
      |SELECT n_pairs, hl_shift_k, n_gt, n_lt,
      |  CASE WHEN n_pairs = 0 THEN NULL
      |    ELSE ((n_gt - n_lt) * 1000000) // n_pairs END AS cliffs_delta_micro
      |FROM st, hl""".stripMargin

  // ------------------------------------------------------------------
  // q469 — Goodman–Kruskal γ + Somers' D (priority × price band)
  // ------------------------------------------------------------------

  /** q469 — ordinal×ordinal association between order priority
    * (1-URGENT..5-LOW, ordinal by leading digit) and order-value band
    * ($100k bands): concordant/discordant pair counts computed on the
    * bounded ≤5×6 CELL grid (cell-pair self-join — O(cells²), never
    * the O(N²) row pair grid), Goodman–Kruskal γ = (C−D)/(C+D)
    * (ignores ties), and Somers' D in both directions
    * D(band|prio) = 2(C−D)/(N(N−1) − Σ_p n_p(n_p−1)) — the
    * tie-penalized asymmetric versions. The ORDINAL member of the
    * association battery: q258's χ²/V sees any dependence, q389's λ
    * sees modal predictability, Cochran–Armitage q359 needs a binary
    * response; γ/Somers ask specifically "do HIGHER priorities carry
    * HIGHER values". All counts exact BIGINT (C ≤ N²/2 ≈ 1.1e10 at
    * sf0.1; ×2·10⁶ ≈ 2.2e16 < 2⁶³); each statistic one truncating
    * micro-division; zero denominators → NULL. */
  def q469(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.orders(s, d)
      .select(substring($"o_orderpriority", 1, 1).cast("int").as("px"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) div 10000000")
          .as("band"))
      .groupBy($"px", $"band").agg(count(lit(1)).as("cnt"))
      .transform(Fx.materialize)
    val a = cells.select($"px".as("ax"), $"band".as("ay"), $"cnt".as("an"))
    val b = cells.select($"px".as("bx"), $"band".as("by"), $"cnt".as("bn"))
    val cd = a.join(broadcast(b), $"bx" > $"ax")
      .agg(sum(when($"by" > $"ay", $"an" * $"bn").otherwise(0L)).as("c_pairs"),
        sum(when($"by" < $"ay", $"an" * $"bn").otherwise(0L)).as("d_pairs"))
    val margins = cells.agg(sum($"cnt").as("n")).crossJoin(
      cells.groupBy($"px").agg(sum($"cnt").as("np"))
        .agg(sum($"np" * ($"np" - 1)).as("tx"))).crossJoin(
      cells.groupBy($"band").agg(sum($"cnt").as("nb"))
        .agg(sum($"nb" * ($"nb" - 1)).as("ty")))
    cd.crossJoin(broadcast(margins))
      .select($"c_pairs", $"d_pairs",
        when($"c_pairs" + $"d_pairs" === 0, lit(null).cast("long"))
          .otherwise(expr(
            "((c_pairs - d_pairs) * 1000000) div (c_pairs + d_pairs)"))
          .as("gamma_micro"),
        when($"n" * ($"n" - 1) - $"tx" === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(2 * (c_pairs - d_pairs) * 1000000) div (n * (n - 1) - tx)"))
          .as("somers_band_given_prio_micro"),
        when($"n" * ($"n" - 1) - $"ty" === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(2 * (c_pairs - d_pairs) * 1000000) div (n * (n - 1) - ty)"))
          .as("somers_prio_given_band_micro"))
  }

  val q469Sql: String =
    """WITH cells AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS px,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 10000000 AS band,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |cd AS (
      |  SELECT
      |    CAST(sum(CASE WHEN b.band > a.band THEN a.cnt * b.cnt ELSE 0 END)
      |      AS BIGINT) AS c_pairs,
      |    CAST(sum(CASE WHEN b.band < a.band THEN a.cnt * b.cnt ELSE 0 END)
      |      AS BIGINT) AS d_pairs
      |  FROM cells a JOIN cells b ON b.px > a.px),
      |m1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
      |m2 AS (SELECT CAST(sum(np * (np - 1)) AS BIGINT) AS tx FROM (
      |    SELECT CAST(sum(cnt) AS BIGINT) AS np FROM cells GROUP BY px) t),
      |m3 AS (SELECT CAST(sum(nb * (nb - 1)) AS BIGINT) AS ty FROM (
      |    SELECT CAST(sum(cnt) AS BIGINT) AS nb FROM cells GROUP BY band) t)
      |SELECT c_pairs, d_pairs,
      |  CASE WHEN c_pairs + d_pairs = 0 THEN NULL
      |    ELSE ((c_pairs - d_pairs) * 1000000) // (c_pairs + d_pairs) END
      |    AS gamma_micro,
      |  CASE WHEN n * (n - 1) - tx = 0 THEN NULL
      |    ELSE (2 * (c_pairs - d_pairs) * 1000000) // (n * (n - 1) - tx) END
      |    AS somers_band_given_prio_micro,
      |  CASE WHEN n * (n - 1) - ty = 0 THEN NULL
      |    ELSE (2 * (c_pairs - d_pairs) * 1000000) // (n * (n - 1) - ty) END
      |    AS somers_prio_given_band_micro
      |FROM cd, m1, m2, m3""".stripMargin

  // ------------------------------------------------------------------
  // q470 — turning-points randomness test on daily revenue
  // ------------------------------------------------------------------

  /** q470 — turning-points test of daily order revenue: count interior
    * days that are STRICT local extrema (y_{t−1} < y_t > y_{t+1} or
    * the mirror; plateaus are not turns — stated), compare against
    * the randomness expectation E[T] = 2(n−2)/3 with
    * Var[T] = (16n−29)/90. Too FEW turns ⇒ trend/level persistence,
    * too MANY ⇒ alternating over-correction — the local-extrema lens
    * beside q307 (median sign runs) and q306 (von Neumann successive
    * differences). Reported cross-multiplied, the q448/q460
    * convention: z²_micro = (3T − 2n + 4)²·10·10⁶ div (16n − 29)
    * (exact — the /3 and /90 clear), sign, and the 5% verdict vs the
    * pinned 1.96² = 3.8416. Gaps in the calendar collapse to the day
    * ordinal (stated). Lag/lead windows run on the calendar-bounded
    * post-aggregate day grid. n < 3 → NULL. */
  def q470(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wd = org.apache.spark.sql.expressions.Window.orderBy($"day")
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("y"))
    val turns = daily
      .withColumn("yp", lag($"y", 1).over(wd))
      .withColumn("yn", lead($"y", 1).over(wd))
      .select(when($"yp".isNotNull && $"yn".isNotNull &&
        (($"yp" < $"y" && $"yn" < $"y") || ($"yp" > $"y" && $"yn" > $"y")),
        1L).otherwise(0L).as("turn"))
    turns.agg(count(lit(1)).as("n_days"), sum($"turn").as("turns"))
      .select($"n_days", $"turns",
        when($"n_days" < 3, lit(null).cast("long"))
          .otherwise(expr(
            """((3 * turns - 2 * n_days + 4) * (3 * turns - 2 * n_days + 4)
               * 10000000) div (16 * n_days - 29)"""))
          .as("z2_micro"),
        when($"n_days" < 3, lit(null).cast("int"))
          .otherwise(signum($"turns" * 3 - $"n_days" * 2 + 4).cast("int"))
          .as("sign"),
        when($"n_days" < 3, lit(null).cast("int"))
          .otherwise((expr(
            """((3 * turns - 2 * n_days + 4) * (3 * turns - 2 * n_days + 4)
               * 10000000) div (16 * n_days - 29)""") > 3841600L).cast("int"))
          .as("reject_5pct"))
  }

  val q470Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT y, lag(y) OVER (ORDER BY day) AS yp,
      |    lead(y) OVER (ORDER BY day) AS yn
      |  FROM daily),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
      |      AND ((yp < y AND yn < y) OR (yp > y AND yn > y))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS turns
      |  FROM lagged)
      |SELECT n_days, turns,
      |  CASE WHEN n_days < 3 THEN NULL ELSE
      |    ((3 * turns - 2 * n_days + 4) * (3 * turns - 2 * n_days + 4)
      |     * 10000000) // (16 * n_days - 29) END AS z2_micro,
      |  CASE WHEN n_days < 3 THEN NULL ELSE
      |    CAST(CASE WHEN 3 * turns - 2 * n_days + 4 > 0 THEN 1
      |      WHEN 3 * turns - 2 * n_days + 4 < 0 THEN -1 ELSE 0 END AS INT)
      |    END AS sign,
      |  CASE WHEN n_days < 3 THEN NULL ELSE
      |    CAST(((3 * turns - 2 * n_days + 4) * (3 * turns - 2 * n_days + 4)
      |      * 10000000) // (16 * n_days - 29) > 3841600 AS INT)
      |    END AS reject_5pct
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q471 — Cohen's kappa between two document-quality raters
  // ------------------------------------------------------------------

  /** q471 — Cohen's κ chance-corrected agreement between two
    * independent document-quality raters: rater A passes docs with
    * n_chars ≥ 300, rater B passes docs with ≥ 54 spaces
    * (length(text) − length(replace(text,' ',''))) — two cheap
    * curation rules a pipeline would run side by side before trusting
    * either as a filter. Raw percent agreement p_o over-credits
    * agreement the marginal pass rates already force; κ subtracts
    * that chance floor: κ = (N(n11+n00) − (r1c1+r0c0)) /
    * (N² − (r1c1+r0c0)). The AGREEMENT family opener beside the
    * association battery (q258 dependence, q389 predictability):
    * raters can be strongly associated yet agree poorly. NULL text /
    * n_chars fails both raters (stated). Exact counts; p_o, p_e, κ
    * each ONE truncating micro-division (N² ≈ 10¹⁰ at sf0.1 → ×10⁶
    * fits BIGINT); degenerate chance-perfect marginals (p_e = 1) →
    * NULL κ. One scan, one aggregate — scan-speed at any scale. */
  def q471(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rated = Tables.documents(s, d).select(
      when($"n_chars".isNotNull && $"n_chars" >= 300, 1L).otherwise(0L)
        .as("a"),
      when($"text".isNotNull &&
        length($"text") - length(expr("replace(text, ' ', '')")) >= 54, 1L)
        .otherwise(0L).as("b"))
    rated.agg(
        sum(when($"a" === 1 && $"b" === 1, 1L).otherwise(0L)).as("n11"),
        sum(when($"a" === 1 && $"b" === 0, 1L).otherwise(0L)).as("n10"),
        sum(when($"a" === 0 && $"b" === 1, 1L).otherwise(0L)).as("n01"),
        sum(when($"a" === 0 && $"b" === 0, 1L).otherwise(0L)).as("n00"))
      .select($"n11", $"n10", $"n01", $"n00",
        when($"n11" + $"n10" + $"n01" + $"n00" === 0, lit(null).cast("long"))
          .otherwise(expr(
            "((n11 + n00) * 1000000) div (n11 + n10 + n01 + n00)"))
          .as("po_micro"),
        when($"n11" + $"n10" + $"n01" + $"n00" === 0, lit(null).cast("long"))
          .otherwise(expr(
            """(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
               * 1000000)
               div ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00))"""))
          .as("pe_micro"),
        when($"n11" + $"n10" + $"n01" + $"n00" === 0 ||
          ($"n11" + $"n10" + $"n01" + $"n00") *
            ($"n11" + $"n10" + $"n01" + $"n00") ===
            ($"n11" + $"n10") * ($"n11" + $"n01") +
            ($"n01" + $"n00") * ($"n10" + $"n00"), lit(null).cast("long"))
          .otherwise(expr(
            """(((n11 + n10 + n01 + n00) * (n11 + n00)
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
               * 1000000)
               div ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))"""))
          .as("kappa_micro"))
  }

  val q471Sql: String =
    """WITH rated AS (
      |  SELECT
      |    CASE WHEN n_chars IS NOT NULL AND n_chars >= 300
      |      THEN 1 ELSE 0 END AS a,
      |    CASE WHEN text IS NOT NULL
      |        AND length(text) - length(replace(text, ' ', '')) >= 54
      |      THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |c AS (
      |  SELECT
      |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n11,
      |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n10,
      |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n01,
      |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n00
      |  FROM rated)
      |SELECT n11, n10, n01, n00,
      |  CASE WHEN n11 + n10 + n01 + n00 = 0 THEN NULL
      |    ELSE ((n11 + n00) * 1000000) // (n11 + n10 + n01 + n00) END
      |    AS po_micro,
      |  CASE WHEN n11 + n10 + n01 + n00 = 0 THEN NULL
      |    ELSE (((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |      * 1000000)
      |      // ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)) END
      |    AS pe_micro,
      |  CASE WHEN n11 + n10 + n01 + n00 = 0
      |      OR (n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
      |        = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
      |    THEN NULL
      |    ELSE (((n11 + n10 + n01 + n00) * (n11 + n00)
      |        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
      |      * 1000000)
      |      // ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
      |        - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
      |    END AS kappa_micro
      |FROM c""".stripMargin

  // ------------------------------------------------------------------
  // q472 — Lin's concordance (naive forecast vs actual, monthly)
  // ------------------------------------------------------------------

  /** q472 — Lin's concordance correlation coefficient between the
    * naive last-month forecast f_t = y_{t−1} and the actual monthly
    * revenue y_t: CCC = 2·s_fy / (s_f² + s_y² + (f̄ − ȳ)²) — Pearson
    * r measures LINEAR ASSOCIATION (any calibration line scores 1);
    * CCC measures AGREEMENT WITH THE 45° LINE, docking both scale and
    * location bias, which is the question that matters when the
    * forecast feeds reorder quantities directly. The continuous
    * member of the agreement family beside q471's κ, and the
    * CALIBRATION complement to the accuracy layers (q331 MASE, q460
    * DM). With denominators cleared by n² every moment is exact:
    * S_fy = nΣfy − ΣfΣy etc. on DECIMAL(38,0) (2·S·10⁶ ≈ 2e19 at
    * sf0.1 exceeds BIGINT — the q297 escalation), the shift penalty
    * is (Σf − Σy)², and CCC plus the penalty's share of the
    * denominator are each ONE truncating micro-division. Constant
    * series (zero denominator) → NULL. Month ordinal collapses
    * calendar gaps (stated). */
  def q472(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wd = org.apache.spark.sql.expressions.Window.orderBy($"ym")
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
    val pairs = g.withColumn("f", lag($"y", 1).over(wd))
      .filter($"f".isNotNull)
    pairs.agg(count(lit(1)).as("n"),
        sum($"f").as("sf"), sum($"y").as("sy"),
        sum(expr("cast(f as decimal(38,0)) * f")).as("sff"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
        sum(expr("cast(f as decimal(38,0)) * y")).as("sfy"))
      .select($"n",
        when(expr(
          """n * sff - cast(sf as decimal(38,0)) * sf
             + n * syy - cast(sy as decimal(38,0)) * sy
             + (sf - sy) * cast(sf - sy as decimal(38,0))""") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """cast((2 * (n * sfy - cast(sf as decimal(38,0)) * sy) * 1000000)
               div (n * sff - cast(sf as decimal(38,0)) * sf
                 + n * syy - cast(sy as decimal(38,0)) * sy
                 + (sf - sy) * cast(sf - sy as decimal(38,0))) as bigint)"""))
          .as("ccc_micro"),
        when(expr(
          """n * sff - cast(sf as decimal(38,0)) * sf
             + n * syy - cast(sy as decimal(38,0)) * sy
             + (sf - sy) * cast(sf - sy as decimal(38,0))""") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """cast(((sf - sy) * cast(sf - sy as decimal(38,0)) * 1000000)
               div (n * sff - cast(sf as decimal(38,0)) * sf
                 + n * syy - cast(sy as decimal(38,0)) * sy
                 + (sf - sy) * cast(sf - sy as decimal(38,0))) as bigint)"""))
          .as("shift_share_micro"))
  }

  val q472Sql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT lag(y) OVER (ORDER BY ym) AS f, y FROM g
      |  QUALIFY f IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(f) AS HUGEINT) AS sf, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(f AS HUGEINT) * y) AS HUGEINT) AS sfy
      |  FROM pairs)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CASE WHEN n * sff - sf * sf + n * syy - sy * sy
      |      + (sf - sy) * (sf - sy) = 0 THEN NULL
      |    ELSE CAST((2 * (n * sfy - sf * sy) * 1000000)
      |      // (n * sff - sf * sf + n * syy - sy * sy
      |        + (sf - sy) * (sf - sy)) AS BIGINT) END AS ccc_micro,
      |  CASE WHEN n * sff - sf * sf + n * syy - sy * sy
      |      + (sf - sy) * (sf - sy) = 0 THEN NULL
      |    ELSE CAST(((sf - sy) * (sf - sy) * 1000000)
      |      // (n * sff - sf * sf + n * syy - sy * sy
      |        + (sf - sy) * (sf - sy)) AS BIGINT) END AS shift_share_micro
      |FROM m""".stripMargin

  // ------------------------------------------------------------------
  // q473 — EWMA control chart on daily purchase revenue
  // ------------------------------------------------------------------

  /** q473 — EWMA control chart (λ = 0.2, L = 3) on daily purchase
    * revenue: the first 10 days calibrate an in-control mean and
    * variance; every later day updates z_t = 0.2·y_t + 0.8·z_{t−1}
    * and is flagged when |z_t − μ| exceeds the time-varying 3σ EWMA
    * limit σ·√((λ/(2−λ))(1−(1−λ)^{2k})). The PROCESS-CONTROL member
    * of the change-detection battery: CUSUM q218 accumulates all
    * history, Pettitt q466 is retrospective, the q284 MAD fence is
    * memoryless — EWMA geometrically discounts, catching small
    * SUSTAINED shifts fast while one wild day fades. Exactness: μ is
    * a truncated cent mean, SS = Σ(10y − Σy)² is exact (HUGEINT/BigInt
    * — (10y)² ≈ 1e20 at $1M days exceeds BIGINT), the z recursion is
    * the stated integer grid z = (2y + 8z) div 10, the limit ramp is
    * the stated micro recursion g = g·64 div 100 (λ=0.2 makes
    * (1−λ)² = 16/25 and λ/(2−λ) = 1/9, so L²·(1/9) = 1 and the
    * signal collapses to the ALL-INTEGER comparison
    * (z−μ)²·27000·10⁶ > SS·(10⁶−g)). Day grid is calendar-bounded;
    * the ≤grid-size recursion folds on the driver (the q270/q390
    * bounded-grid exception); gaps collapse to the ordinal
    * (stated). */
  def q473(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Fx.eventTs(Tables.events(s, d))
      .filter($"event_type" === "purchase")
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(floor($"value" * 100).cast("long")).as("y"))
      .orderBy($"day")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val out = if (daily.length <= 10) Seq.empty[(Long, Long, Long, Long, Int)]
    else {
      val cal = daily.take(10).map(_._2)
      val sumCal = cal.sum
      val mu = sumCal / 10L
      val ss = cal.map(y => BigInt(10L * y - sumCal).pow(2)).sum
      var z = mu; var g = 1000000L
      daily.drop(10).map { case (day, y) =>
        z = (2L * y + 8L * z) / 10L
        g = g * 64L / 100L
        val dev = BigInt(z - mu).pow(2) * 1000L * 1000000L
        val lim = ss * BigInt(1000000L - g)
        (day, y, z, 1000000L - g, if (dev > lim) 1 else 0)
      }.toSeq
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("y_cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("z_cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ramp_micro",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("signal",
        org.apache.spark.sql.types.IntegerType)))
    s.createDataFrame(
      s.sparkContext.parallelize(out.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3, t._4, t._5)), 1),
      schema).orderBy($"day")
  }

  val q473Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |o AS (SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |cal AS (
      |  SELECT CAST(sum(y) AS BIGINT) // 10 AS mu,
      |    CAST(sum(CAST(10 * y - (SELECT CAST(sum(y) AS BIGINT) FROM o
      |        WHERE rn <= 10) AS HUGEINT)
      |      * (10 * y - (SELECT CAST(sum(y) AS BIGINT) FROM o
      |        WHERE rn <= 10))) AS HUGEINT) AS ss
      |  FROM o WHERE rn <= 10),
      |h(rn, day, y, z, g) AS (
      |  SELECT 10, CAST(-1 AS BIGINT), CAST(0 AS BIGINT), mu,
      |    CAST(1000000 AS BIGINT)
      |  FROM cal WHERE (SELECT max(rn) FROM o) > 10
      |  UNION ALL
      |  SELECT o.rn, o.day, o.y,
      |    (2 * o.y + 8 * h.z) // 10,
      |    h.g * 64 // 100
      |  FROM h JOIN o ON o.rn = h.rn + 1)
      |SELECT CAST(day AS BIGINT) AS day, y AS y_cents,
      |  CAST(z AS BIGINT) AS z_cents,
      |  CAST(1000000 - g AS BIGINT) AS ramp_micro,
      |  CAST(CASE WHEN CAST(z - mu AS HUGEINT) * (z - mu) * 1000 * 1000000
      |    > ss * (1000000 - g) THEN 1 ELSE 0 END AS INT) AS signal
      |FROM h, cal WHERE rn > 10 ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // q474 — SPRT sequential test on the purchase share
  // ------------------------------------------------------------------

  /** q474 — Wald's sequential probability ratio test on the purchase
    * share of the event stream: H₀ p = 0.15 vs H₁ p = 0.20,
    * α = β = 0.05. Each day adds s·ln(p₁/p₀) + (n−s)·ln((1−p₁)/(1−p₀))
    * to the log-likelihood ratio; the run DECIDES the first day the
    * cumulative LLR leaves (ln(β/(1−α)), ln((1−β)/α)) — the
    * SEQUENTIAL member of the testing battery: q268/q243 fix n then
    * test, SPRT tests as data arrives and stops ~half as early on
    * average at the same error rates, which is the monitoring shape a
    * pipeline needs. Exactness: the two per-event increments and the
    * boundary are PINNED micro literals (ln(4/3) → +287682,
    * ln(16/17) → −60625, ln 19 → 2944439 — stated constants DEFINE
    * the statistic; no transcendental crosses the engine boundary),
    * so the LLR path is an exact integer running sum over the
    * calendar-bounded day grid (post-aggregate window). Crossing uses
    * ≥ (stated); no crossing → decision 'continue' with NULL day. */
  def q474(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wd = org.apache.spark.sql.expressions.Window.orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val daily = Fx.eventTs(Tables.events(s, d))
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("sp"),
        count(lit(1)).as("n"))
      .withColumn("llr",
        sum($"sp" * 287682L - ($"n" - $"sp") * 60625L).over(wd))
      .transform(Fx.materialize)
    val dec = daily
      .filter($"llr" >= 2944439L || $"llr" <= -2944439L)
      .orderBy($"day").limit(1)
      .select($"day".as("dd"), $"llr".as("llr_at_decision"))
    val fin = daily.agg(count(lit(1)).as("n_days"),
      max(struct($"day", $"llr")).as("last"))
    fin.join(broadcast(dec), lit(true), "left")
      .select($"n_days",
        when($"llr_at_decision".isNull, lit("continue"))
          .when($"llr_at_decision" >= 2944439L, lit("accept_h1"))
          .otherwise(lit("accept_h0")).as("decision"),
        $"dd".cast("long").as("decision_day"),
        $"llr_at_decision",
        $"last.llr".as("final_llr"))
  }

  val q474Sql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS sp,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |path AS (
      |  SELECT day,
      |    sum(sp * 287682 - (n - sp) * 60625) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
      |  FROM daily),
      |dec AS (
      |  SELECT day AS decision_day, llr AS llr_at_decision
      |  FROM path WHERE llr >= 2944439 OR llr <= -2944439
      |  ORDER BY day LIMIT 1),
      |fin AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(max_by(llr, day) AS BIGINT) AS final_llr
      |  FROM path)
      |SELECT n_days,
      |  CASE WHEN d.llr_at_decision IS NULL THEN 'continue'
      |    WHEN d.llr_at_decision >= 2944439 THEN 'accept_h1'
      |    ELSE 'accept_h0' END AS decision,
      |  CAST(d.decision_day AS BIGINT) AS decision_day,
      |  CAST(d.llr_at_decision AS BIGINT) AS llr_at_decision,
      |  final_llr
      |FROM fin LEFT JOIN dec d ON TRUE""".stripMargin

  // ------------------------------------------------------------------
  // q475 — Bowker symmetry test on the behavior-transition matrix
  // ------------------------------------------------------------------

  /** q475 — Bowker's test of symmetry on the per-user consecutive
    * event-type transition matrix (q226's grid): for every unordered
    * type pair {i,j} compare the i→j flow against the j→i flow,
    * χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji), df = #pairs with any
    * flow. The k×k generalization of McNemar q349 (which can only ask
    * one 2×2 question): symmetric flows mean the behavior chain has
    * no preferred direction, an asymmetric pair (e.g. view→purchase ≫
    * purchase→view) is the directionality signal a transition-RATE
    * readout (q226) normalizes away. Diagonal (self) transitions
    * carry no direction and are excluded (stated). Exactness: exact
    * counts; each pair term is the stated truncation
    * (n_ij−n_ji)²·10⁶ div (n_ij+n_ji) on DECIMAL(38,0)
    * (diff² ·10⁶ ≈ 1e18 at 10⁶ transitions brushes BIGINT), summed
    * exactly; verdict vs the pinned χ²(df) ladder (df ≤ 10 with five
    * event types). Per-user lag windows partition by user (the q226
    * shape); the pair table is ≤ k² cells — bounded by the type
    * enum, not the corpus. */
  def q475(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUserTime = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val pairs = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(byUserTime))
      .filter($"prev".isNotNull && $"prev" =!= $"event_type")
      .groupBy(least($"prev", $"event_type").as("t_lo"),
        greatest($"prev", $"event_type").as("t_hi"))
      .agg(sum(when($"prev" < $"event_type", 1L).otherwise(0L)).as("n_fwd"),
        sum(when($"prev" > $"event_type", 1L).otherwise(0L)).as("n_rev"))
      .withColumn("term_micro", expr(
        """(cast(n_fwd - n_rev as decimal(38,0)) * (n_fwd - n_rev) * 1000000)
           div (n_fwd + n_rev)"""))
      .transform(Fx.materialize)
    val tst = pairs.agg(sum($"term_micro").as("chi2_micro"),
        count(lit(1)).as("df"))
      .select($"chi2_micro", $"df",
        ($"chi2_micro" > expr(chiCritSql)).cast("int").as("reject_5pct"))
    pairs.crossJoin(broadcast(tst))
      .select($"t_lo", $"t_hi", $"n_fwd", $"n_rev", $"term_micro",
        $"chi2_micro", $"df", $"reject_5pct")
      .orderBy($"t_lo", $"t_hi")
  }

  val q475Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    event_type FROM events),
      |steps AS (
      |  SELECT event_type AS cur,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev
      |  FROM e),
      |pairs AS (
      |  SELECT CASE WHEN prev < cur THEN prev ELSE cur END AS t_lo,
      |    CASE WHEN prev < cur THEN cur ELSE prev END AS t_hi,
      |    CAST(sum(CASE WHEN prev < cur THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_fwd,
      |    CAST(sum(CASE WHEN prev > cur THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rev
      |  FROM steps WHERE prev IS NOT NULL AND prev <> cur
      |  GROUP BY 1, 2),
      |terms AS (
      |  SELECT t_lo, t_hi, n_fwd, n_rev,
      |    CAST((CAST(n_fwd - n_rev AS HUGEINT) * (n_fwd - n_rev) * 1000000)
      |      // (n_fwd + n_rev) AS BIGINT) AS term_micro
      |  FROM pairs),
      |tst AS (
      |  SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
      |    CAST(count(*) AS BIGINT) AS df
      |  FROM terms),
      |tst2 AS (
      |  SELECT chi2_micro, df,
      |    CAST(chi2_micro > $chiCritDuck AS INT) AS reject_5pct
      |  FROM tst)
      |SELECT t_lo, t_hi, n_fwd, n_rev, term_micro, chi2_micro, df,
      |  reject_5pct
      |FROM terms, tst2 ORDER BY t_lo, t_hi""".stripMargin

  // ------------------------------------------------------------------
  // q476 — KMV distinct-count sketch vs exact NDV per column
  // ------------------------------------------------------------------

  /** q476 — k-minimum-values NDV sketch per column (k = 64) with its
    * exact-error audit: hash the RAW rows of o_custkey / o_orderdate
    * / o_orderpriority with md5 (both engines produce identical hex,
    * the q243 idiom; duplicate values collapse by hash — KMV set
    * semantics), fold each partition to its k smallest DISTINCT
    * 52-bit prefixes ([[kMinDistinct]], bounded TreeSet state), and
    * reduce the O(k·partitions) union through the native bounded-heap
    * [[plans.TopKPerGroup]]; estimate NDV = (k−1)·2⁵² div h_(k) —
    * the ANALYZE-TABLE statistic a 100 TB optimizer needs where
    * COUNT(DISTINCT) is a full shuffle of the value domain: the
    * sketch path never shuffles more than k rows per partition per
    * column and is DETERMINISTIC (md5 — unlike
    * approx_count_distinct's engine-specific HLL, this cross-checks
    * exactly against DuckDB; SCALE.md `kmv` records the gap).
    * Fewer than k distinct values → the sketch IS the exact count
    * (stated). The audit
    * column err_micro = |est − true|·10⁶ div true prices the k = 64
    * sketch against the exact NDV at test scale — at 100 TB only the
    * sketch side runs. Timestamps hash their DATE string (stated —
    * engine-stable text form); NULLs are excluded (stated). 52-bit
    * prefixes keep every value exact in BIGINT/DOUBLE-free integer
    * arithmetic ((k−1)·2⁵² ≈ 2.8e17 < 2⁶³). */
  def q476(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val raw = o.select(explode(array(
        struct(lit("o_custkey").as("colname"),
          $"o_custkey".cast("string").as("v")),
        struct(lit("o_orderdate").as("colname"),
          to_date($"o_orderdate").cast("string").as("v")),
        struct(lit("o_orderpriority").as("colname"),
          $"o_orderpriority".as("v")))).as("cv"))
      .select($"cv.colname".as("colname"), $"cv.v".as("v"))
      .filter($"v".isNotNull)
    // sketch path: hash RAW rows (duplicate values collapse by hash —
    // the KMV set semantics), fold each partition to its k smallest
    // distinct hashes, reduce the tiny union. No value-domain shuffle.
    val hashed = raw.select($"colname",
      Fx.md5Prefix(concat($"v", lit("#kmv")), 13).as("h13"))
    val kept = graft.plans.TopK.perGroup(
        kMinDistinct(hashed, "colname", "h13", 64).distinct(),
        64, Seq("colname"), Seq(graft.plans.TopK.asc("h13")))
      .groupBy($"colname")
      .agg(max($"h13").as("kth"), count(lit(1)).as("n_kept"))
    // audit side: the exact NDV — deliberately the expensive full
    // distinct, so err_micro prices the sketch; at 100 TB only the
    // sketch path runs
    val truth = raw.distinct().groupBy($"colname")
      .agg(count(lit(1)).as("true_ndv"))
    kept.join(truth, "colname")
      .select($"colname",
        when($"n_kept" < 64, $"n_kept")
          .otherwise(expr("(63 * 4503599627370496) div kth")).as("est_ndv"),
        $"true_ndv")
      .withColumn("err_micro", expr(
        "(abs(est_ndv - true_ndv) * 1000000) div true_ndv"))
      .orderBy($"colname")
  }

  val q476Sql: String =
    """WITH vals AS (
      |  SELECT DISTINCT colname, v FROM (
      |    SELECT 'o_custkey' AS colname, CAST(o_custkey AS VARCHAR) AS v
      |    FROM orders
      |    UNION ALL
      |    SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
      |    FROM orders
      |    UNION ALL
      |    SELECT 'o_orderpriority', o_orderpriority FROM orders) t
      |  WHERE v IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT colname,
      |    ('0x' || substr(md5(v || '#kmv'), 1, 13))::BIGINT AS h13
      |  FROM vals),
      |top AS (
      |  SELECT colname, h13,
      |    row_number() OVER (PARTITION BY colname ORDER BY h13) AS rn
      |  FROM h),
      |kept AS (
      |  SELECT colname, CAST(max(h13) AS BIGINT) AS kth,
      |    CAST(count(*) AS BIGINT) AS n_kept
      |  FROM top WHERE rn <= 64 GROUP BY 1),
      |tr AS (
      |  SELECT colname, CAST(count(*) AS BIGINT) AS true_ndv
      |  FROM vals GROUP BY 1)
      |SELECT k.colname,
      |  CASE WHEN n_kept < 64 THEN n_kept
      |    ELSE (63 * 4503599627370496) // kth END AS est_ndv,
      |  true_ndv,
      |  (abs(CASE WHEN n_kept < 64 THEN n_kept
      |    ELSE (63 * 4503599627370496) // kth END - true_ndv) * 1000000)
      |    // true_ndv AS err_micro
      |FROM kept k JOIN tr USING (colname) ORDER BY colname""".stripMargin

  // ------------------------------------------------------------------
  // q477 — Gries' DP word dispersion across sources
  // ------------------------------------------------------------------

  /** q477 — Gries' deviation-of-proportions (DP) dispersion of the
    * top-50 corpus words across sources: DP = ½·Σ_parts |v_i/f −
    * s_i/S| where v_i is the word's count in part i, f its corpus
    * count, s_i the part's token count and S the corpus total — 0
    * means the word is spread exactly like the corpus, →1 means it
    * clumps in one source. The DISPERSION column frequency alone
    * can't see (q106 Zipf rank and q183 diversity both pool parts; a
    * word can be corpus-frequent yet live in one source — exactly
    * the boilerplate/contamination smell a mixing policy q103/q184
    * needs to know about). Exactness: clearing the denominators
    * (common denominator f·S) makes every cell |v_i·S − s_i·f| an
    * exact integer on DECIMAL(38,0) (v·S ≤ S² — the q297
    * escalation), and DP is ONE truncating micro-division
    * Σ|…|·10⁶ div (2·f·S). MISSING (word, part) cells contribute
    * s_i·f and are zero-filled from the bounded top-50 × sources
    * grid (stated). Scale: one token scan → (word, source) counts;
    * everything after runs on the ≤50×sources grid; word selection
    * is the q465 deterministic (f desc, word) head. */
  def q477(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wp = Tables.documents(s, d)
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w", $"source").agg(count(lit(1)).as("v"))
      .transform(Fx.materialize)
    val parts = wp.groupBy($"source").agg(sum($"v").as("s_i"))
      .transform(Fx.materialize)
    val tot = parts.agg(sum($"s_i").as("bigS"))
    val words = wp.groupBy($"w").agg(sum($"v").as("f"))
      .orderBy($"f".desc, $"w").limit(50)
    // prune the corpus-sized (word, part) counts to the 50 kept words
    // BEFORE joining the grid: the left join's build side stays
    // ≤ 50×sources rows and broadcasts
    val wpTop = wp.join(broadcast(words.select($"w")), Seq("w"))
    val grid = words.crossJoin(broadcast(parts))
      .join(broadcast(wpTop), Seq("w", "source"), "left")
      .withColumn("v0", coalesce($"v", lit(0L)))
    grid.crossJoin(broadcast(tot))
      .groupBy($"w", $"f", $"bigS")
      .agg(sum(expr(
        "abs(cast(v0 as decimal(38,0)) * bigS - cast(s_i as decimal(38,0)) * f)"))
        .as("dev"))
      .select($"w".as("word"), $"f",
        expr("cast((dev * 1000000) div (2 * cast(f as decimal(38,0)) * bigS) as bigint)")
          .as("dp_micro"))
      .orderBy($"dp_micro".desc, $"word")
  }

  val q477Sql: String =
    """WITH wp AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS v FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents) t
      |  WHERE w <> '' GROUP BY 1, 2),
      |parts AS (SELECT source, CAST(sum(v) AS BIGINT) AS s_i
      |  FROM wp GROUP BY 1),
      |tot AS (SELECT CAST(sum(s_i) AS BIGINT) AS bigS FROM parts),
      |words AS (SELECT w, CAST(sum(v) AS BIGINT) AS f FROM wp
      |  GROUP BY 1 ORDER BY f DESC, w LIMIT 50),
      |grid AS (
      |  SELECT wpd.w, wpd.f, wpd.s_i, coalesce(wp.v, 0) AS v0
      |  FROM (SELECT words.w, words.f, parts.source, parts.s_i
      |        FROM words, parts) wpd
      |  LEFT JOIN wp ON wp.w = wpd.w AND wp.source = wpd.source)
      |SELECT w AS word, f,
      |  CAST((sum(abs(CAST(v0 AS HUGEINT) * bigS
      |      - CAST(s_i AS HUGEINT) * f)) * 1000000)
      |    // (2 * CAST(f AS HUGEINT) * bigS) AS BIGINT) AS dp_micro
      |FROM grid, tot
      |GROUP BY w, f, bigS
      |ORDER BY dp_micro DESC, word""".stripMargin

  // ------------------------------------------------------------------
  // q478 — ARCH LM test for volatility clustering
  // ------------------------------------------------------------------

  /** q478 — Engle's ARCH LM test on monthly revenue: do SQUARED
    * deviations cluster in time (volatile months follow volatile
    * months)? Regress e_t = u_t² on e_{t−1} (u_t = n·y_t − Σy, the
    * denominator-cleared demeaning) and report LM = m·R² against
    * χ²(1). The VOLATILITY member of the diagnostics battery:
    * Breusch–Pagan q454 asks whether variance follows a COVARIATE,
    * q312/q409 ask whether LEVELS autocorrelate — ARCH asks whether
    * RISK autocorrelates, the condition under which a single σ
    * (q311's envelopes, q473's EWMA limits) misprices every calm
    * regime. Exactness: u and e are exact integers, the moment sums
    * S_xy/S_xx/S_yy are exact DECIMAL(38,0)/HUGEINT (e ≈ 1.2e13 at
    * sf0.1 → m·Σee' ≈ 1e30 — stated bound, the q297 escalation
    * note), and LM follows the q459/q453 fixed double pipeline:
    * (S_xy/S_xx)·(S_xy/S_yy)·m over correctly-rounded casts of exact
    * integers, r6'd — bit-identical in both engines. Constant
    * volatility (S_xx or S_yy = 0) → NULL. Month ordinal collapses
    * gaps (stated). */
  def q478(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wd = org.apache.spark.sql.expressions.Window.orderBy($"ym")
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
    val n1 = g.agg(count(lit(1)).as("n"), sum($"y").as("sy"))
    val e = g.crossJoin(broadcast(n1))
      .select($"ym",
        expr("""cast(n as decimal(38,0)) * y - sy""").as("u"))
      .select($"ym", expr("cast(u * u as decimal(38,0))").as("e"))
    val pairs = e.withColumn("ep", lag($"e", 1).over(wd))
      .filter($"ep".isNotNull)
    pairs.agg(count(lit(1)).as("m"),
        sum($"ep").as("sx"), sum($"e").as("sy2"),
        sum(expr("ep * e")).as("sxy"),
        sum(expr("ep * ep")).as("sxx"),
        sum(expr("e * e")).as("syy"))
      .select($"m".as("n_pairs"),
        when(expr("m * sxx - sx * sx") === 0 ||
          expr("m * syy - sy2 * sy2") === 0, lit(null).cast("long"))
          .otherwise(floor(
            (expr("cast(m * sxy - sx * sy2 as double)") /
              expr("cast(m * sxx - sx * sx as double)")) *
            (expr("cast(m * sxy - sx * sy2 as double)") /
              expr("cast(m * syy - sy2 * sy2 as double)")) *
            expr("cast(m as double)") * 1000000 + 0.5).cast("long"))
          .as("lm_micro"),
        when(expr("m * sxy - sx * sy2") > 0, 1)
          .when(expr("m * sxy - sx * sy2") < 0, -1).otherwise(0)
          .as("rho_sign"))
      .withColumn("reject_5pct",
        when($"lm_micro".isNull, lit(null).cast("int"))
          .otherwise(($"lm_micro" > 3841459L).cast("int")))
  }

  val q478Sql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |n1 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(y) AS HUGEINT) AS sy FROM g),
      |e AS (
      |  SELECT ym, (n * y - sy) * (n * y - sy) AS e
      |  FROM g, n1),
      |pairs AS (
      |  SELECT lag(e) OVER (ORDER BY ym) AS ep, e FROM e
      |  QUALIFY ep IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m,
      |    sum(ep) AS sx, sum(e) AS sy2, sum(ep * e) AS sxy,
      |    sum(ep * ep) AS sxx, sum(e * e) AS syy
      |  FROM pairs)
      |SELECT CAST(m AS BIGINT) AS n_pairs,
      |  CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy2 * sy2 = 0 THEN NULL
      |    ELSE CAST(floor(
      |      (CAST(m * sxy - sx * sy2 AS DOUBLE)
      |        / CAST(m * sxx - sx * sx AS DOUBLE))
      |      * (CAST(m * sxy - sx * sy2 AS DOUBLE)
      |        / CAST(m * syy - sy2 * sy2 AS DOUBLE))
      |      * CAST(m AS DOUBLE) * 1000000 + 0.5) AS BIGINT) END AS lm_micro,
      |  CASE WHEN m * sxy - sx * sy2 > 0 THEN 1
      |    WHEN m * sxy - sx * sy2 < 0 THEN -1 ELSE 0 END AS rho_sign,
      |  CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy2 * sy2 = 0 THEN NULL
      |    ELSE CAST(CAST(floor(
      |      (CAST(m * sxy - sx * sy2 AS DOUBLE)
      |        / CAST(m * sxx - sx * sx AS DOUBLE))
      |      * (CAST(m * sxy - sx * sy2 AS DOUBLE)
      |        / CAST(m * syy - sy2 * sy2 AS DOUBLE))
      |      * CAST(m AS DOUBLE) * 1000000 + 0.5) AS BIGINT) > 3841459
      |      AS INT) END AS reject_5pct
      |FROM m""".stripMargin

  // ------------------------------------------------------------------
  // q479 — Hoeffding's D general-dependence test (segment pair)
  // ------------------------------------------------------------------

  /** q479 — Hoeffding's D between the AUTOMOBILE and BUILDING monthly
    * revenue series: the rank-based test of GENERAL dependence —
    * Pearson (q178 shape) sees only linear, γ/Somers/Mann–Kendall see
    * only monotone; D is consistent against EVERY dependence with
    * continuous margins (a U-shaped or cyclic coupling that zeroes
    * all of them still moves D), which is the right screen before
    * choosing any parametric pair model (q451's cointegration, q402
    * elasticity). Classical no-ties statistic D = 30·((n−2)(n−3)D₁ +
    * D₂ − 2(n−2)D₃) / (n(n−1)(n−2)(n−3)(n−4)) with R/S the marginal
    * ranks, c_i the bivariate dominance counts, D₁ = Σc(c−1),
    * D₂ = Σ(R−1)(R−2)(S−1)(S−2), D₃ = Σ(R−2)(S−2)c; ties are
    * REMOVED by ranking lexicographically on (value, ym) — the
    * stated tie-break DEFINES the statistic (exactly the q274
    * IEEE-quotient + tie-break convention). All integer: ranks and
    * dominance counts from the calendar-bounded month grid (≤84² pair
    * join, broadcast), one truncating micro-division; |num| ≤ 30·n⁵ ≈
    * 1.2e17 at n = 84 fits BIGINT. n ≤ 4 (denominator zero) → NULL.
    * Monotone coupling of EITHER direction scores exactly 10⁶. */
  def q479(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = segKiloMonthly(s, d)
      .withColumn("r", row_number().over(W.orderBy($"x", $"ym")).cast("long"))
      .withColumn("sr", row_number().over(W.orderBy($"y", $"ym")).cast("long"))
      .transform(Fx.materialize)
    val b = g.select($"ym".as("bym"), $"x".as("bx"), $"y".as("by"))
    val ci = g.join(broadcast(b),
        ($"bx" < $"x" || ($"bx" === $"x" && $"bym" < $"ym")) &&
        ($"by" < $"y" || ($"by" === $"y" && $"bym" < $"ym")), "left")
      .groupBy($"ym", $"r", $"sr")
      .agg(count($"bym").as("c"))
    ci.agg(count(lit(1)).as("n"),
        sum(expr("c * (c - 1)")).as("d1"),
        sum(expr("(r - 1) * (r - 2) * (sr - 1) * (sr - 2)")).as("d2"),
        sum(expr("(r - 2) * (sr - 2) * c")).as("d3"))
      .select($"n", $"d1", $"d2", $"d3",
        when($"n" <= 4, lit(null).cast("long"))
          .otherwise(expr(
            """(30 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)
               * 1000000)
               div (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))"""))
          .as("d_micro"))
  }

  val q479Sql: String =
    s"""WITH g0 AS ($segKiloMonthlySql),
      |g AS (
      |  SELECT ym, x, y,
      |    CAST(row_number() OVER (ORDER BY x, ym) AS BIGINT) AS r,
      |    CAST(row_number() OVER (ORDER BY y, ym) AS BIGINT) AS sr
      |  FROM g0),
      |ci AS (
      |  SELECT a.ym, a.r, a.sr, CAST(count(b.ym) AS BIGINT) AS c
      |  FROM g a LEFT JOIN g b
      |    ON (b.x < a.x OR (b.x = a.x AND b.ym < a.ym))
      |   AND (b.y < a.y OR (b.y = a.y AND b.ym < a.ym))
      |  GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c * (c - 1)) AS BIGINT) AS d1,
      |    CAST(sum((r - 1) * (r - 2) * (sr - 1) * (sr - 2)) AS BIGINT) AS d2,
      |    CAST(sum((r - 2) * (sr - 2) * c) AS BIGINT) AS d3
      |  FROM ci)
      |SELECT n, d1, d2, d3,
      |  CASE WHEN n <= 4 THEN NULL ELSE
      |    (30 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3) * 1000000)
      |    // (n * (n - 1) * (n - 2) * (n - 3) * (n - 4)) END AS d_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q480 — DTW distance between the two segment series
  // ------------------------------------------------------------------

  /** q480 — dynamic-time-warping distance between the AUTOMOBILE and
    * BUILDING monthly revenue series (|·| cost, unconstrained band):
    * the ALIGNMENT-INVARIANT series distance the fixed-lag tools
    * can't give — q357's cross-correlation tests one global lag at a
    * time, q460 compares POINTWISE losses; DTW charges each series
    * point its best monotone alignment, so a demand pattern that
    * leads by 1 month in winter and 2 in summer still reads as
    * near-identical. All integer: kilo-dollar values, |x−y| cell
    * costs, the classical O(n²) recurrence with truncating arithmetic
    * (dp ≤ Σcosts ≈ 1e9 at sf0.1 — far inside BIGINT; the boundary
    * sentinel 10¹⁵ is never stored in a reachable cell, only
    * compared). The ≤84² DP grid is calendar-bounded: Spark folds it
    * on the driver (the q270/q390 bounded-grid exception); the oracle
    * replays cell-by-cell in ONE linear recursive CTE carrying the
    * previous DP row as a list (n² iterations, MATERIALIZED inputs so
    * the fact scan runs once — the q422 lesson). Output also carries
    * the per-alignment-step micro cost dtw·10⁶ div 2n. Empty overlap
    * → NULL. */
  def q480(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = segKiloMonthly(s, d).orderBy($"ym").collect()
    val xs = g.map(_.getLong(1)); val ys = g.map(_.getLong(2))
    val n = xs.length
    val INF = 1000000000000000L
    val row: (Long, Option[Long], Option[Long]) =
      if (n == 0) (0L, None, None)
      else {
        var prev = Array.fill(n + 1)(INF); prev(0) = 0L
        val cur = Array.fill(n + 1)(INF)
        for (i <- 1 to n) {
          cur(0) = INF
          for (j <- 1 to n) {
            val c = math.abs(xs(i - 1) - ys(j - 1))
            cur(j) = c + math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
          }
          prev = cur.clone()
        }
        (n.toLong, Some(prev(n)), Some(prev(n) * 1000000L / (2L * n)))
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_months",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dtw_cost_k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("per_step_micro",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        row._1, row._2.map(java.lang.Long.valueOf).orNull,
        row._3.map(java.lang.Long.valueOf).orNull)), 1), schema)
  }

  val q480Sql: String =
    s"""WITH RECURSIVE g0 AS MATERIALIZED ($segKiloMonthlySql),
      |xs AS MATERIALIZED (
      |  SELECT list(x ORDER BY ym) AS lx, list(y ORDER BY ym) AS ly,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM g0),
      |step(k, prev, cur) AS (
      |  SELECT CAST(0 AS BIGINT),
      |    list_prepend(CAST(0 AS BIGINT),
      |      [CAST(1000000000000000 AS BIGINT) FOR xx IN range(1, n + 1)]),
      |    [CAST(1000000000000000 AS BIGINT)]
      |  FROM xs
      |  UNION ALL
      |  SELECT s.k + 1,
      |    CASE WHEN (s.k % n) = 0 AND s.k > 0 THEN s.cur ELSE s.prev END,
      |    list_append(
      |      CASE WHEN (s.k % n) = 0
      |        THEN [CAST(1000000000000000 AS BIGINT)] ELSE s.cur END,
      |      abs(lx[CAST(s.k // n AS INT) + 1] - ly[CAST(s.k % n AS INT) + 1])
      |      + least(
      |          (CASE WHEN (s.k % n) = 0 AND s.k > 0
      |             THEN s.cur ELSE s.prev END)[CAST(s.k % n AS INT) + 2],
      |          (CASE WHEN (s.k % n) = 0 AND s.k > 0
      |             THEN s.cur ELSE s.prev END)[CAST(s.k % n AS INT) + 1],
      |          (CASE WHEN (s.k % n) = 0
      |             THEN [CAST(1000000000000000 AS BIGINT)]
      |             ELSE s.cur END)[CAST(s.k % n AS INT) + 1]))
      |  FROM step s, xs WHERE s.k < n * n)
      |SELECT n AS n_months,
      |  CASE WHEN n = 0 THEN NULL ELSE cur[CAST(n AS INT) + 1] END
      |    AS dtw_cost_k,
      |  CASE WHEN n = 0 THEN NULL
      |    ELSE (cur[CAST(n AS INT) + 1] * 1000000) // (2 * n) END
      |    AS per_step_micro
      |FROM step, xs WHERE k = n * n""".stripMargin

  // ------------------------------------------------------------------
  // q481 — Lempel–Ziv (LZ76) complexity of the daily direction chain
  // ------------------------------------------------------------------

  /** q481 — LZ76 phrase complexity of the daily revenue DIRECTION
    * sequence (+/−/0 vs the previous day): the exhaustive
    * Lempel–Ziv parse counts the novel phrases needed to spell the
    * sequence — a periodic or trending market parses into few long
    * phrases, an incompressible one into ~n/log n. The COMPRESSIBILITY
    * lens of the randomness battery: q307 counts sign runs, q442 sees
    * order-3 ordinal patterns, q470 local extrema — LZ76 sees
    * REPEATED STRUCTURE AT EVERY LENGTH (a 14-day motif that repeats
    * monthly is invisible to all three). Parse rule (stated,
    * Kaspar–Schuster): grow the candidate phrase Q while it appears
    * inside S·Q minus its last char; otherwise commit a phrase; a
    * trailing partial Q counts. Pure integer/string ops — identical
    * in both engines. The day grid is calendar-bounded: Spark folds
    * the parse on the driver (q270 exception); the oracle replays it
    * in ONE linear recursive CTE over integer cursors into the
    * string_agg'd sequence (MATERIALIZED — the q422 lesson).
    * Degenerate n ≤ 1 days → zero-length sequence, NULL density. */
  def q481(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("y"))
      .orderBy($"day")
      .collect().map(_.getLong(1))
    val seq = daily.sliding(2).collect {
      case Array(a, b) => if (b > a) '+' else if (b < a) '-' else '0'
    }.mkString
    var c = 0L; var sLen = 0; var qLen = 0
    while (sLen + qLen < seq.length) {
      qLen += 1
      val q = seq.substring(sLen, sLen + qLen)
      val head = seq.substring(0, sLen + qLen - 1)
      if (!head.contains(q)) { c += 1; sLen += qLen; qLen = 0 }
    }
    if (qLen > 0) c += 1
    val L = seq.length.toLong
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_days",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq_len",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_phrases",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phrase_density_micro",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        daily.length.toLong, L, c,
        if (L == 0) null else java.lang.Long.valueOf(c * 1000000L / L))), 1),
      schema)
  }

  val q481Sql: String =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |sq AS MATERIALIZED (
      |  SELECT coalesce(string_agg(ch, '' ORDER BY day), '') AS str,
      |    CAST(coalesce(sum(1), 0) AS BIGINT) AS l,
      |    (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days
      |  FROM (
      |    SELECT day,
      |      CASE WHEN y > lag(y) OVER (ORDER BY day) THEN '+'
      |        WHEN y < lag(y) OVER (ORDER BY day) THEN '-' ELSE '0' END AS ch
      |    FROM daily
      |    QUALIFY lag(y) OVER (ORDER BY day) IS NOT NULL) t),
      |parse(slen, qlen, c) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT
      |    CASE WHEN strpos(substr(str, 1, CAST(slen + qlen AS INT)),
      |        substr(str, CAST(slen + 1 AS INT), CAST(qlen + 1 AS INT))) > 0
      |      THEN slen ELSE slen + qlen + 1 END,
      |    CASE WHEN strpos(substr(str, 1, CAST(slen + qlen AS INT)),
      |        substr(str, CAST(slen + 1 AS INT), CAST(qlen + 1 AS INT))) > 0
      |      THEN qlen + 1 ELSE 0 END,
      |    CASE WHEN strpos(substr(str, 1, CAST(slen + qlen AS INT)),
      |        substr(str, CAST(slen + 1 AS INT), CAST(qlen + 1 AS INT))) > 0
      |      THEN c ELSE c + 1 END
      |  FROM parse, sq WHERE slen + qlen < l)
      |SELECT n_days, l AS seq_len,
      |  CAST(c + CASE WHEN qlen > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_phrases,
      |  CASE WHEN l = 0 THEN NULL
      |    ELSE ((c + CASE WHEN qlen > 0 THEN 1 ELSE 0 END) * 1000000) // l
      |    END AS phrase_density_micro
      |FROM parse, sq WHERE slen + qlen = l
      |ORDER BY c DESC LIMIT 1""".stripMargin

  // ------------------------------------------------------------------
  // q482 — runtime-filter (bloom) sizing advisor off the KMV sketch
  // ------------------------------------------------------------------

  /** q482 — bloom-filter sizing advisor for the lineitem join keys
    * (l_orderkey / l_partkey / l_suppkey): estimate each key's NDV
    * with the q476 KMV sketch (k = 64, md5, exact under k), then for
    * the two standard target FPRs price the filter with the pinned
    * optimal-bloom constants bits/key = −ln p / ln²2 (1%: 9.585059,
    * 0.1%: 14.377578 — micro literals; k_hashes 7 and 10) — the
    * PLANNING question behind q450's runtime bloom join and q148's
    * hand-rolled 32 KB bitset: "can this join's build side afford a
    * broadcast filter, and how big must it be". At 100 TB the NDV
    * side never runs COUNT(DISTINCT) — the sketch is O(64) state per
    * key (stated; unlike q476 no exact-truth column here, that's the
    * audit query's job). All integer: bits = est·bpk_micro div 10⁶
    * + 1, bytes = bits div 8 + 1, and the 10 MB broadcast-budget
    * verdict is an integer compare. */
  def q482(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    // one narrow scan, hash raw rows, bounded per-partition k-min
    // fold — NO value-domain distinct anywhere (the whole point of
    // advising from a sketch)
    val hashed = li.select(explode(array(
        struct(lit("l_orderkey").as("colname"),
          $"l_orderkey".cast("string").as("v")),
        struct(lit("l_partkey").as("colname"),
          $"l_partkey".cast("string").as("v")),
        struct(lit("l_suppkey").as("colname"),
          $"l_suppkey".cast("string").as("v")))).as("cv"))
      .select($"cv.colname".as("colname"), $"cv.v".as("v"))
      .filter($"v".isNotNull)
      .select($"colname",
        Fx.md5Prefix(concat($"v", lit("#kmv")), 13).as("h13"))
    val est = graft.plans.TopK.perGroup(
        kMinDistinct(hashed, "colname", "h13", 64).distinct(),
        64, Seq("colname"), Seq(graft.plans.TopK.asc("h13")))
      .groupBy($"colname")
      .agg(max($"h13").as("kth"), count(lit(1)).as("n_kept"))
      .select($"colname",
        when($"n_kept" < 64, $"n_kept")
          .otherwise(expr("(63 * 4503599627370496) div kth")).as("est_ndv"))
    val fprs = s.createDataFrame(Seq(
      ("fpr_1pct", 9585059L, 7L), ("fpr_0_1pct", 14377578L, 10L)))
      .toDF("fpr", "bpk_micro", "k_hashes")
    est.crossJoin(broadcast(fprs))
      .withColumn("bits", expr("(est_ndv * bpk_micro) div 1000000 + 1"))
      .withColumn("bytes", expr("bits div 8 + 1"))
      .select($"colname", $"fpr", $"est_ndv", $"bits", $"bytes", $"k_hashes",
        ($"bytes" <= 10L * 1024 * 1024).cast("int").as("fits_10mb"))
      .orderBy($"colname", $"fpr")
  }

  val q482Sql: String =
    """WITH vals AS (
      |  SELECT colname, v FROM (
      |    SELECT 'l_orderkey' AS colname, CAST(l_orderkey AS VARCHAR) AS v
      |    FROM lineitem
      |    UNION ALL
      |    SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      |    UNION ALL
      |    SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem) t
      |  WHERE v IS NOT NULL),
      |h AS (
      |  SELECT DISTINCT colname,
      |    ('0x' || substr(md5(v || '#kmv'), 1, 13))::BIGINT AS h13
      |  FROM vals),
      |top AS (
      |  SELECT colname, h13,
      |    row_number() OVER (PARTITION BY colname ORDER BY h13) AS rn
      |  FROM h),
      |est AS (
      |  SELECT colname,
      |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
      |      ELSE (63 * 4503599627370496) // CAST(max(h13) AS BIGINT) END
      |      AS est_ndv
      |  FROM top WHERE rn <= 64 GROUP BY 1),
      |fprs(fpr, bpk_micro, k_hashes) AS (
      |  VALUES ('fpr_1pct', CAST(9585059 AS BIGINT), CAST(7 AS BIGINT)),
      |    ('fpr_0_1pct', CAST(14377578 AS BIGINT), CAST(10 AS BIGINT))),
      |sized AS (
      |  SELECT colname, fpr, est_ndv,
      |    (est_ndv * bpk_micro) // 1000000 + 1 AS bits, k_hashes
      |  FROM est, fprs)
      |SELECT colname, fpr, est_ndv, bits, bits // 8 + 1 AS bytes, k_hashes,
      |  CAST(bits // 8 + 1 <= 10485760 AS INT) AS fits_10mb
      |FROM sized ORDER BY colname, fpr""".stripMargin

  // ------------------------------------------------------------------
  // q483 — Cucconi joint location-scale test (segment monthlies)
  // ------------------------------------------------------------------

  /** q483 — Cucconi's joint location-scale test between the
    * AUTOMOBILE and BUILDING monthly revenue samples: U standardizes
    * the squared ranks of sample 2, V the squared CONTRARY ranks, and
    * C = (U² + V² − 2ρUV)/(2(1−ρ²)) rejects when the samples differ
    * in center, in spread, or in both — the JOINT member beside
    * Mann–Whitney q254 (location only) and Ansari–Bradley q456
    * (scale only), and historically BETTER powered than
    * Lepage-style combinations. Everything is an exact rational of
    * rank integers: with a = 6ΣS² − n₂(N+1)(2N+1), b the contrary
    * twin, s = (2N+1)(8N+11), r = 2(N²−4) − s, D₅ =
    * n₁n₂(N+1)(2N+1)(8N+11), C = 5(s²(a²+b²) − 2rs·ab) /
    * (2D₅(s²−r²)) — ONE truncating micro-division on DECIMAL(38,0)
    * (s²a² ≈ 1e26 at the monthly N; the q297 escalation). Pooled
    * ranks are tie-broken lexicographically by (value, segment, ym)
    * — stated, the q479 convention. Verdict vs the pinned
    * asymptotic P(C > c) = e^(−c) critical −ln 0.05 → 2995732.
    * Degenerate N ≤ 2 or one-sided samples (s² = r² or D₅ = 0) →
    * NULL. All windows on the calendar-bounded pooled grid. */
  def q483(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = segKiloMonthly(s, d)
    val pooled = g.select($"ym", lit(1L).as("grp"), $"x".as("v"))
      .unionByName(g.select($"ym", lit(2L).as("grp"), $"y".as("v")))
      .withColumn("rk",
        row_number().over(W.orderBy($"v", $"grp", $"ym")).cast("long"))
    pooled.agg(count(lit(1)).as("nn"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"grp" === 2, 1L).otherwise(0L)).as("n2"),
        sum(when($"grp" === 2, $"rk").otherwise(0L)).as("s1"),
        sum(when($"grp" === 2, expr("rk * rk")).otherwise(0L)).as("ss2"))
      .select($"n1", $"n2",
        expr("6 * ss2 - n2 * (nn + 1) * (2 * nn + 1)").as("a"),
        expr("""6 * (n2 * (nn + 1) * (nn + 1) - 2 * (nn + 1) * s1 + ss2)
               - n2 * (nn + 1) * (2 * nn + 1)""").as("b"),
        expr("(2 * nn + 1) * (8 * nn + 11)").as("s"),
        expr("2 * (cast(nn as decimal(38,0)) * nn - 4) - (2 * nn + 1) * (8 * nn + 11)")
          .as("r"),
        expr("""cast(n1 as decimal(38,0)) * n2 * (nn + 1) * (2 * nn + 1)
               * (8 * nn + 11)""").as("d5"))
      .select($"n1", $"n2", $"a", $"b",
        when($"n1" === 0 || $"n2" === 0 ||
          expr("2 * d5 * (cast(s as decimal(38,0)) * s - r * r)") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """(5 * (cast(s as decimal(38,0)) * s
                 * (cast(a as decimal(38,0)) * a + cast(b as decimal(38,0)) * b)
               - 2 * r * s * (cast(a as decimal(38,0)) * b)) * 1000000)
               div (2 * d5 * (cast(s as decimal(38,0)) * s - r * r))"""))
          .as("c_micro"))
      .withColumn("reject_5pct",
        when($"c_micro".isNull, lit(null).cast("int"))
          .otherwise(($"c_micro" > 2995732L).cast("int")))
  }

  val q483Sql: String =
    s"""WITH g AS ($segKiloMonthlySql),
      |pooled AS (
      |  SELECT ym, 1 AS grp, x AS v FROM g
      |  UNION ALL SELECT ym, 2 AS grp, y AS v FROM g),
      |rk AS (
      |  SELECT grp,
      |    CAST(row_number() OVER (ORDER BY v, grp, ym) AS BIGINT) AS rk
      |  FROM pooled),
      |agg AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS nn,
      |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
      |    CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
      |    CAST(sum(CASE WHEN grp = 2 THEN rk ELSE 0 END) AS HUGEINT) AS s1,
      |    CAST(sum(CASE WHEN grp = 2 THEN rk * rk ELSE 0 END) AS HUGEINT)
      |      AS ss2
      |  FROM rk),
      |parts AS (
      |  SELECT n1, n2,
      |    6 * ss2 - n2 * (nn + 1) * (2 * nn + 1) AS a,
      |    6 * (n2 * (nn + 1) * (nn + 1) - 2 * (nn + 1) * s1 + ss2)
      |      - n2 * (nn + 1) * (2 * nn + 1) AS b,
      |    (2 * nn + 1) * (8 * nn + 11) AS s,
      |    2 * (nn * nn - 4) - (2 * nn + 1) * (8 * nn + 11) AS r,
      |    n1 * n2 * (nn + 1) * (2 * nn + 1) * (8 * nn + 11) AS d5
      |  FROM agg)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
      |  CASE WHEN n1 = 0 OR n2 = 0 OR 2 * d5 * (s * s - r * r) = 0 THEN NULL
      |    ELSE CAST((5 * (s * s * (a * a + b * b) - 2 * r * s * (a * b))
      |      * 1000000) // (2 * d5 * (s * s - r * r)) AS BIGINT) END
      |    AS c_micro,
      |  CASE WHEN n1 = 0 OR n2 = 0 OR 2 * d5 * (s * s - r * r) = 0 THEN NULL
      |    ELSE CAST((5 * (s * s * (a * a + b * b) - 2 * r * s * (a * b))
      |      * 1000000) // (2 * d5 * (s * s - r * r)) > 2995732 AS INT) END
      |    AS reject_5pct
      |FROM parts""".stripMargin

  // ------------------------------------------------------------------
  // q484 — Rousseeuw–Croux Sn robust scale of monthly revenue
  // ------------------------------------------------------------------

  /** q484 — Rousseeuw–Croux Sₙ robust scale estimator of the monthly
    * revenue distribution: Sₙ = c·lomed_i himed_{j≠i} |y_i − y_j| —
    * the nested-median pairwise spread. The SCALE battery's missing
    * member: MAD (q284's fence) needs a location estimate first and
    * collapses on skewed data (50% of mass on one side → MAD
    * halves); Sₙ is location-free, keeps the 50% breakdown, and runs
    * at 58% Gaussian efficiency vs MAD's 37%. Exact: kilo-dollar
    * integers, the inner high median is the stated nearest-rank
    * (n div 2 + 1)-th order statistic of the n−1 distances, the
    * outer low median the ((n+1) div 2)-th of the n row medians, and
    * the Gaussian-consistency constant is the pinned micro literal
    * 1.1926 (sn_micro = d·1192600). Pair grid is calendar² (≤84²,
    * broadcast); per-row ranks are PARTITIONED windows (by month),
    * the outer selection a bounded-grid window. n ≤ 1 → NULL. */
  def q484(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
      .transform(Fx.materialize)
    val b = g.select($"ym".as("bym"), $"y".as("by"))
    val dists = g.join(broadcast(b), $"ym" =!= $"bym")
      .select($"ym", abs($"y" - $"by").as("dd"), $"bym")
    val inner = dists
      .withColumn("rk", row_number()
        .over(W.partitionBy($"ym").orderBy($"dd", $"bym")).cast("long"))
      .withColumn("cnt", count(lit(1)).over(W.partitionBy($"ym")))
      .filter($"rk" === expr("(cnt + 1) div 2 + 1"))
      .select($"ym", $"dd".as("di"))
    val n1 = g.agg(count(lit(1)).as("n"))
    inner
      .withColumn("ork", row_number().over(W.orderBy($"di", $"ym")).cast("long"))
      .crossJoin(broadcast(n1))
      .filter($"ork" === expr("(n + 1) div 2"))
      .select($"n".as("n_months"), $"di".as("sn_raw_k"),
        ($"di" * 1192600L).as("sn_micro"))
  }

  val q484Sql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |dists AS (
      |  SELECT a.ym, abs(a.y - b.y) AS dd, b.ym AS bym
      |  FROM g a JOIN g b ON a.ym <> b.ym),
      |inner_med AS (
      |  SELECT ym, dd AS di FROM (
      |    SELECT ym, dd,
      |      row_number() OVER (PARTITION BY ym ORDER BY dd, bym) AS rk,
      |      count(*) OVER (PARTITION BY ym) AS cnt
      |    FROM dists) t
      |  WHERE rk = (cnt + 1) // 2 + 1),
      |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g)
      |SELECT n AS n_months, di AS sn_raw_k, di * 1192600 AS sn_micro
      |FROM (
      |  SELECT di, row_number() OVER (ORDER BY di, ym) AS ork
      |  FROM inner_med) t, n1
      |WHERE ork = (n + 1) // 2""".stripMargin

  // ------------------------------------------------------------------
  // q485 — records test on daily revenue (running maxima)
  // ------------------------------------------------------------------

  /** q485 — records test on daily revenue: count the days that set a
    * strict all-time revenue record; under exchangeability (no trend)
    * E[R] = H_n (the harmonic number — day t records with probability
    * 1/t) and Var[R] = H_n − H_n⁽²⁾, both computed as the STATED
    * micro truncations Σ 10⁶ div t and Σ 10⁶ div t² so the engines
    * agree digit-for-digit. The EXTREMES member of the trend battery:
    * Mann–Kendall q393 uses every pair, CUSUM q218 accumulates
    * deviations — the records statistic reacts ONLY to new maxima,
    * which is the business question ("are we still setting records at
    * the rate chance predicts?") and the natural companion to the EVT
    * battery (q441 Hill). z² cross-multiplied on DECIMAL(38,0)
    * ((R·10⁶ − H)² brushes 2⁶³ on a monotone daily ramp), two-sided
    * 5% verdict vs 1.96² pinned. Gaps collapse to the day ordinal
    * (stated); windows run post-aggregate on the calendar-bounded
    * grid. n = 0 → empty; Var = 0 (n = 1) → NULL z². */
  def q485(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("y"))
      .withColumn("t", row_number().over(W.orderBy($"day")).cast("long"))
      .withColumn("prevmax",
        max($"y").over(W.orderBy($"day").rowsBetween(Window_up, -1)))
    daily
      .select($"t",
        when($"prevmax".isNull || $"y" > $"prevmax", 1L).otherwise(0L)
          .as("rec"),
        expr("1000000 div t").as("h1"), expr("1000000 div (t * t)").as("h2"))
      .agg(count(lit(1)).as("n_days"), sum($"rec").as("n_records"),
        sum($"h1").as("h_micro"), sum(expr("h1 - h2")).as("var_micro"))
      .select($"n_days", $"n_records", $"h_micro",
        when($"var_micro" === 0, lit(null).cast("long"))
          .otherwise(expr(
            """((cast(n_records as decimal(38,0)) * 1000000 - h_micro)
               * (cast(n_records as decimal(38,0)) * 1000000 - h_micro))
               div var_micro""").cast("long"))
          .as("z2_micro"),
        signum($"n_records" * 1000000L - $"h_micro").cast("int").as("sign"))
      .withColumn("reject_5pct",
        when($"z2_micro".isNull, lit(null).cast("int"))
          .otherwise(($"z2_micro" > 3841600L).cast("int")))
  }

  private val Window_up =
    org.apache.spark.sql.expressions.Window.unboundedPreceding

  val q485Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |seq AS (
      |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
      |    CASE WHEN max(y) OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR y > max(y) OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS rec
      |  FROM daily),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(rec) AS BIGINT) AS n_records,
      |    CAST(sum(1000000 // t) AS BIGINT) AS h_micro,
      |    CAST(sum(1000000 // t - 1000000 // (t * t)) AS BIGINT) AS var_micro
      |  FROM seq)
      |SELECT n_days, n_records, h_micro,
      |  CASE WHEN var_micro = 0 THEN NULL
      |    ELSE CAST(((CAST(n_records AS HUGEINT) * 1000000 - h_micro)
      |      * (CAST(n_records AS HUGEINT) * 1000000 - h_micro))
      |      // var_micro AS BIGINT) END AS z2_micro,
      |  CASE WHEN n_records * 1000000 - h_micro > 0 THEN 1
      |    WHEN n_records * 1000000 - h_micro < 0 THEN -1 ELSE 0 END AS sign,
      |  CASE WHEN var_micro = 0 THEN NULL
      |    ELSE CAST(((CAST(n_records AS HUGEINT) * 1000000 - h_micro)
      |      * (CAST(n_records AS HUGEINT) * 1000000 - h_micro))
      |      // var_micro > 3841600 AS INT) END AS reject_5pct
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q486 — Oaxaca–Blinder gap decomposition (revenue ~ volume)
  // ------------------------------------------------------------------

  /** q486 — Oaxaca–Blinder decomposition of the AUTOMOBILE-vs-BUILDING
    * mean monthly revenue gap with monthly order volume as the
    * explanatory endowment: fit y ~ α_g + β_g·x per segment, then
    * split gap = ȳ_A − ȳ_B into EXPLAINED = β_B·(x̄_A − x̄_B) (what
    * the reference group's price structure would pay for the volume
    * difference) and UNEXPLAINED = gap − explained (structure:
    * different β/α) — the DECOMPOSITION member of the causal battery:
    * q281's DiD needs a time split, q434's CMH a stratifier; Oaxaca
    * answers "how much of the gap is volume, how much is structure"
    * from two cross-sections. Exact: per-segment moment sums on
    * DECIMAL(38,0), gap_micro = (sy_A·n_B − sy_B·n_A)·10⁶ div
    * (n_A·n_B), explained_micro = S_xyB·(sx_A·n_B − sx_B·n_A)·10⁶
    * div (S_xxB·n_A·n_B) — each ONE truncating micro-division;
    * unexplained is their stated difference. Degenerate reference
    * volume (S_xxB = 0) → NULL split, gap still reported. One fact
    * scan (conditional aggregation on the month grid). */
  def q486(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .filter($"c_mktsegment".isin("AUTOMOBILE", "BUILDING"))
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"),
        $"c_mktsegment".as("seg"))
      .agg(count(lit(1)).as("x"), sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", $"seg", $"x", expr("yc div 100000").as("y"))
    val m = g.groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
    val a = m.filter($"seg" === "AUTOMOBILE")
      .select($"n".as("na"), $"sx".as("sxa"), $"sy".as("sya"))
    val bb = m.filter($"seg" === "BUILDING")
      .select($"n".as("nb"), $"sx".as("sxb"), $"sy".as("syb"),
        expr("n * sxy - cast(sx as decimal(38,0)) * sy").as("cxyb"),
        expr("n * sxx - cast(sx as decimal(38,0)) * sx").as("cxxb"))
    a.crossJoin(broadcast(bb))
      .select($"na".as("n_a"), $"nb".as("n_b"),
        expr("""((cast(sya as decimal(38,0)) * nb
                - cast(syb as decimal(38,0)) * na) * 1000000)
               div (cast(na as decimal(38,0)) * nb)""").as("gap_micro"),
        when($"cxxb" === 0, lit(null).cast("long"))
          .otherwise(expr(
            """(cxyb * (cast(sxa as decimal(38,0)) * nb
                - cast(sxb as decimal(38,0)) * na) * 1000000)
               div (cxxb * cast(na as decimal(38,0)) * nb)"""))
          .as("explained_micro"))
      .withColumn("unexplained_micro", $"gap_micro" - $"explained_micro")
  }

  val q486Sql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT seg, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |  FROM g GROUP BY 1),
      |a AS (SELECT n AS na, sx AS sxa, sy AS sya FROM m
      |  WHERE seg = 'AUTOMOBILE'),
      |b AS (SELECT n AS nb, sx AS sxb, sy AS syb,
      |    n * sxy - sx * sy AS cxyb, n * sxx - sx * sx AS cxxb
      |  FROM m WHERE seg = 'BUILDING'),
      |j AS (
      |  SELECT na, nb,
      |    ((sya * nb - syb * na) * 1000000) // (na * nb) AS gap_micro,
      |    CASE WHEN cxxb = 0 THEN NULL
      |      ELSE (cxyb * (sxa * nb - sxb * na) * 1000000)
      |        // (cxxb * na * nb) END AS explained_micro
      |  FROM a, b)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(gap_micro AS BIGINT) AS gap_micro,
      |  CAST(explained_micro AS BIGINT) AS explained_micro,
      |  CAST(gap_micro - explained_micro AS BIGINT) AS unexplained_micro
      |FROM j""".stripMargin

  // ------------------------------------------------------------------
  // q487 — train/test split leakage audit (near-dup-aware vs naive)
  // ------------------------------------------------------------------

  /** q487 — split-leakage audit: how many near-duplicate document
    * pairs does a NAIVE random 80/20 train/test split place on
    * opposite sides (the test set then "verifies" memorization), and
    * how many does a GROUP-AWARE split (hash the duplicate-family
    * key, not the doc id) leak? Families are 60-char-prefix blocks
    * (the template/boilerplate class q313's deletion blocks and q53's
    * minhash bands both catch; stated). This is the INTERNAL
    * contamination complement of q95's external decontamination and
    * q275's leakage-free encoding: a dedup pipeline that splits
    * before deduping silently leaks every family it later finds. All
    * aggregate — pairs are counted as Σ kₜ(k−kₜ) per family, never
    * materialized, so the audit is one groupBy at any corpus size.
    * The group split's crossing count is computed by the same honest
    * formula (k·g)(k − k·g) — structurally zero, and the output
    * proves it. Splits are the deterministic md5 idiom (q243);
    * leakage rate is ONE truncating micro-division; no dup pairs →
    * NULL rate. */
  def q487(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter($"text".isNotNull)
      .select(substring($"text", 1, 60).as("grp"),
        (Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#split")), 8) % 5 === 0)
          .cast("long").as("is_test"))
    val groups = docs.groupBy($"grp")
      .agg(count(lit(1)).as("k"), sum($"is_test").as("kt"))
      .filter($"k" >= 2)
      .withColumn("gflag",
        (Fx.md5Prefix(concat($"grp", lit("#split")), 8) % 5 === 0).cast("long"))
    groups.agg(count(lit(1)).as("n_dup_groups"),
        sum(expr("k * (k - 1) div 2")).as("n_dup_pairs"),
        sum(expr("kt * (k - kt)")).as("crossing_naive"),
        sum(expr("(k * gflag) * (k - k * gflag)")).as("crossing_group"))
      .select($"n_dup_groups", $"n_dup_pairs", $"crossing_naive",
        $"crossing_group",
        when($"n_dup_pairs" === 0 || $"n_dup_pairs".isNull,
          lit(null).cast("long"))
          .otherwise(expr("(crossing_naive * 1000000) div n_dup_pairs"))
          .as("leakage_naive_micro"))
  }

  val q487Sql: String =
    """WITH docs AS (
      |  SELECT substr(text, 1, 60) AS grp,
      |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'),
      |      1, 8))::BIGINT % 5 = 0 THEN 1 ELSE 0 END AS is_test
      |  FROM documents WHERE text IS NOT NULL),
      |groups AS (
      |  SELECT grp, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(is_test) AS BIGINT) AS kt,
      |    CASE WHEN ('0x' || substr(md5(grp || '#split'), 1, 8))::BIGINT % 5
      |      = 0 THEN 1 ELSE 0 END AS gflag
      |  FROM docs GROUP BY grp HAVING count(*) >= 2),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
      |    CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_dup_pairs,
      |    CAST(sum(kt * (k - kt)) AS BIGINT) AS crossing_naive,
      |    CAST(sum((k * gflag) * (k - k * gflag)) AS BIGINT)
      |      AS crossing_group
      |  FROM groups)
      |SELECT n_dup_groups, n_dup_pairs, crossing_naive, crossing_group,
      |  CASE WHEN n_dup_pairs = 0 OR n_dup_pairs IS NULL THEN NULL
      |    ELSE (crossing_naive * 1000000) // n_dup_pairs END
      |    AS leakage_naive_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q488 — expected steps to purchase (absorbing-chain readout)
  // ------------------------------------------------------------------

  /** q488 — expected steps to PURCHASE from each behavior state: the
    * absorbing-Markov-chain readout over q226's transition grid,
    * v(s) = 1 + Σ_s' P(s,s')·v(s') with v(purchase) = 0, iterated 12
    * times on the integer micro grid with the stated truncation
    * v(s) = 10⁶ + (Σ n_ss'·v(s')) div n_s — the 12-step truncated
    * expectation IS the statistic (q463's fixed-iteration
    * convention), a lower bound that converges geometrically for any
    * chain that reaches purchase. The QUANTITATIVE layer over the
    * descriptive chain battery: q226 gives rates, q415 entropy, q349
    * symmetry — this prices each state in expected CLICKS-TO-CONVERT,
    * the number a UX funnel owner acts on. States with no outgoing
    * transitions are treated as absorbing (stated); purchase's own
    * outgoing flows are ignored. The state enum is bounded, so the
    * ≤k² cell grid folds on the driver (q270 exception); the oracle
    * replays the 12 iterations as MATERIALIZED CTEs. */
  def q488(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUserTime = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val cells = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(byUserTime))
      .filter($"prev".isNotNull)
      .groupBy($"prev".as("src"), $"event_type".as("dst"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    val outs = cells.groupBy(_._1).map { case (src, cs) =>
      src -> cs.map(_._3).sum }
    var v = states.map(_ -> 0L).toMap
    for (_ <- 1 to 12) {
      v = states.map { st =>
        st -> (if (st == "purchase" || !outs.contains(st)) 0L
          else 1000000L + cells.filter(_._1 == st)
            .map { case (_, dst, n) => n * v(dst) }.sum / outs(st))
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("state",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_out",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("steps_micro",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(
      s.sparkContext.parallelize(states.toSeq.map(st =>
        org.apache.spark.sql.Row(st, outs.getOrElse(st, 0L), v(st))), 1),
      schema).orderBy($"state")
  }

  val q488Sql: String = {
    val iters = (1 to 12).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT s.state,
         |    CASE WHEN s.state = 'purchase' OR max(o.ntot) IS NULL
         |      THEN CAST(0 AS BIGINT)
         |      ELSE 1000000 + CAST(coalesce(sum(c.n * p.v), 0) AS BIGINT)
         |        // max(o.ntot) END AS v
         |  FROM v${k - 1} s
         |  LEFT JOIN outs o ON o.src = s.state
         |  LEFT JOIN cells c ON c.src = s.state AND s.state <> 'purchase'
         |  LEFT JOIN v${k - 1} p ON p.state = c.dst
         |  GROUP BY s.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    event_type FROM events),
      |steps AS MATERIALIZED (
      |  SELECT event_type AS cur,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev
      |  FROM e),
      |cells AS MATERIALIZED (
      |  SELECT prev AS src, cur AS dst, CAST(count(*) AS BIGINT) AS n
      |  FROM steps WHERE prev IS NOT NULL GROUP BY 1, 2),
      |states AS MATERIALIZED (
      |  SELECT DISTINCT state FROM (
      |    SELECT src AS state FROM cells
      |    UNION SELECT dst FROM cells) t),
      |outs AS MATERIALIZED (
      |  SELECT src, CAST(sum(n) AS BIGINT) AS ntot FROM cells GROUP BY 1),
      |v0 AS (SELECT state, CAST(0 AS BIGINT) AS v FROM states),
      |$iters
      |SELECT s.state, CAST(coalesce(o.ntot, 0) AS BIGINT) AS n_out,
      |  v.v AS steps_micro
      |FROM states s
      |LEFT JOIN outs o ON o.src = s.state
      |JOIN v12 v ON v.state = s.state
      |ORDER BY s.state""".stripMargin
  }

  // ------------------------------------------------------------------
  // q489 — Getis–Ord G* local hotspots of nation balances
  // ------------------------------------------------------------------

  /** q489 — Getis–Ord G* local hotspot statistic per nation under
    * same-region contiguity (self included): WHERE are the
    * high-balance clusters — the LOCAL complement of q407's global
    * Moran's I, which can report "clustering exists" while every
    * region looks the same; G* names the hot and cold regions nation
    * by nation. With binary weights the z² is an EXACT RATIONAL — no
    * sqrt at all: z² = N_i²(n−1) / [(nΣx² − (Σx)²)(nW_i − W_i²)]
    * with N_i = n·Σ_{j∈R_i} x_j − W_i·Σx, W_i the region size, and x
    * the q407 per-nation mean-balance grid (100·cents div count —
    * same stated grid, so the two spatial readouts share their
    * input). One truncating micro-division per nation; sign says hot
    * vs cold; |z| > 1.96 ⟺ z² > 3.8416 pinned. Degenerate all-equal
    * balances or W_i = n (one region) → NULL. Region cells are
    * bounded by the region enum; one scan + broadcast joins. */
  def q489(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nat = Tables.customer(s, d)
      .groupBy($"c_nationkey")
      .agg(sum(floor($"c_acctbal" * 100 + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"n_regionkey".as("rk"),
        expr("(100 * cast(s as decimal(38,0))) div c").as("m"))
      .transform(Fx.materialize)
    val tot = nat.agg(sum($"m").as("sm"),
      sum(expr("cast(m as decimal(38,0)) * m")).as("sm2"),
      count(lit(1)).as("n"))
    val reg = nat.groupBy($"rk")
      .agg(sum($"m").as("srm"), count(lit(1)).as("w"))
    nat.join(broadcast(reg), "rk").crossJoin(broadcast(tot))
      .select($"nation", $"rk", $"w",
        when(expr(
          """(n * sm2 - cast(sm as decimal(38,0)) * sm)
             * (n * w - cast(w as decimal(38,0)) * w)""") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            """((cast(n as decimal(38,0)) * srm - cast(w as decimal(38,0)) * sm)
               * (cast(n as decimal(38,0)) * srm - cast(w as decimal(38,0)) * sm)
               * (n - 1) * 1000000)
               div ((n * sm2 - cast(sm as decimal(38,0)) * sm)
                 * (n * w - cast(w as decimal(38,0)) * w))"""))
          .as("z2_micro"),
        when(expr("cast(n as decimal(38,0)) * srm - cast(w as decimal(38,0)) * sm") > 0, 1)
          .when(expr("cast(n as decimal(38,0)) * srm - cast(w as decimal(38,0)) * sm") < 0, -1)
          .otherwise(0).as("sign"))
      .withColumn("flag_5pct",
        when($"z2_micro".isNull, lit(null).cast("string"))
          .when($"z2_micro" > 3841600L && $"sign" === 1, lit("hot"))
          .when($"z2_micro" > 3841600L && $"sign" === -1, lit("cold"))
          .otherwise(lit("none")))
      .orderBy($"nation")
  }

  val q489Sql: String =
    """WITH nat AS (
      |  SELECT n_name AS nation, n_regionkey AS rk,
      |    (100 * CAST(s AS HUGEINT)) // c AS m
      |  FROM (
      |    SELECT c_nationkey,
      |      CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |        AS s,
      |      CAST(count(*) AS BIGINT) AS c
      |    FROM customer GROUP BY 1) t
      |  JOIN nation ON c_nationkey = n_nationkey),
      |tot AS (
      |  SELECT CAST(sum(m) AS HUGEINT) AS sm,
      |    CAST(sum(m * m) AS HUGEINT) AS sm2,
      |    CAST(count(*) AS HUGEINT) AS n
      |  FROM nat),
      |reg AS (
      |  SELECT rk, CAST(sum(m) AS HUGEINT) AS srm,
      |    CAST(count(*) AS HUGEINT) AS w
      |  FROM nat GROUP BY 1)
      |SELECT nation, nat.rk, CAST(w AS BIGINT) AS w,
      |  CASE WHEN (n * sm2 - sm * sm) * (n * w - w * w) = 0 THEN NULL
      |    ELSE CAST(((n * srm - w * sm) * (n * srm - w * sm) * (n - 1)
      |      * 1000000) // ((n * sm2 - sm * sm) * (n * w - w * w)) AS BIGINT)
      |    END AS z2_micro,
      |  CASE WHEN n * srm - w * sm > 0 THEN 1
      |    WHEN n * srm - w * sm < 0 THEN -1 ELSE 0 END AS sign,
      |  CASE WHEN (n * sm2 - sm * sm) * (n * w - w * w) = 0 THEN NULL
      |    WHEN ((n * srm - w * sm) * (n * srm - w * sm) * (n - 1) * 1000000)
      |      // ((n * sm2 - sm * sm) * (n * w - w * w)) > 3841600
      |      AND n * srm - w * sm > 0 THEN 'hot'
      |    WHEN ((n * srm - w * sm) * (n * srm - w * sm) * (n - 1) * 1000000)
      |      // ((n * sm2 - sm * sm) * (n * w - w * w)) > 3841600
      |      AND n * srm - w * sm < 0 THEN 'cold'
      |    ELSE 'none' END AS flag_5pct
      |FROM nat JOIN reg ON nat.rk = reg.rk, tot
      |ORDER BY nation""".stripMargin

  // ------------------------------------------------------------------
  // q490 — length-bias (inspection paradox) sampling audit
  // ------------------------------------------------------------------

  /** q490 — length-bias audit per source: a TOKEN-level sampler (the
    * thing every LM pretraining mix is) sees documents
    * length-weighted, so the expected length of the doc a sampled
    * token lands in is E[L²]/E[L], not E[L] — the inspection paradox.
    * Per source this reports the doc-mean length, the char-weighted
    * mean ΣL²/ΣL a token sampler experiences, their ratio (the bias
    * factor = 1 + CV², ≥ 1), and the share of chars held by the
    * longest ⌈n/10⌉ docs — together the "is my mix secretly a
    * long-doc mix" audit that q103/q184's doc-level mixtures and
    * q322's design effect don't ask. All exact: n_chars integers,
    * ΣL² on DECIMAL(38,0) (ΣL²·n brushes 2⁶³), each statistic ONE
    * truncating micro-division; the top-decile selection rides
    * scale-safe per-source rank windows with (length, doc_id)
    * tie-break (stated). Empty/NULL-length docs excluded (stated). */
  def q490(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // per-source rank rides the scale-safe two-phase groupRanks — a
    // source-partitioned row_number window would funnel each source
    // through ONE task at 100 TB (the straggler guard's exact shape)
    val docs = Ranking.groupRanks(
        Tables.documents(s, d)
          .filter($"n_chars".isNotNull && $"n_chars" > 0)
          .select($"source", $"doc_id", $"n_chars".as("len")),
        Seq("source"), 32, $"len".desc, $"doc_id")
      .withColumnRenamed("rank", "rnk")
    val agg = docs.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"len").as("sl"),
        sum(expr("cast(len as decimal(38,0)) * len")).as("sl2"))
    val topdec = docs.join(broadcast(agg.select($"source", $"n".as("nn"))),
        "source")
      .filter($"rnk" <= expr("(nn + 9) div 10"))
      .groupBy($"source").agg(sum($"len").as("sl_top"))
    agg.join(topdec, Seq("source"), "left")
      .select($"source", $"n",
        expr("(sl * 1000000) div n").as("doc_mean_micro"),
        expr("cast((sl2 * 1000000) div sl as bigint)")
          .as("char_weighted_mean_micro"),
        expr("cast((sl2 * n * 1000000) div (cast(sl as decimal(38,0)) * sl) as bigint)")
          .as("bias_factor_micro"),
        expr("(coalesce(sl_top, 0) * 1000000) div sl")
          .as("top_decile_char_share_micro"))
      .orderBy($"source")
  }

  val q490Sql: String =
    """WITH docs AS (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS len,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(len) AS BIGINT) AS sl,
      |    CAST(sum(CAST(len AS HUGEINT) * len) AS HUGEINT) AS sl2
      |  FROM docs GROUP BY 1),
      |topdec AS (
      |  SELECT d.source, CAST(sum(d.len) AS BIGINT) AS sl_top
      |  FROM docs d JOIN agg a ON d.source = a.source
      |  WHERE d.rnk <= (a.n + 9) // 10
      |  GROUP BY 1)
      |SELECT a.source, n,
      |  (sl * 1000000) // n AS doc_mean_micro,
      |  CAST((sl2 * 1000000) // sl AS BIGINT) AS char_weighted_mean_micro,
      |  CAST((sl2 * n * 1000000) // (CAST(sl AS HUGEINT) * sl) AS BIGINT)
      |    AS bias_factor_micro,
      |  (coalesce(sl_top, 0) * 1000000) // sl
      |    AS top_decile_char_share_micro
      |FROM agg a LEFT JOIN topdec t ON a.source = t.source
      |ORDER BY a.source""".stripMargin

  // ------------------------------------------------------------------
  // q491 — Hosmer–Lemeshow calibration TEST over q318's bins
  // ------------------------------------------------------------------

  /** q491 — Hosmer–Lemeshow goodness-of-calibration test on the
    * quality-score-vs-English outcome from q318's reliability bins:
    * per score decile, HL = Σ (O − E)²/(E(1 − E/n)) where E is the
    * SUM of predicted probabilities in the bin — the pooled VERDICT
    * the q318 per-bin gap table and Brier column don't give (the
    * q274→q393 estimator→test pattern; q457's isotonic recalibration
    * is what you run when THIS rejects). Exact: E_micro = Σqm is an
    * exact integer, each bin term is the stated truncation
    * (sy·10⁶ − sq)²·n·10⁶ div (sq·(n·10⁶ − sq)) on DECIMAL(38,0)
    * (squares ≈ 2.5e21), df = usable bins − 2, verdict vs the pinned
    * χ² ladder. Degenerate bins (E = 0 or E = n, zero variance) are
    * excluded from both the sum and df (stated, the standard
    * practice). One scan + bounded-bin groupBy. */
  def q491(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bins = Tables.documents(s, d)
      .select(graft.functions.TextAnalysis.qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("y"))
      .withColumn("bin", expr("qm div 100000"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"qm").as("sq"), sum($"y").as("sy"))
      .withColumn("usable",
        ($"sq" > 0 && $"sq" < $"n" * 1000000L).cast("long"))
      .withColumn("term_micro", when($"usable" === 0, lit(null).cast("long"))
        .otherwise(expr(
          """((cast(sy as decimal(38,0)) * 1000000 - sq)
             * (cast(sy as decimal(38,0)) * 1000000 - sq) * n * 1000000)
             div (cast(sq as decimal(38,0)) * (n * 1000000 - sq))""")))
      .transform(Fx.materialize)
    val tst = bins.agg(sum($"term_micro").as("hl_micro"),
        (sum($"usable") - 2).as("df"))
      .select($"hl_micro", $"df",
        when($"hl_micro".isNull || $"df" < 1, lit(null).cast("int"))
          .otherwise(($"hl_micro" > expr(chiCritSql)).cast("int"))
          .as("reject_5pct"))
    bins.crossJoin(broadcast(tst))
      .select($"bin", $"n", $"sy".as("observed"),
        $"sq".as("expected_sum_micro"), $"term_micro",
        $"hl_micro", $"df", $"reject_5pct")
      .orderBy($"bin")
  }

  val q491Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
      |  SELECT CAST(($quality) AS BIGINT) AS qm,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT qm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(qm) AS BIGINT) AS sq, CAST(sum(y) AS BIGINT) AS sy
      |  FROM f GROUP BY 1),
      |t AS (
      |  SELECT bin, n, sq, sy,
      |    CASE WHEN sq > 0 AND sq < n * 1000000 THEN 1 ELSE 0 END AS usable,
      |    CASE WHEN sq > 0 AND sq < n * 1000000 THEN
      |      ((CAST(sy AS HUGEINT) * 1000000 - sq)
      |       * (CAST(sy AS HUGEINT) * 1000000 - sq) * n * 1000000)
      |       // (CAST(sq AS HUGEINT) * (n * 1000000 - sq))
      |      ELSE NULL END AS term_micro
      |  FROM b),
      |tst0 AS (
      |  SELECT CAST(sum(term_micro) AS BIGINT) AS hl_micro,
      |    CAST(sum(usable) - 2 AS BIGINT) AS df
      |  FROM t),
      |tst AS (
      |  SELECT hl_micro, df,
      |    CASE WHEN hl_micro IS NULL OR df < 1 THEN NULL
      |      ELSE CAST(hl_micro > $chiCritDuck AS INT) END AS reject_5pct
      |  FROM tst0)
      |SELECT bin, n, sy AS observed, sq AS expected_sum_micro,
      |  CAST(term_micro AS BIGINT) AS term_micro, hl_micro, df, reject_5pct
      |FROM t, tst ORDER BY bin""".stripMargin
  }

  // ------------------------------------------------------------------
  // q492 — sample-entropy template-match ratio (m = 2)
  // ------------------------------------------------------------------

  /** q492 — sample-entropy template-match ratio of monthly revenue:
    * among all month pairs, B counts matching 2-templates
    * (max(|y_i−y_j|, |y_{i+1}−y_{j+1}|) ≤ r) and A matching
    * 3-templates; A/B is the conditional probability that a match
    * keeps matching one step further — SampEn = −ln(A/B), and the
    * RATIO is reported (stated — ln is not engine-exact, the q465
    * convention). Low ratio = unpredictable dynamics; 1 =
    * deterministic continuation. The TEMPLATE lens of the complexity
    * battery: q442's permutation entropy sees only ORDER patterns
    * (blind to magnitude), q481's LZ76 needs exact symbol repeats —
    * SampEn matches within tolerance r = (max−min) div 20 (stated),
    * so near-repeats count. Both template indices run over 1..n−2
    * (stated, the standard comparable-range convention). All
    * integer: kilo-dollar grid, one truncating micro-division;
    * B = 0 → NULL. Pair grid is calendar² (≤84², broadcast). */
  def q492(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window.orderBy($"ym")
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
      .withColumn("y1", lead($"y", 1).over(W))
      .withColumn("y2", lead($"y", 2).over(W))
      .filter($"y2".isNotNull)
      .withColumn("t", row_number().over(W).cast("long"))
      .transform(Fx.materialize)
    val r = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select(expr("yc div 100000").as("y"))
      .agg(expr("(max(y) - min(y)) div 20").as("r"))
    val b = g.select($"t".as("tb"), $"y".as("by"), $"y1".as("by1"),
      $"y2".as("by2"))
    g.join(broadcast(b), $"tb" > $"t").crossJoin(broadcast(r))
      .agg(
        sum(when(greatest(abs($"y" - $"by"), abs($"y1" - $"by1")) <= $"r",
          1L).otherwise(0L)).as("b_count"),
        sum(when(greatest(abs($"y" - $"by"), abs($"y1" - $"by1"),
          abs($"y2" - $"by2")) <= $"r", 1L).otherwise(0L)).as("a_count"))
      .select($"b_count", $"a_count",
        when($"b_count" === 0, lit(null).cast("long"))
          .otherwise(expr("(a_count * 1000000) div b_count"))
          .as("match_ratio_micro"))
  }

  val q492Sql: String =
    """WITH g0 AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |r AS (SELECT (max(y) - min(y)) // 20 AS r FROM g0),
      |g AS (
      |  SELECT y, lead(y, 1) OVER (ORDER BY ym) AS y1,
      |    lead(y, 2) OVER (ORDER BY ym) AS y2,
      |    row_number() OVER (ORDER BY ym) AS t
      |  FROM g0
      |  QUALIFY y2 IS NOT NULL),
      |agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN greatest(abs(a.y - b.y), abs(a.y1 - b.y1)) <= r
      |      THEN 1 ELSE 0 END) AS BIGINT) AS b_count,
      |    CAST(sum(CASE WHEN greatest(abs(a.y - b.y), abs(a.y1 - b.y1),
      |        abs(a.y2 - b.y2)) <= r
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a_count
      |  FROM g a JOIN g b ON b.t > a.t, r)
      |SELECT b_count, a_count,
      |  CASE WHEN b_count = 0 THEN NULL
      |    ELSE (a_count * 1000000) // b_count END AS match_ratio_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q493 — Johnson–Lindenstrauss sign-projection ANN + recall audit
  // ------------------------------------------------------------------

  /** Deterministic ±1 JL projection matrix (16×64): md5 parity of
    * "j:i#jl" — a pinned constant both engines receive as literal
    * expression text, never computed at runtime. */
  private[graft] val jlSigns: Seq[Seq[Int]] = (1 to 16).map { j =>
    (1 to 64).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$j:$i#jl".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** One projected coordinate as expression text: a left-to-right
    * chain of IEEE adds/subtracts starting at 0.0 — bit-identical in
    * any engine that folds left (both do). `vec(i)` renders the
    * 1-based element access. */
  private def jlProjExpr(vec: Int => String, j: Int): String =
    "0.0 " + jlSigns(j - 1).zipWithIndex.map { case (sg, i0) =>
      s"${if (sg > 0) "+" else "-"} ${vec(i0 + 1)}"
    }.mkString(" ")

  /** q493 — Johnson–Lindenstrauss random-sign projection ANN: project
    * the 64-d embeddings to 16-d with a PINNED ±1 matrix (4× smaller
    * vectors, 4× cheaper distances — the JL lemma bounds the
    * distortion), rank candidates by PROJECTED cosine, and audit
    * recall@10 against the exact q60 ranking per query. The missing
    * member of the ANN family — IVF (q62) and PQ/SQ8 (q127) are
    * data-dependent (trained centroids/codebooks that drift, q315);
    * a sign projection is DATA-INDEPENDENT: no training, no retrain
    * on distribution shift, mergeable across any corpus split —
    * which is why it's the standard first stage at ingest time.
    * Determinism: the matrix is literal ±1 text (md5-derived once,
    * embedded in both engines' expressions), each projected
    * coordinate is the SAME left-to-right IEEE chain in both
    * engines, and the projected cosine reuses the q60 fold parity;
    * output carries only integers (hits, recall micro), no floats.
    * Scale: projection is a per-row map (no shuffle); the exact side
    * exists only as the audit, the q476 convention. */
  def q493(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    def sparkProj(col0: String): Seq[Column] = (1 to 16).map(j =>
      expr(jlProjExpr(i => s"CAST(element_at($col0, $i) AS DOUBLE)", j)))
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val qp = qs.select($"q_id", array(sparkProj("q_vec"): _*).as("q_pvec"))
    val tp = e.select($"vec_id", array(sparkProj("embedding"): _*).as("pvec"))
    val jl = Similarity.bruteForceTopK(qp, tp, 10,
        qVec = "q_pvec", tVec = "pvec")
      .select($"q_id", $"vec_id")
    val exact = Similarity.bruteForceTopK(qs, e, 10)
      .select($"q_id".as("eq"), $"vec_id".as("ev"))
    val hits = jl.join(exact, $"q_id" === $"eq" && $"vec_id" === $"ev",
        "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("n_hits"))
    qs.select($"q_id").join(hits, Seq("q_id"), "left")
      .select($"q_id", coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("recall_micro", $"n_hits" * 100000L)
      .orderBy($"q_id")
  }

  val q493Sql: String = {
    def duckProjList(col0: String): String =
      "[" + (1 to 16).map(j =>
        jlProjExpr(i => s"CAST($col0[$i] AS DOUBLE)", j)).mkString(", ") + "]"
    val cos = "list_dot_product(q_pvec, pvec) / " +
      "(sqrt(list_dot_product(q_pvec, q_pvec)) * " +
      "sqrt(list_dot_product(pvec, pvec)))"
    val cosExact = "list_dot_product(q_vec, t_vec) / " +
      "(sqrt(list_dot_product(q_vec, q_vec)) * " +
      "sqrt(list_dot_product(t_vec, t_vec)))"
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
      |    ${duckProjList("embedding")} AS q_pvec
      |  FROM embeddings WHERE vec_id < 5),
      |t AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
      |    ${duckProjList("embedding")} AS pvec
      |  FROM embeddings),
      |jl AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY $cos DESC, vec_id) AS rn
      |    FROM t, q WHERE vec_id <> q_id) r WHERE rn <= 10),
      |ex AS (
      |  SELECT q_id AS eq, vec_id AS ev FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY $cosExact DESC, vec_id) AS rn
      |    FROM t, q WHERE vec_id <> q_id) r WHERE rn <= 10),
      |hits AS (
      |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM jl JOIN ex ON q_id = eq AND vec_id = ev
      |  GROUP BY 1)
      |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
      |  coalesce(h.n_hits, 0) * 100000 AS recall_micro
      |FROM q LEFT JOIN hits h ON q.q_id = h.q_id
      |ORDER BY q.q_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q494 — Siegel repeated-median trend (50% breakdown)
  // ------------------------------------------------------------------

  /** q494 — Siegel repeated-median regression of monthly revenue on
    * the month ordinal: slope = median_i median_{j≠i} slope(i,j) —
    * the NESTED median reaches the maximal 50% breakdown, where
    * Theil–Sen's single pair-median (q274) already breaks at ~29%
    * (corrupt 5 of 12 points and 68% of PAIRS touch a corrupted
    * point; every per-point inner median with a clean i still sees a
    * majority of clean js). Intercept = median_i (y_i·dx − dy·t_i) /
    * dx on the EXACT integer numerators (stated). Determinism is the
    * q274 convention: slopes ordered by (IEEE quotient, dy, dx) with
    * pairs canonicalized to dx > 0, nearest-rank lower medians at
    * both levels, the exact (dy, dx) of the winning slope emitted.
    * Pair grid is calendar² (≤84², broadcast); inner medians are
    * PARTITIONED windows (by anchor month), the outer a bounded-grid
    * window. n ≤ 2 → empty. */
  def q494(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
      .withColumn("t", row_number().over(W.orderBy($"ym")).cast("long"))
      .transform(Fx.materialize)
    val b = g.select($"t".as("tj"), $"y".as("yj"))
    val slopes = g.join(broadcast(b), $"tj" =!= $"t")
      .select($"t", $"y",
        when($"tj" > $"t", $"yj" - $"y").otherwise($"y" - $"yj").as("dy"),
        when($"tj" > $"t", $"tj" - $"t").otherwise($"t" - $"tj").as("dx"))
      .withColumn("slope", $"dy".cast("double") / $"dx")
    val inner = slopes
      .withColumn("rk", row_number()
        .over(W.partitionBy($"t").orderBy($"slope", $"dy", $"dx")))
      .withColumn("np", count(lit(1)).over(W.partitionBy($"t")))
      .filter($"rk" === expr("(np + 1) div 2"))
      .select($"t", $"y", $"dy", $"dx", $"slope")
      .transform(Fx.materialize)
    val outer = inner
      .withColumn("ork", row_number().over(W.orderBy($"slope", $"dy", $"dx")))
      .withColumn("n", count(lit(1)).over(W.partitionBy()))
      .filter($"ork" === expr("(n + 1) div 2"))
      .select($"n".as("n_months"), $"dy".as("med_dy"), $"dx".as("med_dx"))
    val ic = inner.crossJoin(broadcast(outer))
      .select($"n_months", $"med_dy", $"med_dx",
        ($"y" * $"med_dx" - $"med_dy" * $"t").as("c"))
      .withColumn("crk", row_number().over(W.orderBy($"c")))
      .filter($"crk" === expr("(n_months + 1) div 2"))
    ic.select($"n_months".cast("long").as("n_months"), $"med_dy", $"med_dx",
      r6($"med_dy".cast("double") / $"med_dx").as("slope_per_month"),
      expr("(c * 1000000) div med_dx").as("intercept_micro"))
  }

  val q494Sql: String =
    """WITH g0 AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |g AS (SELECT y, CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS t
      |      FROM g0),
      |slopes AS (
      |  SELECT a.t, a.y,
      |    CASE WHEN b.t > a.t THEN b.y - a.y ELSE a.y - b.y END AS dy,
      |    CASE WHEN b.t > a.t THEN b.t - a.t ELSE a.t - b.t END AS dx,
      |    CAST(CASE WHEN b.t > a.t THEN b.y - a.y ELSE a.y - b.y END
      |      AS DOUBLE) /
      |      (CASE WHEN b.t > a.t THEN b.t - a.t ELSE a.t - b.t END) AS slope
      |  FROM g a JOIN g b ON b.t <> a.t),
      |inner_med AS (
      |  SELECT t, y, dy, dx, slope FROM (
      |    SELECT t, y, dy, dx, slope,
      |      row_number() OVER (PARTITION BY t ORDER BY slope, dy, dx) AS rk,
      |      count(*) OVER (PARTITION BY t) AS np
      |    FROM slopes) r
      |  WHERE rk = (np + 1) // 2),
      |outer_med AS (
      |  SELECT n AS n_months, dy AS med_dy, dx AS med_dx FROM (
      |    SELECT dy, dx,
      |      row_number() OVER (ORDER BY slope, dy, dx) AS ork,
      |      count(*) OVER () AS n
      |    FROM inner_med) r
      |  WHERE ork = (n + 1) // 2),
      |ics AS (
      |  SELECT n_months, med_dy, med_dx,
      |    i.y * med_dx - med_dy * i.t AS c,
      |    row_number() OVER (ORDER BY i.y * med_dx - med_dy * i.t) AS crk
      |  FROM inner_med i, outer_med)
      |SELECT CAST(n_months AS BIGINT) AS n_months, med_dy, med_dx,
      |  floor(CAST(med_dy AS DOUBLE) / med_dx * 1000000 + 0.5) / 1000000
      |    AS slope_per_month,
      |  (c * 1000000) // med_dx AS intercept_micro
      |FROM ics WHERE crk = (n_months + 1) // 2""".stripMargin

  // ------------------------------------------------------------------
  // q495 — classifier threshold selection (Youden / F1 / MCC²)
  // ------------------------------------------------------------------

  /** q495 — operating-point selection for the quality-score classifier
    * (score = q318's qm, outcome = English): sweep the 11 bin-edge
    * thresholds, emit the exact confusion counts and THREE selection
    * criteria per threshold — Youden's J = TPR − FPR (balanced), F1
    * (precision-weighted, the imbalanced-data pick), and MCC²+sign
    * (the all-margins-honest one, reported squared so no sqrt
    * crosses engines — the q460 convention) — plus argmax flags with
    * a lowest-threshold tie-break. The DECISION layer the evaluation
    * battery stops short of: q254 scores ranking (AUC), q318/q491
    * score calibration — none of them names the cutoff a filter
    * should actually run at. Confusion counts come from running
    * sums over the bounded 11-bin grid (one scan); every metric is a
    * stated truncating micro-division of exact integers with
    * zero-margin NULL guards. */
  def q495(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val bins = Tables.documents(s, d)
      .select(graft.functions.TextAnalysis.qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("y"))
      .groupBy(expr("qm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"y").as("pos"))
    val wAll = W.partitionBy().orderBy($"bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wGe = W.partitionBy().orderBy($"bin")
      .rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val conf = bins
      .withColumn("tp", sum($"pos").over(wGe))
      .withColumn("p_ge", sum($"n").over(wGe))
      .withColumn("all_pos", sum($"pos").over(wAll))
      .withColumn("all_n", sum($"n").over(wAll))
      .select(($"bin" * 100000L).as("thr_micro"), $"tp",
        ($"p_ge" - $"tp").as("fp"), ($"all_pos" - $"tp").as("fn"),
        ($"all_n" - $"p_ge" - $"all_pos" + $"tp").as("tn"))
      .withColumn("youden_micro",
        when($"tp" + $"fn" === 0 || $"fp" + $"tn" === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "(tp * 1000000) div (tp + fn) - (fp * 1000000) div (fp + tn)")))
      .withColumn("f1_micro",
        when($"tp" * 2 + $"fp" + $"fn" === 0, lit(null).cast("long"))
          .otherwise(expr("(2 * tp * 1000000) div (2 * tp + fp + fn)")))
      .withColumn("mcc2_micro",
        when(($"tp" + $"fp") * ($"tp" + $"fn") * ($"tn" + $"fp") *
          ($"tn" + $"fn") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """((cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn)
               * (cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn)
               * 1000000)
               div (cast(tp + fp as decimal(38,0)) * (tp + fn) * (tn + fp)
                 * (tn + fn))""")))
      .withColumn("mcc_sign",
        when(expr("cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn") > 0, 1)
          .when(expr("cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn") < 0, -1)
          .otherwise(0))
    conf
      .withColumn("best_youden", (row_number().over(W.partitionBy()
        .orderBy($"youden_micro".desc_nulls_last, $"thr_micro")) === 1)
        .cast("int"))
      .withColumn("best_f1", (row_number().over(W.partitionBy()
        .orderBy($"f1_micro".desc_nulls_last, $"thr_micro")) === 1)
        .cast("int"))
      .orderBy($"thr_micro")
  }

  val q495Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
      |  SELECT CAST(($quality) AS BIGINT) AS qm,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |bins AS (
      |  SELECT qm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(y) AS BIGINT) AS pos
      |  FROM f GROUP BY 1),
      |-- The BIGINT casts on the window sums are LOAD-BEARING: sum()
      |-- returns HUGEINT in DuckDB, which renders as pandas float64 —
      |-- uncast tp/fp/fn/tn (and the metrics derived from them) hash
      |-- as "123.0" against Spark's BIGINT "123" in the driver compare
      |-- (the r13/r14 hash-red cause; values were always identical).
      |sfx AS (
      |  SELECT bin,
      |    CAST(sum(pos) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW
      |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS sp,
      |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW
      |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS sn,
      |    CAST(sum(pos) OVER () AS BIGINT) AS ap,
      |    CAST(sum(n) OVER () AS BIGINT) AS an
      |  FROM bins),
      |conf AS (
      |  SELECT bin * 100000 AS thr_micro, sp AS tp, sn - sp AS fp,
      |    ap - sp AS fn, an - sn - ap + sp AS tn
      |  FROM sfx),
      |met AS (
      |  SELECT thr_micro, tp, fp, fn, tn,
      |    CASE WHEN tp + fn = 0 OR fp + tn = 0 THEN NULL
      |      ELSE (tp * 1000000) // (tp + fn) - (fp * 1000000) // (fp + tn)
      |      END AS youden_micro,
      |    CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
      |      ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS f1_micro,
      |    CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
      |      THEN NULL
      |      ELSE CAST(((CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn)
      |        * (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn)
      |        * 1000000)
      |        // (CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp)
      |          * (tn + fn)) AS BIGINT) END AS mcc2_micro,
      |    CASE WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn > 0
      |      THEN 1
      |      WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn < 0
      |      THEN -1 ELSE 0 END AS mcc_sign
      |  FROM conf)
      |SELECT thr_micro, tp, fp, fn, tn, youden_micro, f1_micro,
      |  mcc2_micro, mcc_sign,
      |  CAST(row_number() OVER (ORDER BY youden_micro DESC NULLS LAST,
      |    thr_micro) = 1 AS INT) AS best_youden,
      |  CAST(row_number() OVER (ORDER BY f1_micro DESC NULLS LAST,
      |    thr_micro) = 1 AS INT) AS best_f1
      |FROM met ORDER BY thr_micro""".stripMargin
  }

  // ------------------------------------------------------------------
  // q496 — cross-source duplicate-flow matrix (boilerplate provenance)
  // ------------------------------------------------------------------

  /** q496 — cross-source duplicate-flow matrix: for every source pair,
    * how many 60-char-prefix duplicate FAMILIES (q487's key) they
    * share and how many cross-source doc pairs those families induce
    * — the PROVENANCE lens over the dedup battery: q50-q57 find and
    * cluster duplicates, q59 prices the savings, q487 audits split
    * leakage; this names WHICH source pairs exchange boilerplate, the
    * input a mixing policy (q103/q184) needs before double-counting
    * a syndicated feed. Scale shape: families aggregate FIRST
    * (groupBy (prefix, source) → ≤ sources rows per family), the
    * family self-join fans out only to sources² per family, and the
    * output is bounded by the source-pair grid. All exact integer
    * counts. */
  def q496(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fam = Tables.documents(s, d)
      .filter($"text".isNotNull)
      .groupBy(substring($"text", 1, 60).as("grp"), $"source")
      .agg(count(lit(1)).as("k"))
      .transform(Fx.materialize)
    val b = fam.select($"grp".as("bgrp"), $"source".as("bsource"),
      $"k".as("bk"))
    fam.join(b, $"grp" === $"bgrp" && $"source" < $"bsource")
      .groupBy($"source".as("s_lo"), $"bsource".as("s_hi"))
      .agg(count(lit(1)).as("n_shared_families"),
        sum($"k" * $"bk").as("n_cross_pairs"))
      .orderBy($"s_lo", $"s_hi")
  }

  val q496Sql: String =
    """WITH fam AS (
      |  SELECT substr(text, 1, 60) AS grp, source,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2)
      |SELECT a.source AS s_lo, b.source AS s_hi,
      |  CAST(count(*) AS BIGINT) AS n_shared_families,
      |  CAST(sum(a.k * b.k) AS BIGINT) AS n_cross_pairs
      |FROM fam a JOIN fam b ON a.grp = b.grp AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q497 — Ramsey RESET functional-form test
  // ------------------------------------------------------------------

  /** q497 — Ramsey RESET test of the linear monthly-revenue trend: is
    * y ~ α + β·t even the right SHAPE? Add the squared fitted value
    * as a second regressor and test its contribution — computed as
    * the partial correlation of the TWO t-cleared residual series
    * (e_y = D·y − C − B·t exactly, e_z likewise for the stated
    * squared-fitted grid z = (f div 10³)² div 10⁶), with
    * F = (n−3)·r²/(1−r²) against the pinned asymptotic χ²(1)
    * critical (stated). The MISSPECIFICATION question the rest of
    * the trend battery assumes away: q274/q494 fit robust LINES,
    * q455 tests stability OF a line, q383 quantile-fits a line —
    * RESET asks whether curvature is leaking into all of them.
    * Exactness: residuals are denominator-cleared integers coarsened
    * onto stated grids (e_y div 10⁶, e_z div 10¹² — the q454 move;
    * DECIMAL(38,0) bounds stated at the monthly scale), moments are
    * exact, and F follows the q459/q478 fixed double pipeline.
    * Degenerate (a perfect line, zero residual variance) → NULL —
    * no curvature evidence, stated. */
  def q497(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
      .withColumn("t", row_number().over(W.orderBy($"ym")).cast("long"))
    val m = g.agg(count(lit(1)).as("n"), sum($"t").as("st"),
      sum($"y").as("sy"), sum(expr("cast(t as decimal(38,0)) * t")).as("stt"),
      sum(expr("cast(t as decimal(38,0)) * y")).as("sty"))
    val base = g.crossJoin(broadcast(m))
      .withColumn("dd", expr("n * stt - cast(st as decimal(38,0)) * st"))
      .withColumn("bb", expr("n * sty - cast(st as decimal(38,0)) * sy"))
      .withColumn("cc", expr("sy * stt - cast(st as decimal(38,0)) * sty"))
      .withColumn("f_num", expr("cc + bb * t"))
      .withColumn("z", expr(
        "(cast(f_num div 1000 as decimal(38,0)) * (f_num div 1000)) div 1000000"))
      .withColumn("ey", expr("(dd * y - cc - bb * t) div 1000000"))
      .transform(Fx.materialize)
    val mz = base.agg(count(lit(1)).as("n2"),
      sum($"z").as("sz"),
      sum(expr("cast(t as decimal(38,0)) * z")).as("stz"),
      max($"dd").as("dd2"), max($"stt").as("stt2"), max($"st").as("st3"))
    val ez = base.crossJoin(broadcast(mz))
      .withColumn("bz", expr("n2 * stz - cast(st3 as decimal(38,0)) * sz"))
      .withColumn("cz", expr("sz * stt2 - cast(st3 as decimal(38,0)) * stz"))
      .withColumn("ezv", expr("(dd2 * z - cz - bz * t) div 1000000000000"))
      .select($"t", $"ey", $"ezv")
    ez.agg(count(lit(1)).as("n"),
        sum($"ey").as("sx"), sum($"ezv").as("sy2"),
        sum(expr("cast(ey as decimal(38,0)) * ezv")).as("sxy"),
        sum(expr("cast(ey as decimal(38,0)) * ey")).as("sxx"),
        sum(expr("cast(ezv as decimal(38,0)) * ezv")).as("syy"))
      .withColumn("cxx", expr("n * sxx - cast(sx as decimal(38,0)) * sx"))
      .withColumn("cyy", expr("n * syy - cast(sy2 as decimal(38,0)) * sy2"))
      .withColumn("cxy", expr("n * sxy - cast(sx as decimal(38,0)) * sy2"))
      .select($"n".cast("long").as("n_months"),
        when($"cxx" === 0 || $"cyy" === 0 ||
          expr("cxx * cyy - cxy * cxy") === 0, lit(null).cast("long"))
          .otherwise(floor(
            expr("cast(n - 3 as double)") *
            expr("cast(cxy * cxy as double)") /
            expr("cast(cxx * cyy - cxy * cxy as double)")
            * 1000000 + 0.5).cast("long"))
          .as("reset_f_micro"))
      .withColumn("reject_5pct",
        when($"reset_f_micro".isNull, lit(null).cast("int"))
          .otherwise(($"reset_f_micro" > 3841459L).cast("int")))
  }

  val q497Sql: String =
    """WITH g0 AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |g AS (SELECT y, CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS t
      |      FROM g0),
      |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(t) AS HUGEINT) AS st, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
      |    CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
      |  FROM g),
      |base AS (
      |  SELECT t,
      |    ((( (sy * stt - st * sty) + (n * sty - st * sy) * t ) // 1000)
      |     * (( (sy * stt - st * sty) + (n * sty - st * sy) * t ) // 1000))
      |      // 1000000 AS z,
      |    ((n * stt - st * st) * y
      |      - (sy * stt - st * sty) - (n * sty - st * sy) * t) // 1000000
      |      AS ey
      |  FROM g, m),
      |mz AS (SELECT CAST(count(*) AS HUGEINT) AS n2,
      |    CAST(sum(t) AS HUGEINT) AS st3, CAST(sum(z) AS HUGEINT) AS sz,
      |    CAST(sum(CAST(t AS HUGEINT) * z) AS HUGEINT) AS stz
      |  FROM base),
      |m2 AS (SELECT n2, st3, sz, stz, n, st, stt, sy, sty FROM mz, m),
      |ez AS (
      |  SELECT b.t, b.ey,
      |    ((n * stt - st * st) * b.z
      |      - (sz * stt - st3 * stz) - (n2 * stz - st3 * sz) * b.t)
      |      // 1000000000000 AS ezv
      |  FROM base b, m2),
      |agg AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(ey) AS HUGEINT) AS sx, CAST(sum(ezv) AS HUGEINT) AS sy2,
      |    sum(CAST(ey AS HUGEINT) * ezv) AS sxy,
      |    sum(CAST(ey AS HUGEINT) * ey) AS sxx,
      |    sum(CAST(ezv AS HUGEINT) * ezv) AS syy
      |  FROM ez)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy2 * sy2 = 0
      |      OR (n * sxx - sx * sx) * (n * syy - sy2 * sy2)
      |        - (n * sxy - sx * sy2) * (n * sxy - sx * sy2) = 0 THEN NULL
      |    ELSE CAST(floor(
      |      CAST(n - 3 AS DOUBLE)
      |      * CAST((n * sxy - sx * sy2) * (n * sxy - sx * sy2) AS DOUBLE)
      |      / CAST((n * sxx - sx * sx) * (n * syy - sy2 * sy2)
      |          - (n * sxy - sx * sy2) * (n * sxy - sx * sy2) AS DOUBLE)
      |      * 1000000 + 0.5) AS BIGINT) END AS reset_f_micro,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy2 * sy2 = 0
      |      OR (n * sxx - sx * sx) * (n * syy - sy2 * sy2)
      |        - (n * sxy - sx * sy2) * (n * sxy - sx * sy2) = 0 THEN NULL
      |    ELSE CAST(CAST(floor(
      |      CAST(n - 3 AS DOUBLE)
      |      * CAST((n * sxy - sx * sy2) * (n * sxy - sx * sy2) AS DOUBLE)
      |      / CAST((n * sxx - sx * sx) * (n * syy - sy2 * sy2)
      |          - (n * sxy - sx * sy2) * (n * sxy - sx * sy2) AS DOUBLE)
      |      * 1000000 + 0.5) AS BIGINT) > 3841459 AS INT) END AS reject_5pct
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q498 — event study around the 1998-01 structural date
  // ------------------------------------------------------------------

  /** q498 — event study around 1998-01 (q455's structural-break
    * date): estimate the in-sample mean and variance of monthly
    * revenue from the 12 months BEFORE the event, then price the
    * 3-month event window's cumulative abnormal revenue
    * CAR = Σ(y_t − μ̂) against it — the finance-methodology member
    * of the causal battery: q455 asks "did the REGRESSION change",
    * q281's DiD needs a control group; the event study asks "how
    * much revenue did the event add, and is it outside the
    * pre-period's own noise", control-free. Exact: with
    * A = Σ_event(n·y_t − S) and SS = Σ_est(n·y_i − S)², the z²
    * against Var(CAR) = L·s² collapses to the EXACT rational
    * A²(n−1) / (SS·L·n²·L/n²...) — A²(n−1) div (SS·L) in the
    * cleared form; one truncating micro-division, two-sided pinned
    * 1.96². Zero pre-period variance or missing windows → NULL
    * (stated). */
  def q498(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select($"ym", expr("yc div 100000").as("y"))
      .transform(Fx.materialize)
    val est = g.filter($"ym" >= 199701 && $"ym" <= 199712)
      .agg(count(lit(1)).as("n"), sum($"y").as("s"))
    val ss = g.filter($"ym" >= 199701 && $"ym" <= 199712)
      .crossJoin(broadcast(est))
      .agg(sum(expr(
        "cast(n * y - s as decimal(38,0)) * (n * y - s)")).as("ssv"))
    val ev = g.filter($"ym" >= 199801 && $"ym" <= 199803)
      .crossJoin(broadcast(est))
      .agg(count(lit(1)).as("l"), sum(expr("n * y - s")).as("a"))
    est.crossJoin(broadcast(ss)).crossJoin(broadcast(ev))
      .select($"n".as("n_est"), $"l".as("n_event"),
        when($"n" === 0, lit(null).cast("long"))
          .otherwise(expr("a div n")).as("car_k"),
        when($"n" < 2 || $"l" === 0 || $"ssv" === 0, lit(null).cast("long"))
          .otherwise(expr(
            """cast((cast(a as decimal(38,0)) * a * (n - 1) * 1000000)
               div (ssv * l) as bigint)"""))
          .as("z2_micro"),
        when($"a" > 0, 1).when($"a" < 0, -1).otherwise(0).as("sign"))
      .withColumn("reject_5pct",
        when($"z2_micro".isNull, lit(null).cast("int"))
          .otherwise(($"z2_micro" > 3841600L).cast("int")))
  }

  val q498Sql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate)*100 + month(o_orderdate) AS ym,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      // 100000 AS y
      |  FROM orders GROUP BY 1),
      |est AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS s
      |  FROM g WHERE ym >= 199701 AND ym <= 199712),
      |ss AS (
      |  SELECT sum(CAST(n * y - s AS HUGEINT) * (n * y - s)) AS ssv
      |  FROM g, est WHERE ym >= 199701 AND ym <= 199712),
      |ev AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS l,
      |    CAST(sum(n * y - s) AS HUGEINT) AS a
      |  FROM g, est WHERE ym >= 199801 AND ym <= 199803)
      |SELECT CAST(n AS BIGINT) AS n_est, CAST(l AS BIGINT) AS n_event,
      |  CASE WHEN n = 0 THEN NULL ELSE CAST(a // n AS BIGINT) END AS car_k,
      |  CASE WHEN n < 2 OR l = 0 OR ssv = 0 THEN NULL
      |    ELSE CAST((a * a * (n - 1) * 1000000) // (ssv * l) AS BIGINT) END
      |    AS z2_micro,
      |  CASE WHEN a > 0 THEN 1 WHEN a < 0 THEN -1 ELSE 0 END AS sign,
      |  CASE WHEN n < 2 OR l = 0 OR ssv = 0 THEN NULL
      |    ELSE CAST((a * a * (n - 1) * 1000000) // (ssv * l) > 3841600
      |      AS INT) END AS reject_5pct
      |FROM est, ss, ev""".stripMargin

  // ------------------------------------------------------------------
  // q499 — error-correction model: speed of adjustment
  // ------------------------------------------------------------------

  /** q499 — error-correction model between the AUTOMOBILE and
    * BUILDING monthly revenue series: Δy_t = α + λ·u_{t−1} + γ·Δx_t,
    * where u is q451's long-run cointegration residual — the
    * ESTIMATOR layer over q451's test (the q274→q393 pattern): q451
    * says WHETHER the pair mean-reverts, λ says HOW FAST (the
    * fraction of last month's disequilibrium closed per month;
    * cointegration ⇒ λ < 0), with Δx controlling the short-run
    * co-movement that would otherwise masquerade as adjustment.
    * Exactness: u is the q451 denominator-cleared residual coarsened
    * by the stated div 10⁸ (the q454 move — S₁₁·S₂₂ would burst
    * DECIMAL(38,0) raw), the two-regressor λ̂ comes from exact
    * Cramer moments (the q453 machinery), and the natural-units
    * λ_micro = (num/den)·D is the q459 fixed double pipeline over
    * correctly-rounded casts. Singular design (constant u or Δx) →
    * NULL. One fact scan; everything after runs on the bounded month
    * grid. */
  def q499(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = segKiloMonthly(s, d)
    val m = g.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
    val resid = g.crossJoin(broadcast(m))
      .select($"ym", $"x", $"y",
        expr("n * sxx - cast(sx as decimal(38,0)) * sx").as("dd"),
        expr("""((n * sxx - cast(sx as decimal(38,0)) * sx) * y
                - (sy * sxx - cast(sx as decimal(38,0)) * sxy)
                - (n * sxy - cast(sx as decimal(38,0)) * sy) * x)
               div 100000000""").as("u"))
      .withColumn("rn", row_number().over(W.orderBy($"ym")).cast("long"))
      .transform(Fx.materialize)
    val rows = resid.select(($"rn" + 1).as("rn"), $"u".as("ul"),
        $"x".as("xl"), $"y".as("yl"))
      .join(resid.select($"rn", $"x", $"y", $"dd"), "rn")
      .select($"dd", $"ul", ($"x" - $"xl").as("dx"), ($"y" - $"yl").as("dy"))
    rows.agg(count(lit(1)).as("mm"), max($"dd").as("dd"),
        sum($"ul").as("s1"), sum($"dx").as("s2"), sum($"dy").as("sy0"),
        sum(expr("cast(ul as decimal(38,0)) * ul")).as("s11"),
        sum(expr("cast(ul as decimal(38,0)) * dx")).as("s12"),
        sum(expr("cast(dx as decimal(38,0)) * dx")).as("s22"),
        sum(expr("cast(ul as decimal(38,0)) * dy")).as("s1y"),
        sum(expr("cast(dx as decimal(38,0)) * dy")).as("s2y"))
      .withColumn("c11", expr("mm * s11 - s1 * cast(s1 as decimal(38,0))"))
      .withColumn("c12", expr("mm * s12 - s1 * cast(s2 as decimal(38,0))"))
      .withColumn("c22", expr("mm * s22 - s2 * cast(s2 as decimal(38,0))"))
      .withColumn("c1y", expr("mm * s1y - s1 * cast(sy0 as decimal(38,0))"))
      .withColumn("c2y", expr("mm * s2y - s2 * cast(sy0 as decimal(38,0))"))
      .select($"mm".cast("long").as("n_pairs"),
        when(expr("c11 * c22 - c12 * c12") === 0, lit(null).cast("long"))
          .otherwise(floor(
            expr("cast(c22 * c1y - c12 * c2y as double)") /
              expr("cast(c11 * c22 - c12 * c12 as double)") *
              expr("cast(dd as double)") / 1e8
            * 1000000 + 0.5).cast("long"))
          .as("lambda_micro"))
      .withColumn("mean_reverting",
        when($"lambda_micro".isNull, lit(null).cast("int"))
          .otherwise(($"lambda_micro" < 0).cast("int")))
  }

  val q499Sql: String =
    s"""WITH gg AS ($segKiloMonthlySql),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |  FROM gg),
      |resid AS (
      |  SELECT ym, x, y, n * sxx - sx * sx AS dd,
      |    ((n * sxx - sx * sx) * y - (sy * sxx - sx * sxy)
      |      - (n * sxy - sx * sy) * x) // 100000000 AS u,
      |    CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS rn
      |  FROM gg, m),
      |rows_ AS (
      |  SELECT c.dd, p.u AS ul, c.x - p.x AS dx, c.y - p.y AS dy
      |  FROM resid c JOIN resid p ON c.rn = p.rn + 1),
      |agg AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS mm, max(dd) AS dd,
      |    CAST(sum(ul) AS HUGEINT) AS s1, CAST(sum(dx) AS HUGEINT) AS s2,
      |    CAST(sum(dy) AS HUGEINT) AS sy0,
      |    sum(CAST(ul AS HUGEINT) * ul) AS s11,
      |    sum(CAST(ul AS HUGEINT) * dx) AS s12,
      |    sum(CAST(dx AS HUGEINT) * dx) AS s22,
      |    sum(CAST(ul AS HUGEINT) * dy) AS s1y,
      |    sum(CAST(dx AS HUGEINT) * dy) AS s2y
      |  FROM rows_),
      |cr AS (
      |  SELECT mm, dd,
      |    mm * s11 - s1 * s1 AS c11, mm * s12 - s1 * s2 AS c12,
      |    mm * s22 - s2 * s2 AS c22, mm * s1y - s1 * sy0 AS c1y,
      |    mm * s2y - s2 * sy0 AS c2y
      |  FROM agg)
      |SELECT CAST(mm AS BIGINT) AS n_pairs,
      |  CASE WHEN c11 * c22 - c12 * c12 = 0 THEN NULL
      |    ELSE CAST(floor(
      |      CAST(c22 * c1y - c12 * c2y AS DOUBLE)
      |      / CAST(c11 * c22 - c12 * c12 AS DOUBLE)
      |      * CAST(dd AS DOUBLE) / 1e8 * 1000000 + 0.5) AS BIGINT) END
      |    AS lambda_micro,
      |  CASE WHEN c11 * c22 - c12 * c12 = 0 THEN NULL
      |    ELSE CAST(CAST(floor(
      |      CAST(c22 * c1y - c12 * c2y AS DOUBLE)
      |      / CAST(c11 * c22 - c12 * c12 AS DOUBLE)
      |      * CAST(dd AS DOUBLE) / 1e8 * 1000000 + 0.5) AS BIGINT) < 0
      |      AS INT) END AS mean_reverting
      |FROM cr""".stripMargin

  // ------------------------------------------------------------------
  // q500 — source curation scorecard (the mixing gate, composed)
  // ------------------------------------------------------------------

  /** q500 — the source-level curation scorecard: one row per source
    * with the four exact signals the mixing decision actually reads —
    * quality pass rate (share with q318's score ≥ the 0.5 threshold
    * q495 sweeps), duplicate-family membership rate (q487's 60-char
    * prefix key), English share, and the q490 length-bias factor —
    * folded into a pinned keep/review/drop verdict (fail gates:
    * pass < 0.5, dup > 0.2, bias > 2; 0 fails = keep, 1 = review,
    * ≥2 = drop — stated literals). The q308-leaderboard pattern: the
    * building blocks are each oracle-checked on their own; the NEW
    * artifact is the one table a q103/q184 mixing policy consumes to
    * decide which sources enter the next pretraining mix. All exact
    * integer rates (one truncating micro-division each); NULL-text
    * docs are excluded from every signal (stated). Scale: one doc
    * scan + one family aggregate joined back on the family key —
    * no pair materialization anywhere. */
  def q500(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .filter($"text".isNotNull && $"n_chars".isNotNull && $"n_chars" > 0)
      .select($"source", substring($"text", 1, 60).as("grp"),
        (graft.functions.TextAnalysis.qualityMicro($"text") >= 500000L)
          .cast("long").as("q_pass"),
        ($"lang" === "en").cast("long").as("is_en"), $"n_chars".as("len"))
      .transform(Fx.materialize)
    val fam = docs.groupBy($"grp").agg(count(lit(1)).as("k"))
    val scored = docs.join(fam, "grp")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"q_pass").as("nq"), sum($"is_en").as("ne"),
        sum(($"k" >= 2).cast("long")).as("ndup"),
        sum($"len").as("sl"),
        sum(expr("cast(len as decimal(38,0)) * len")).as("sl2"))
      .select($"source", $"n_docs",
        expr("(nq * 1000000) div n_docs").as("quality_pass_micro"),
        expr("(ndup * 1000000) div n_docs").as("dup_rate_micro"),
        expr("(ne * 1000000) div n_docs").as("en_rate_micro"),
        expr("cast((sl2 * n_docs * 1000000) div (cast(sl as decimal(38,0)) * sl) as bigint)")
          .as("bias_factor_micro"))
      .withColumn("n_fails",
        ($"quality_pass_micro" < 500000L).cast("int") +
        ($"dup_rate_micro" > 200000L).cast("int") +
        ($"bias_factor_micro" > 2000000L).cast("int"))
      .withColumn("verdict",
        when($"n_fails" === 0, lit("keep"))
          .when($"n_fails" === 1, lit("review"))
          .otherwise(lit("drop")))
    scored.orderBy($"source")
  }

  val q500Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH docs AS (
      |  SELECT source, substr(text, 1, 60) AS grp,
      |    CASE WHEN CAST(($quality) AS BIGINT) >= 500000
      |      THEN 1 ELSE 0 END AS q_pass,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
      |    CAST(n_chars AS BIGINT) AS len
      |  FROM documents
      |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
      |fam AS (SELECT grp, CAST(count(*) AS BIGINT) AS k
      |  FROM docs GROUP BY 1),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(q_pass) AS BIGINT) AS nq,
      |    CAST(sum(is_en) AS BIGINT) AS ne,
      |    CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ndup,
      |    CAST(sum(len) AS BIGINT) AS sl,
      |    CAST(sum(CAST(len AS HUGEINT) * len) AS HUGEINT) AS sl2
      |  FROM docs JOIN fam USING (grp)
      |  GROUP BY 1),
      |sc AS (
      |  SELECT source, n_docs,
      |    (nq * 1000000) // n_docs AS quality_pass_micro,
      |    (ndup * 1000000) // n_docs AS dup_rate_micro,
      |    (ne * 1000000) // n_docs AS en_rate_micro,
      |    CAST((sl2 * n_docs * 1000000) // (CAST(sl AS HUGEINT) * sl)
      |      AS BIGINT) AS bias_factor_micro
      |  FROM agg),
      |fl AS (
      |  SELECT *,
      |    CAST(quality_pass_micro < 500000 AS INT)
      |      + CAST(dup_rate_micro > 200000 AS INT)
      |      + CAST(bias_factor_micro > 2000000 AS INT) AS n_fails
      |  FROM sc)
      |SELECT source, n_docs, quality_pass_micro, dup_rate_micro,
      |  en_rate_micro, bias_factor_micro, n_fails,
      |  CASE WHEN n_fails = 0 THEN 'keep' WHEN n_fails = 1 THEN 'review'
      |    ELSE 'drop' END AS verdict
      |FROM fl ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // q501 — Markov order test (is first-order memory enough?)
  // ------------------------------------------------------------------

  /** q501 — Markov ORDER test on the behavior chain: does the next
    * event depend only on the current one (first-order, the
    * assumption q226's rates, q415's entropy rate and q488's
    * absorption pricing all make), or does the step BEFORE still
    * matter? χ² compares observed triple counts n_abc against the
    * first-order expectation E = n_ab·n_·bc/n_·b· over the
    * ZERO-FILLED (a,b,c) grid (cells with E > 0 and O = 0 must
    * contribute E — the cross-multiplied per-cell truncation
    * (O·n_b − n_ab·n_bc)²·10⁶ div (n_b·n_ab·n_bc) handles both cases
    * in one formula), df = Σ_b (rows_b−1)(cols_b−1), verdict by the
    * stated normal approximation (χ²−df)/√(2df) > 1.645 as the
    * all-integer comparison (χ²µ − df·10⁶)² > 2·df·2706025·10⁶ on
    * the high side. Per-user lag windows (the q226 shape); the cell
    * grid is type-enum³ bounded. df = 0 → NULL. */
  def q501(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUserTime = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us", $"event_id")
    val triples = Fx.eventTs(Tables.events(s, d))
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
      .withColumn("p1", lag($"event_type", 1).over(byUserTime))
      .withColumn("p2", lag($"event_type", 2).over(byUserTime))
      .filter($"p2".isNotNull)
      .groupBy($"p2".as("a"), $"p1".as("b"), $"event_type".as("c"))
      .agg(count(lit(1)).as("n"))
      .transform(Fx.materialize)
    val ab = triples.groupBy($"a", $"b").agg(sum($"n").as("nab"))
    val bc = triples.groupBy($"b", $"c").agg(sum($"n").as("nbc"))
    val bm = triples.groupBy($"b").agg(sum($"n").as("nb"))
    val grid = ab.join(bc, "b").join(bm, "b")
      .join(triples, Seq("a", "b", "c"), "left")
      .withColumn("o", coalesce($"n", lit(0L)))
      .withColumn("term_micro", expr(
        """((cast(o as decimal(38,0)) * nb - cast(nab as decimal(38,0)) * nbc)
           * (cast(o as decimal(38,0)) * nb - cast(nab as decimal(38,0)) * nbc)
           * 1000000)
           div (cast(nb as decimal(38,0)) * nab * nbc)"""))
    val dfb = ab.groupBy($"b").agg(countDistinct($"a").as("ra"))
      .join(bc.groupBy($"b").agg(countDistinct($"c").as("rc")), "b")
      .agg(sum(($"ra" - 1) * ($"rc" - 1)).as("df"))
    grid.agg(sum($"o").as("n_triples"), count(lit(1)).as("n_cells"),
        sum($"term_micro").as("chi2_micro"))
      .crossJoin(broadcast(dfb))
      .select($"n_triples", $"n_cells", $"chi2_micro", $"df",
        when($"df" <= 0 || $"chi2_micro".isNull, lit(null).cast("int"))
          .otherwise((($"chi2_micro" > $"df" * 1000000L) &&
            expr("""(cast(chi2_micro as decimal(38,0)) - df * 1000000)
                    * (cast(chi2_micro as decimal(38,0)) - df * 1000000)
                    > 2 * cast(df as decimal(38,0)) * 2706025 * 1000000"""))
            .cast("int"))
          .as("second_order_5pct"))
  }

  val q501Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    event_type FROM events),
      |tr AS (
      |  SELECT p2 AS a, p1 AS b, cur AS c, CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT event_type AS cur,
      |      lag(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS p1,
      |      lag(event_type, 2) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS p2
      |    FROM e) t
      |  WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
      |ab AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS nab FROM tr GROUP BY 1, 2),
      |bc AS (SELECT b, c, CAST(sum(n) AS BIGINT) AS nbc FROM tr GROUP BY 1, 2),
      |bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM tr GROUP BY 1),
      |grid AS (
      |  SELECT ab.a, ab.b, bc.c, ab.nab, bc.nbc, bm.nb,
      |    coalesce(tr.n, 0) AS o
      |  FROM ab JOIN bc ON ab.b = bc.b JOIN bm ON ab.b = bm.b
      |  LEFT JOIN tr ON tr.a = ab.a AND tr.b = ab.b AND tr.c = bc.c),
      |terms AS (
      |  SELECT o,
      |    ((CAST(o AS HUGEINT) * nb - CAST(nab AS HUGEINT) * nbc)
      |     * (CAST(o AS HUGEINT) * nb - CAST(nab AS HUGEINT) * nbc)
      |     * 1000000) // (CAST(nb AS HUGEINT) * nab * nbc) AS term_micro
      |  FROM grid),
      |dfb AS (
      |  SELECT CAST(sum((ra - 1) * (rc - 1)) AS BIGINT) AS df FROM (
      |    SELECT x.b, x.ra, y.rc FROM
      |      (SELECT b, count(DISTINCT a) AS ra FROM ab GROUP BY 1) x
      |      JOIN (SELECT b, count(DISTINCT c) AS rc FROM bc GROUP BY 1) y
      |      ON x.b = y.b) t),
      |agg AS (
      |  SELECT CAST(sum(o) AS BIGINT) AS n_triples,
      |    CAST(count(*) AS BIGINT) AS n_cells,
      |    CAST(sum(term_micro) AS BIGINT) AS chi2_micro
      |  FROM terms)
      |SELECT n_triples, n_cells, chi2_micro, df,
      |  CASE WHEN df <= 0 OR chi2_micro IS NULL THEN NULL
      |    ELSE CAST(chi2_micro > df * 1000000
      |      AND (CAST(chi2_micro AS HUGEINT) - df * 1000000)
      |        * (CAST(chi2_micro AS HUGEINT) - df * 1000000)
      |        > 2 * CAST(df AS HUGEINT) * 2706025 * 1000000 AS INT) END
      |    AS second_order_5pct
      |FROM agg, dfb""".stripMargin

  // ------------------------------------------------------------------
  // q502 — quantity-discount schedule (unit price vs order size)
  // ------------------------------------------------------------------

  /** q502 — the quantity-discount schedule: per quantity level (the
    * bounded 1..50 enum), the exact mean UNIT price, plus a
    * Theil–Sen median slope across levels and a count of adjacent
    * monotonicity violations — does buying more actually cost less
    * per unit, and where does the schedule break? The PRICING-
    * STRUCTURE axis the price battery lacks: q346 is dispersion
    * within a part, q358/q388 are price-over-time, q363/q402 are
    * demand-vs-price — this is price-vs-QUANTITY. Exact: per-line
    * unit cents = cents div qty (stated per-line grid),
    * mean_unit_micro one truncating division; the slope rides q274's
    * (IEEE quotient, dy, dx) ordering over the ≤50² level-pair grid;
    * violations are strict adjacent increases (lead over the bounded
    * level grid). */
  def q502(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val lv = Tables.lineitem(s, d)
      .select($"l_quantity".cast("long").as("qty"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("ec"))
      .filter($"qty" > 0)
      .withColumn("unit", expr("ec div qty"))
      .groupBy($"qty")
      .agg(count(lit(1)).as("n_lines"), sum($"unit").as("su"))
      .select($"qty", $"n_lines",
        expr("(su * 1000000) div n_lines").as("mean_unit_micro"))
      .transform(Fx.materialize)
    val b = lv.select($"qty".as("q2"), $"mean_unit_micro".as("m2"))
    val slopes = lv.join(broadcast(b), $"q2" > $"qty")
      .select(($"m2" - $"mean_unit_micro").as("dy"),
        ($"q2" - $"qty").as("dx"))
      .withColumn("slope", $"dy".cast("double") / $"dx")
      .withColumn("rk", row_number().over(W.orderBy($"slope", $"dy", $"dx")))
      .withColumn("np", count(lit(1)).over(W.partitionBy()))
      .filter($"rk" === expr("(np + 1) div 2"))
      .select(r6($"slope").as("slope_micro_per_qty"))
    val viol = lv
      .withColumn("nxt", lead($"mean_unit_micro", 1).over(W.orderBy($"qty")))
      .agg(sum(when($"nxt".isNotNull && $"nxt" > $"mean_unit_micro", 1L)
        .otherwise(0L)).as("n_violations"))
    lv.crossJoin(broadcast(slopes)).crossJoin(broadcast(viol))
      .select($"qty", $"n_lines", $"mean_unit_micro",
        $"slope_micro_per_qty", $"n_violations")
      .orderBy($"qty")
  }

  val q502Sql: String =
    """WITH lv AS (
      |  SELECT qty, CAST(count(*) AS BIGINT) AS n_lines,
      |    (CAST(sum(unit) AS BIGINT) * 1000000) // count(*)
      |      AS mean_unit_micro
      |  FROM (
      |    SELECT CAST(l_quantity AS BIGINT) AS qty,
      |      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
      |        // CAST(l_quantity AS BIGINT) AS unit
      |    FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0) t
      |  GROUP BY 1),
      |sl AS (
      |  SELECT floor(CAST(dy AS DOUBLE) / dx * 1000000 + 0.5) / 1000000
      |    AS slope_micro_per_qty
      |  FROM (
      |    SELECT b.mean_unit_micro - a.mean_unit_micro AS dy,
      |      b.qty - a.qty AS dx,
      |      CAST(b.mean_unit_micro - a.mean_unit_micro AS DOUBLE)
      |        / (b.qty - a.qty) AS slope,
      |      row_number() OVER (ORDER BY
      |        CAST(b.mean_unit_micro - a.mean_unit_micro AS DOUBLE)
      |          / (b.qty - a.qty),
      |        b.mean_unit_micro - a.mean_unit_micro, b.qty - a.qty) AS rk,
      |      count(*) OVER () AS np
      |    FROM lv a JOIN lv b ON b.qty > a.qty) t
      |  WHERE rk = (np + 1) // 2),
      |vi AS (
      |  SELECT CAST(sum(CASE WHEN nxt IS NOT NULL AND nxt > mean_unit_micro
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM (SELECT mean_unit_micro,
      |      lead(mean_unit_micro) OVER (ORDER BY qty) AS nxt
      |    FROM lv) t)
      |SELECT qty, n_lines, mean_unit_micro, slope_micro_per_qty,
      |  n_violations
      |FROM lv, sl, vi ORDER BY qty""".stripMargin

  // ------------------------------------------------------------------
  // q503 — word2vec negative-sampling table (f^0.75, largest remainder)
  // ------------------------------------------------------------------

  /** q503 — the word2vec NEGATIVE-sampling table: the top-50 corpus
    * words weighted by f^0.75 and apportioned into exactly 1,000,000
    * sampling slots — the COMPANION artifact to q465 (which prices
    * how often frequent words are KEPT; this prices how often they're
    * drawn as negatives; both ship to the trainer as tables).
    * Determinism: f^0.75 = √(f·√f) — two nested IEEE sqrts and one
    * multiply on identical operands (sqrt IS cross-engine-exact, the
    * q465 convention; pow is NOT and is never used), micro-floored
    * per word; slot apportionment is the exact largest-remainder
    * method on INTEGER remainders with (remainder desc, word)
    * tie-break (the q267 precedent) — Σslots = 10⁶ exactly, no float
    * ever summed across rows. Word selection is q465's (f desc,
    * word) head; the table is bounded (50 rows) after one token
    * scan. */
  def q503(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .orderBy($"f".desc, $"w").limit(50)
      .withColumn("wm",
        floor(sqrt($"f".cast("double") * sqrt($"f".cast("double"))) * 1000000)
          .cast("long"))
      .transform(Fx.materialize)
    val tot = words.agg(sum($"wm").as("tw"))
    val based = words.crossJoin(broadcast(tot))
      .withColumn("base", expr("(wm * 1000000) div tw"))
      .withColumn("rem", expr("(wm * 1000000) % tw"))
    val spare = based.agg((lit(1000000L) - sum($"base")).as("spare"))
    based.crossJoin(broadcast(spare))
      .withColumn("rrk",
        row_number().over(W.orderBy($"rem".desc, $"w")).cast("long"))
      .select($"w".as("word"), $"f", $"wm".as("weight_micro"),
        ($"base" + when($"rrk" <= $"spare", 1L).otherwise(0L)).as("slots"))
      .orderBy($"slots".desc, $"word")
  }

  val q503Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |words AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM toks WHERE w <> '' GROUP BY 1
      |  ORDER BY f DESC, w LIMIT 50),
      |wm AS (
      |  SELECT w, f,
      |    CAST(floor(sqrt(CAST(f AS DOUBLE) * sqrt(CAST(f AS DOUBLE)))
      |      * 1000000) AS BIGINT) AS wm
      |  FROM words),
      |tot AS (SELECT CAST(sum(wm) AS BIGINT) AS tw FROM wm),
      |based AS (
      |  SELECT w, f, wm, (wm * 1000000) // tw AS base,
      |    (wm * 1000000) % tw AS rem
      |  FROM wm, tot),
      |sp AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS spare
      |  FROM based)
      |SELECT w AS word, f, wm AS weight_micro,
      |  base + CASE WHEN row_number() OVER (ORDER BY rem DESC, w) <= spare
      |    THEN 1 ELSE 0 END AS slots
      |FROM based, sp
      |ORDER BY slots DESC, word""".stripMargin

  // ------------------------------------------------------------------
  // q504 — column-encoding advisor (dictionary / RLE)
  // ------------------------------------------------------------------

  /** q504 — physical-encoding advisor for the orders columns: per
    * column, the KMV NDV estimate (the q476 sketch — the advisor
    * must not pay a COUNT(DISTINCT) at 100 TB), the RUN count in
    * o_orderkey write order (adjacency via the scale-safe seqIds +
    * shifted equi-join, never a global lag window), the mean run
    * length, and pinned recommendations — dictionary when
    * est_ndv/n ≤ 10%, RLE when the mean run ≥ 2 — the layout
    * decision behind q450/q461/q482's pruning story: parquet pages
    * encode well exactly when one of these flags is on. All integer
    * micros. */
  def q504(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val vals = o.select($"o_orderkey", explode(array(
        struct(lit("o_custkey").as("colname"),
          $"o_custkey".cast("string").as("v")),
        struct(lit("o_orderpriority").as("colname"),
          $"o_orderpriority".as("v")),
        struct(lit("o_orderstatus").as("colname"),
          $"o_orderstatus".as("v")))).as("cv"))
      .select($"cv.colname".as("colname"), $"o_orderkey", $"cv.v".as("v"))
      .filter($"v".isNotNull)
      .transform(Fx.materialize)
    val seq = Ranking.seqIds(vals, 32, $"colname", $"o_orderkey")
    val runs = seq.select($"colname", $"seq_id", $"v")
      .join(seq.select($"colname", ($"seq_id" + 1).as("seq_id"),
        $"v".as("pv")), Seq("colname", "seq_id"), "left")
      .groupBy($"colname")
      .agg(count(lit(1)).as("n"),
        sum(when($"pv".isNull || $"pv" =!= $"v", 1L).otherwise(0L))
          .as("n_runs"))
    val hashed = vals.select($"colname",
      Fx.md5Prefix(concat($"v", lit("#kmv")), 13).as("h13"))
    val est = graft.plans.TopK.perGroup(
        kMinDistinct(hashed, "colname", "h13", 64).distinct(),
        64, Seq("colname"), Seq(graft.plans.TopK.asc("h13")))
      .groupBy($"colname")
      .agg(max($"h13").as("kth"), count(lit(1)).as("n_kept"))
      .select($"colname",
        when($"n_kept" < 64, $"n_kept")
          .otherwise(expr("(63 * 4503599627370496) div kth")).as("est_ndv"))
    runs.join(est, "colname")
      .select($"colname", $"n", $"est_ndv", $"n_runs",
        expr("(n * 1000000) div n_runs").as("mean_run_micro"),
        (expr("(est_ndv * 1000000) div n") <= 100000L).cast("int")
          .as("dict_recommended"),
        (expr("(n * 1000000) div n_runs") >= 2000000L).cast("int")
          .as("rle_recommended"))
      .orderBy($"colname")
  }

  val q504Sql: String =
    """WITH vals AS (
      |  SELECT colname, o_orderkey, v FROM (
      |    SELECT o_orderkey, 'o_custkey' AS colname,
      |      CAST(o_custkey AS VARCHAR) AS v FROM orders
      |    UNION ALL
      |    SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders
      |    UNION ALL
      |    SELECT o_orderkey, 'o_orderstatus', o_orderstatus FROM orders) t
      |  WHERE v IS NOT NULL),
      |runs AS (
      |  SELECT colname, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_runs
      |  FROM (
      |    SELECT colname, v,
      |      lag(v) OVER (PARTITION BY colname ORDER BY o_orderkey) AS pv
      |    FROM vals) t
      |  GROUP BY 1),
      |h AS (
      |  SELECT DISTINCT colname,
      |    ('0x' || substr(md5(v || '#kmv'), 1, 13))::BIGINT AS h13
      |  FROM vals),
      |top AS (
      |  SELECT colname, h13,
      |    row_number() OVER (PARTITION BY colname ORDER BY h13) AS rn
      |  FROM h),
      |est AS (
      |  SELECT colname,
      |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
      |      ELSE (63 * 4503599627370496) // CAST(max(h13) AS BIGINT) END
      |      AS est_ndv
      |  FROM top WHERE rn <= 64 GROUP BY 1)
      |SELECT r.colname, n, est_ndv, n_runs,
      |  (n * 1000000) // n_runs AS mean_run_micro,
      |  CAST((est_ndv * 1000000) // n <= 100000 AS INT)
      |    AS dict_recommended,
      |  CAST((n * 1000000) // n_runs >= 2000000 AS INT) AS rle_recommended
      |FROM runs r JOIN est USING (colname) ORDER BY r.colname""".stripMargin

  // ------------------------------------------------------------------
  // q505 — forecastability features (trend / seasonal strength)
  // ------------------------------------------------------------------

  /** q505 — the Wang–Hyndman forecastability features of daily
    * revenue: decompose y = T + S + R (T = centered 7-day MA with the
    * stated truncating division, S = re-centered weekday means of the
    * detrended series, R the rest) and report trend strength
    * F_T = max(0, 1 − Var(R)/Var(T+R... y−S)) and seasonal strength
    * F_S = max(0, 1 − Var(R)/Var(y−T)) — the FEATURE VECTOR that
    * routes a series to a forecasting family (q333's quadrants route
    * by intermittency; these route by structure: high F_T → Holt
    * q270, high F_S → HW q280, both low → naive). Exact: every
    * component is integer cents on stated grids, variances are the
    * cleared n·Σx²−(Σx)² forms on DECIMAL(38,0), and each strength is
    * ONE truncating micro-division (V_D−V_R)·10⁶ div V_D with a
    * max(0,·) clamp; zero-variance denominators → NULL (a perfect
    * line has UNDEFINED seasonal strength, not zero — stated).
    * Interior days only (full MA window); windows run on the
    * calendar-bounded day grid. */
  def q505(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val wd7 = W.orderBy($"day").rowsBetween(-3, 3)
    val daily = Tables.orders(s, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(cents($"o_totalprice")).as("y"))
      .withColumn("cnt7", count(lit(1)).over(wd7))
      .withColumn("ysum7", sum($"y").over(wd7))
      .withColumn("t", expr("ysum7 div 7"))
      .filter($"cnt7" === 7)
      .withColumn("detr", $"y" - $"t")
      .withColumn("wd", dayofweek($"day"))
      .transform(Fx.materialize)
    val seas0 = daily.groupBy($"wd")
      .agg(expr("sum(detr) div count(*)").as("s0"))
    val smean = seas0.agg(expr("sum(s0) div 7").as("sm"))
    val full = daily.join(broadcast(seas0), "wd")
      .crossJoin(broadcast(smean))
      .withColumn("seas", $"s0" - $"sm")
      .withColumn("r", $"detr" - $"seas")
      .withColumn("deseas", $"y" - $"seas")
    full.agg(count(lit(1)).as("n"),
        sum($"r").as("sr"), sum(expr("cast(r as decimal(38,0)) * r")).as("srr"),
        sum($"detr").as("sd"),
        sum(expr("cast(detr as decimal(38,0)) * detr")).as("sdd"),
        sum($"deseas").as("su"),
        sum(expr("cast(deseas as decimal(38,0)) * deseas")).as("suu"))
      .withColumn("vr", expr("n * srr - cast(sr as decimal(38,0)) * sr"))
      .withColumn("vdet", expr("n * sdd - cast(sd as decimal(38,0)) * sd"))
      .withColumn("vdes", expr("n * suu - cast(su as decimal(38,0)) * su"))
      .select($"n".cast("long").as("n_days_used"),
        when($"vdes" === 0, lit(null).cast("long"))
          .otherwise(greatest(lit(0L),
            expr("cast(((vdes - vr) * 1000000) div vdes as bigint)")))
          .as("trend_strength_micro"),
        when($"vdet" === 0, lit(null).cast("long"))
          .otherwise(greatest(lit(0L),
            expr("cast(((vdet - vr) * 1000000) div vdet as bigint)")))
          .as("seasonal_strength_micro"))
  }

  val q505Sql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT day, y,
      |    count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS cnt7,
      |    CAST(sum(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) // 7 AS BIGINT) AS t
      |  FROM daily),
      |det AS (
      |  SELECT day, y, y - t AS detr, dayofweek(day) + 1 AS wd
      |  FROM ma WHERE cnt7 = 7),
      |seas0 AS (
      |  SELECT wd, CAST(sum(detr) // count(*) AS BIGINT) AS s0
      |  FROM det GROUP BY 1),
      |sm AS (SELECT CAST(sum(s0) // 7 AS BIGINT) AS smv FROM seas0),
      |full_ AS (
      |  SELECT d.y, d.detr, d.detr - (s.s0 - smv) AS r,
      |    d.y - (s.s0 - smv) AS deseas
      |  FROM det d JOIN seas0 s ON d.wd = s.wd, sm),
      |agg AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(r) AS HUGEINT) AS sr,
      |    sum(CAST(r AS HUGEINT) * r) AS srr,
      |    CAST(sum(detr) AS HUGEINT) AS sd,
      |    sum(CAST(detr AS HUGEINT) * detr) AS sdd,
      |    CAST(sum(deseas) AS HUGEINT) AS su,
      |    sum(CAST(deseas AS HUGEINT) * deseas) AS suu
      |  FROM full_)
      |SELECT CAST(n AS BIGINT) AS n_days_used,
      |  CASE WHEN n * suu - su * su = 0 THEN NULL
      |    ELSE greatest(0, CAST((((n * suu - su * su) - (n * srr - sr * sr))
      |      * 1000000) // (n * suu - su * su) AS BIGINT)) END
      |    AS trend_strength_micro,
      |  CASE WHEN n * sdd - sd * sd = 0 THEN NULL
      |    ELSE greatest(0, CAST((((n * sdd - sd * sd) - (n * srr - sr * sr))
      |      * 1000000) // (n * sdd - sd * sd) AS BIGINT)) END
      |    AS seasonal_strength_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q506 — NDCG@10 of the kNN retrieval vs label relevance
  // ------------------------------------------------------------------

  /** Pinned 1/log₂(r+1) micro discounts for ranks 1..10 — stated
    * literals, no transcendental crosses the engine boundary. */
  private val ndcgDisc = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** q506 — NDCG@10 of the q60 brute-force cosine retrieval with
    * binary label relevance (same label as the query = relevant):
    * DCG = Σ rel_r·d_r over the pinned discount ladder, IDCG the
    * ideal prefix for the query's true relevant count, ndcg their
    * micro ratio — the POSITION-WEIGHTED retrieval metric beside
    * recall@10 (q190: did they show up) and MRR (q255: where's the
    * FIRST): NDCG prices every slot, which is what a reranker (q186)
    * is optimized against. Integer-only: relevance flags × pinned
    * micros summed exactly, one truncating division per query;
    * queries with NO relevant targets → NULL (stated). Reuses the
    * q60 ranking verbatim (broadcast queries, native heap). */
  def q506(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val qs = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("q_label"))
    val top = Similarity.bruteForceTopK(
        qs.select($"q_id", $"q_vec"), e, 10)
      .join(e.select($"vec_id", $"label".as("t_label")), "vec_id")
      .join(qs.select($"q_id", $"q_label"), "q_id")
      .withColumn("rel", ($"t_label" === $"q_label").cast("long"))
      .withColumn("disc", expr(
        s"""cast(case rn ${ndcgDisc.zipWithIndex.map { case (v, i) =>
          s"when ${i + 1} then $v" }.mkString(" ")}
           else 0 end as bigint)"""))
    val dcg = top.groupBy($"q_id")
      .agg(sum($"rel" * $"disc").as("dcg_micro"))
    val relc = e.select($"vec_id".as("tv"), $"label".as("tl"))
      .crossJoin(broadcast(qs.select($"q_id", $"q_label")))
      .filter($"tv" =!= $"q_id" && $"tl" === $"q_label")
      .groupBy($"q_id").agg(count(lit(1)).as("n_relevant"))
    val idcgCase = (1 to 10).map(k =>
      s"when $k then ${ndcgDisc.take(k).sum}").mkString(" ")
    qs.select($"q_id")
      .join(dcg, Seq("q_id"), "left")
      .join(relc, Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"n_relevant", lit(0L)).as("n_relevant"),
        coalesce($"dcg_micro", lit(0L)).as("dcg_micro"))
      .withColumn("idcg_micro", expr(
        s"""cast(case when n_relevant >= 10 then ${ndcgDisc.sum}
           else case n_relevant $idcgCase else 0 end end as bigint)"""))
      .withColumn("ndcg_micro",
        when($"idcg_micro" === 0, lit(null).cast("long"))
          .otherwise(expr("(dcg_micro * 1000000) div idcg_micro")))
      .orderBy($"q_id")
  }

  val q506Sql: String = {
    val cos = "list_dot_product(q_vec, t_vec) / " +
      "(sqrt(list_dot_product(q_vec, q_vec)) * " +
      "sqrt(list_dot_product(t_vec, t_vec)))"
    val discCase = ndcgDisc.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val idcgCase = (1 to 10).map(k =>
      s"WHEN $k THEN ${ndcgDisc.take(k).sum}").mkString(" ")
    s"""WITH q AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
      |    label AS q_label
      |  FROM embeddings WHERE vec_id < 5),
      |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec, label
      |  FROM embeddings),
      |ranked AS (
      |  SELECT q_id, q_label, vec_id, label,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY $cos DESC, vec_id) AS rn
      |  FROM t, q WHERE vec_id <> q_id),
      |dcg AS (
      |  SELECT q_id,
      |    CAST(sum(CASE WHEN label = q_label THEN
      |      CASE rn $discCase ELSE 0 END ELSE 0 END) AS BIGINT)
      |      AS dcg_micro
      |  FROM ranked WHERE rn <= 10 GROUP BY 1),
      |relc AS (
      |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_relevant
      |  FROM t, q WHERE vec_id <> q_id AND label = q_label
      |  GROUP BY 1)
      |SELECT q.q_id, coalesce(n_relevant, 0) AS n_relevant,
      |  coalesce(dcg_micro, 0) AS dcg_micro,
      |  CAST(CASE WHEN coalesce(n_relevant, 0) >= 10 THEN ${ndcgDisc.sum}
      |    ELSE CASE coalesce(n_relevant, 0) $idcgCase ELSE 0 END END
      |    AS BIGINT) AS idcg_micro,
      |  CASE WHEN coalesce(n_relevant, 0) = 0 THEN NULL
      |    ELSE (coalesce(dcg_micro, 0) * 1000000)
      |      // (CASE WHEN coalesce(n_relevant, 0) >= 10 THEN ${ndcgDisc.sum}
      |        ELSE CASE coalesce(n_relevant, 0) $idcgCase ELSE 0 END END)
      |    END AS ndcg_micro
      |FROM q LEFT JOIN dcg ON q.q_id = dcg.q_id
      |LEFT JOIN relc ON q.q_id = relc.q_id
      |ORDER BY q.q_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q507 — Pareto skyline of the document corpus (quality vs length)
  // ------------------------------------------------------------------

  /** q507 — the Pareto SKYLINE of documents on (quality score ↑,
    * length ↓): a doc survives iff no other doc is at least as good
    * on both axes and strictly better on one — the classic
    * multi-objective operator the single-axis heads (q106 top-k,
    * q318 bins) can't express: "the shortest doc at every quality
    * level that nothing cheaper dominates". Scale shape: collapse to
    * the (qm, min len) VALUE GRID first (bounded by the 10⁶ score
    * domain, never the corpus), take the strictly-higher-quality
    * suffix running MIN of length over the sorted grid (bounded-grid
    * window), and keep grid points with len < that suffix min; docs
    * then rejoin the surviving (qm, len) pairs — duplicates of a
    * surviving point all survive (neither strictly dominates the
    * other, stated). All integer. */
  def q507(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .filter($"text".isNotNull && $"n_chars".isNotNull && $"n_chars" > 0)
      .select($"doc_id",
        graft.functions.TextAnalysis.qualityMicro($"text").as("qm"),
        $"n_chars".as("len"))
      .transform(Fx.materialize)
    val grid = docs.groupBy($"qm").agg(min($"len").as("mlen"))
    val sky = grid
      .withColumn("minHigher", min($"mlen").over(
        W.orderBy($"qm".desc).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .filter($"minHigher".isNull || $"mlen" < $"minHigher")
      .select($"qm".as("sqm"), $"mlen")
    docs.join(broadcast(sky), $"qm" === $"sqm" && $"len" === $"mlen")
      .select($"doc_id", $"qm", $"len")
      .orderBy($"qm".desc, $"doc_id")
  }

  val q507Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH docs AS (
      |  SELECT doc_id, CAST(($quality) AS BIGINT) AS qm,
      |    CAST(n_chars AS BIGINT) AS len
      |  FROM documents
      |  WHERE text IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
      |grid AS (SELECT qm, min(len) AS mlen FROM docs GROUP BY 1),
      |sky AS (
      |  SELECT qm, mlen FROM (
      |    SELECT qm, mlen, min(mlen) OVER (ORDER BY qm DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mh
      |    FROM grid) t
      |  WHERE mh IS NULL OR mlen < mh)
      |SELECT d.doc_id, d.qm, d.len
      |FROM docs d JOIN sky s ON d.qm = s.qm AND d.len = s.mlen
      |ORDER BY d.qm DESC, d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q508 — bivariate tail dependence between the segment series
  // ------------------------------------------------------------------

  /** q508 — empirical tail-dependence coefficients between the
    * AUTOMOBILE and BUILDING monthly revenue series:
    * λ_U = P(y > q₈₀(y) | x > q₈₀(x)) and the lower twin at q₂₀ — do
    * the two books BOOM and CRASH together? The BIVARIATE extremal
    * question the dependence battery can't ask: Pearson/Hoeffding
    * q479 average over the whole body (tail co-movement hides), and
    * the EVT battery (q413/q421/q441) is univariate. Under
    * independence λ ≈ 0.2 at these thresholds; λ → 1 means joint
    * extremes — the regime where a pooled risk model (q311's
    * envelopes) underprices the joint crash. Exact: nearest-rank
    * ⌈0.8n⌉/⌈0.2n⌉ thresholds on the bounded month grid, STRICT
    * exceedance counts (stated), one truncating micro-division each;
    * empty conditioning sets → NULL. */
  def q508(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = segKiloMonthly(s, d).transform(Fx.materialize)
    def rankVal(c: String, k: Column): DataFrame = g
      .withColumn("rn", row_number().over(W.orderBy(col(c), $"ym")).cast("long"))
      .crossJoin(broadcast(g.agg(count(lit(1)).as("n"))))
      .filter($"rn" === k)
      .select(col(c).as(s"q_$c"))
    val n1 = g.agg(count(lit(1)).as("n"))
    val qx80 = rankVal("x", expr("(8 * n + 9) div 10"))
    val qy80 = rankVal("y", expr("(8 * n + 9) div 10"))
    val qx20 = rankVal("x", expr("(2 * n + 9) div 10"))
      .withColumnRenamed("q_x", "l_x")
    val qy20 = rankVal("y", expr("(2 * n + 9) div 10"))
      .withColumnRenamed("q_y", "l_y")
    g.crossJoin(broadcast(qx80)).crossJoin(broadcast(qy80))
      .crossJoin(broadcast(qx20)).crossJoin(broadcast(qy20))
      .agg(count(lit(1)).as("n"),
        sum(when($"x" > $"q_x", 1L).otherwise(0L)).as("n_x_hi"),
        sum(when($"x" > $"q_x" && $"y" > $"q_y", 1L).otherwise(0L))
          .as("n_both_hi"),
        sum(when($"x" < $"l_x", 1L).otherwise(0L)).as("n_x_lo"),
        sum(when($"x" < $"l_x" && $"y" < $"l_y", 1L).otherwise(0L))
          .as("n_both_lo"))
      .select($"n", $"n_x_hi", $"n_both_hi", $"n_x_lo", $"n_both_lo",
        when($"n_x_hi" === 0, lit(null).cast("long"))
          .otherwise(expr("(n_both_hi * 1000000) div n_x_hi"))
          .as("lambda_upper_micro"),
        when($"n_x_lo" === 0, lit(null).cast("long"))
          .otherwise(expr("(n_both_lo * 1000000) div n_x_lo"))
          .as("lambda_lower_micro"))
  }

  val q508Sql: String =
    s"""WITH g AS ($segKiloMonthlySql),
      |n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
      |qx80 AS (SELECT x AS q_x FROM (
      |  SELECT x, row_number() OVER (ORDER BY x, ym) AS rn FROM g) t, n1
      |  WHERE rn = (8 * n + 9) // 10),
      |qy80 AS (SELECT y AS q_y FROM (
      |  SELECT y, row_number() OVER (ORDER BY y, ym) AS rn FROM g) t, n1
      |  WHERE rn = (8 * n + 9) // 10),
      |qx20 AS (SELECT x AS l_x FROM (
      |  SELECT x, row_number() OVER (ORDER BY x, ym) AS rn FROM g) t, n1
      |  WHERE rn = (2 * n + 9) // 10),
      |qy20 AS (SELECT y AS l_y FROM (
      |  SELECT y, row_number() OVER (ORDER BY y, ym) AS rn FROM g) t, n1
      |  WHERE rn = (2 * n + 9) // 10),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN x > q_x THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_x_hi,
      |    CAST(sum(CASE WHEN x > q_x AND y > q_y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_both_hi,
      |    CAST(sum(CASE WHEN x < l_x THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_x_lo,
      |    CAST(sum(CASE WHEN x < l_x AND y < l_y THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_both_lo
      |  FROM g, qx80, qy80, qx20, qy20)
      |SELECT n, n_x_hi, n_both_hi, n_x_lo, n_both_lo,
      |  CASE WHEN n_x_hi = 0 THEN NULL
      |    ELSE (n_both_hi * 1000000) // n_x_hi END AS lambda_upper_micro,
      |  CASE WHEN n_x_lo = 0 THEN NULL
      |    ELSE (n_both_lo * 1000000) // n_x_lo END AS lambda_lower_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q509 — Huber M-estimator of monthly revenue location
  // ------------------------------------------------------------------

  /** q509 — Huber M-location of monthly revenue: five stated
    * iterations of μ ← μ + mean(clamp(y − μ, ±T)) with the clip at
    * T = 1.345·MAD (the 95%-efficiency tuning) — the member that
    * completes the robust-location ladder: the median (50% breakdown,
    * 64% efficiency), HL q468 (86%), trimmed/winsorized q126/q227
    * (tuning-dependent) — Huber keeps the median's outlier clamp but
    * moves like the mean on clean data. All integer: the start is
    * the exact nearest-rank median, MAD its nearest-rank twin
    * (bounded month grid), T the milli-pinned 1345·mad div 1000, and
    * each update one truncating division on the micro-kilo grid —
    * the 5-iteration truncated sequence IS the statistic (q463/q488
    * convention). The ≤grid-size fold runs on the driver (q270
    * exception); the oracle replays it as a linear recursive CTE
    * over a MATERIALIZED grid. MAD = 0 (constant data) → the clamp
    * is zero and μ stays the median (stated). */
  def q509(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ys = Tables.orders(s, d)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate")).as("ym"))
      .agg(sum(cents($"o_totalprice")).as("yc"))
      .select(expr("yc div 100000").as("y"))
      .collect().map(_.getLong(0)).sorted
    val n = ys.length
    val row: (Long, Long, Long, Long) =
      if (n == 0) (0L, 0L, 0L, 0L)
      else {
        val med = ys((n + 1) / 2 - 1)
        val devs = ys.map(y => math.abs(y - med)).sorted
        val mad = devs((n + 1) / 2 - 1)
        val t = 1345L * mad * 1000000L / 1000L
        var mu = med * 1000000L
        for (_ <- 1 to 5) {
          val psi = ys.map { y =>
            val r = y * 1000000L - mu
            math.max(-t, math.min(t, r))
          }.sum
          mu = mu + psi / n
        }
        (n.toLong, med, mad, mu)
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_months",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("median_k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mad_k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("huber_micro_k",
        org.apache.spark.sql.types.LongType)))
    s.createDataFrame(
      s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        row._1, row._2, row._3, row._4)), 1), schema)
  }

  val q509Sql: String =
    """WITH RECURSIVE g AS MATERIALIZED (
      |  SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) // 100000 AS y
      |  FROM orders GROUP BY year(o_orderdate)*100 + month(o_orderdate)),
      |st AS MATERIALIZED (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    (SELECT y FROM (SELECT y, row_number() OVER (ORDER BY y) AS rn
      |       FROM g) t, (SELECT count(*) AS c FROM g) c
      |     WHERE rn = (c + 1) // 2) AS med
      |  FROM g),
      |st2 AS MATERIALIZED (
      |  SELECT n, med,
      |    (SELECT dv FROM (SELECT abs(y - med) AS dv,
      |        row_number() OVER (ORDER BY abs(y - med)) AS rn
      |       FROM g, st) t
      |     WHERE rn = (n + 1) // 2) AS mad
      |  FROM st),
      |it(k, mu) AS (
      |  SELECT 0, med * 1000000 FROM st2
      |  UNION ALL
      |  SELECT k + 1,
      |    mu + (SELECT CAST(sum(greatest(-(1345 * mad * 1000000 // 1000),
      |        least(1345 * mad * 1000000 // 1000, y * 1000000 - mu)))
      |      AS BIGINT) FROM g, st2) // (SELECT n FROM st2)
      |  FROM it WHERE k < 5)
      |SELECT n AS n_months, med AS median_k, mad AS mad_k,
      |  mu AS huber_micro_k
      |FROM it, st2 WHERE k = 5""".stripMargin

  // ------------------------------------------------------------------
  // q510 — distribution-free CI for the Hodges–Lehmann shift
  // ------------------------------------------------------------------

  /** q510 — the Moses distribution-free confidence interval around
    * q468's Hodges–Lehmann shift: the 95% CI is the pair-difference
    * order statistics at ranks C and n₁n₂+1−C with C = ⌊n₁n₂/2 −
    * 1.959964·√(n₁n₂(n₁+n₂+1)/12)⌋ — the INFERENCE layer the point
    * estimate lacks (the q429-over-q271 pattern): a shift estimate
    * without its interval can't say whether the segments differ AT
    * ALL. Exactness: ranks come from ONE fixed double tree (a pinned
    * z, one sqrt on an exact integer argument, one floor — the q291
    * convention) and are clamped to [1, n₁n₂] (stated); the three
    * order statistics ride the same VALUE-GRID distributed prefix as
    * q468 (never a global row window). Pair grid is calendar². n = 0
    * → empty. */
  def q510(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = segKiloMonthly(s, d).transform(Fx.materialize)
    val pairs = g.select($"x")
      .crossJoin(broadcast(g.select($"y")))
      .select(($"x" - $"y").as("dd"))
    val grid = pairs.groupBy($"dd").agg(count(lit(1)).as("cnt"))
    val run = Ranking.groupRunningSum(grid, Seq(), 32, "cnt", $"dd")
      .transform(Fx.materialize)
    val ks = g.agg(count(lit(1)).as("n1"), count(lit(1)).as("n2"))
      .select($"n1", $"n2", ($"n1" * $"n2").as("np"))
      .withColumn("c_rank", greatest(lit(1L),
        floor($"np".cast("double") / 2 -
          lit(1.959964) * sqrt(expr(
            "cast(n1 * n2 * (n1 + n2 + 1) as double)") / 12.0))
          .cast("long")))
      .withColumn("k_mid", expr("(np + 1) div 2"))
      .withColumn("k_hi", least($"np", $"np" + 1 - $"c_rank"))
    def pick(k: Column, name: String): DataFrame =
      run.crossJoin(broadcast(ks))
        .filter($"run_before" + $"cnt" >= k)
        .agg(min($"dd").as(name))
    ks.crossJoin(broadcast(pick($"c_rank", "ci_lo_k")))
      .crossJoin(broadcast(pick($"k_mid", "hl_shift_k")))
      .crossJoin(broadcast(pick($"k_hi", "ci_hi_k")))
      .select($"n1", $"np".as("n_pairs"), $"c_rank", $"k_hi",
        $"ci_lo_k", $"hl_shift_k", $"ci_hi_k")
  }

  val q510Sql: String =
    s"""WITH g AS ($segKiloMonthlySql),
      |pairs AS (SELECT a.x - b.y AS dd FROM g a, g b),
      |grid AS (SELECT dd, CAST(count(*) AS BIGINT) AS cnt
      |  FROM pairs GROUP BY 1),
      |run AS (SELECT dd, cnt, coalesce(sum(cnt) OVER (ORDER BY dd
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
      |  FROM grid),
      |ks AS (
      |  SELECT n1, n2, np,
      |    greatest(1, CAST(floor(CAST(np AS DOUBLE) / 2
      |      - 1.959964 * sqrt(CAST(n1 * n2 * (n1 + n2 + 1) AS DOUBLE)
      |        / 12.0)) AS BIGINT)) AS c_rank,
      |    (np + 1) // 2 AS k_mid
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS n1,
      |      CAST(count(*) AS BIGINT) AS n2,
      |      CAST(count(*) AS BIGINT) * count(*) AS np FROM g) t),
      |ks2 AS (SELECT *, least(np, np + 1 - c_rank) AS k_hi FROM ks),
      |lo AS (SELECT min(dd) AS ci_lo_k FROM run, ks2
      |  WHERE rb + cnt >= c_rank),
      |mid AS (SELECT min(dd) AS hl_shift_k FROM run, ks2
      |  WHERE rb + cnt >= k_mid),
      |hi AS (SELECT min(dd) AS ci_hi_k FROM run, ks2
      |  WHERE rb + cnt >= k_hi)
      |SELECT n1, np AS n_pairs, c_rank, k_hi, ci_lo_k, hl_shift_k,
      |  ci_hi_k
      |FROM ks2, lo, mid, hi""".stripMargin

  // ------------------------------------------------------------------
  // q511 — Breslow–Day homogeneity of odds ratios (the CMH check)
  // ------------------------------------------------------------------

  /** q511 — Breslow–Day test that q434's month-stratified odds ratios
    * are HOMOGENEOUS — the assumption CMH pooling silently makes: a
    * pooled OR over strata whose true ORs differ is a fiction, so
    * this is the check that must pass BEFORE q434's estimate means
    * anything (the q501-over-q226 assumption-check pattern). Per
    * stratum the fitted cell â under the common OR R solves the BD
    * quadratic (R−1)â² − [R(r1+c1) + n−r1−c1]â + R·r1·c1 = 0 (root
    * inside the feasible cell box, both candidates computed and
    * selected by the same comparisons in both engines; R = 1 → the
    * linear root r1·c1/n), the term is (a−â)²/V̂ with the standard
    * inverse-sum variance — a FIXED double tree over
    * correctly-rounded casts (one sqrt; the q459/q453 convention),
    * micro-floored per stratum (stated) and summed exactly.
    * R itself is q434's stated micro construction. df = usable
    * strata − 1 (degenerate margins excluded, stated); the verdict
    * uses the q501 normal approximation in all-integer form.
    * Heterogeneity flag = 1 means STOP trusting the pooled OR. */
  def q511(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select((year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
          .as("mk"),
        ($"l_discount" > 0.05).cast("long").as("x"),
        ($"l_returnflag" === "R").cast("long").as("yf"))
      .groupBy($"mk")
      .agg(sum($"x" * $"yf").as("a"),
        sum($"x" * (lit(1L) - $"yf")).as("b"),
        sum((lit(1L) - $"x") * $"yf").as("c"),
        sum((lit(1L) - $"x") * (lit(1L) - $"yf")).as("d"))
      .withColumn("n", $"a" + $"b" + $"c" + $"d")
      .withColumn("r1", $"a" + $"b").withColumn("c1", $"a" + $"c")
      .withColumn("usable",
        ($"r1" > 0 && $"c1" > 0 && $"r1" < $"n" && $"c1" < $"n")
          .cast("long"))
      .transform(Fx.materialize)
    val orp = cells.filter($"n" > 1L)
      .agg(sum(expr("(cast(a as decimal(38,0)) * d * 1000000) div n"))
          .as("s_ad"),
        sum(expr("(cast(b as decimal(38,0)) * c * 1000000) div n"))
          .as("s_bc"))
      .select(when($"s_bc" > 0,
        expr("cast((s_ad * 1000000) div s_bc as bigint)"))
        .as("or_mh_micro"))
    val terms = cells.crossJoin(broadcast(orp))
      .filter($"usable" === 1 && $"or_mh_micro".isNotNull)
      .withColumn("rr", $"or_mh_micro".cast("double") / 1e6)
      .withColumn("bq",
        $"rr" * ($"r1" + $"c1").cast("double") +
          ($"n" - $"r1" - $"c1").cast("double"))
      .withColumn("ahat",
        when($"or_mh_micro" === 1000000L,
          $"r1".cast("double") * $"c1".cast("double") / $"n".cast("double"))
          .otherwise {
            val aq = $"rr" - 1.0
            val disc = sqrt(greatest(lit(0.0),
              $"bq" * $"bq" - lit(4.0) * aq *
                ($"rr" * $"r1".cast("double") * $"c1".cast("double"))))
            val cand1 = ($"bq" - disc) / (lit(2.0) * aq)
            val cand2 = ($"bq" + disc) / (lit(2.0) * aq)
            val lo = greatest(lit(0.0),
              ($"r1" + $"c1" - $"n").cast("double"))
            val hi = least($"r1".cast("double"), $"c1".cast("double"))
            when(cand1 > lo && cand1 < hi, cand1).otherwise(cand2)
          })
      .withColumn("vhat",
        lit(1.0) / (lit(1.0) / $"ahat" +
          lit(1.0) / ($"r1".cast("double") - $"ahat") +
          lit(1.0) / ($"c1".cast("double") - $"ahat") +
          lit(1.0) / (($"n" - $"r1" - $"c1").cast("double") + $"ahat")))
      .withColumn("term_micro",
        when($"vhat" > 0.0, floor(
          ($"a".cast("double") - $"ahat") * ($"a".cast("double") - $"ahat")
            / $"vhat" * 1000000 + 0.5).cast("long"))
          .otherwise(lit(null).cast("long")))
    terms.agg(sum(when($"term_micro".isNotNull, 1L).otherwise(0L)).as("k"),
        sum($"term_micro").as("bd_chi2_micro"),
        max($"or_mh_micro").as("or_mh_micro"))
      .select($"k".as("n_strata_used"), $"or_mh_micro", $"bd_chi2_micro",
        ($"k" - 1).as("df"))
      .withColumn("heterogeneous_5pct",
        when($"df" <= 0 || $"bd_chi2_micro".isNull, lit(null).cast("int"))
          .otherwise((($"bd_chi2_micro" > $"df" * 1000000L) &&
            expr("""(cast(bd_chi2_micro as decimal(38,0)) - df * 1000000)
                    * (cast(bd_chi2_micro as decimal(38,0)) - df * 1000000)
                    > 2 * cast(df as decimal(38,0)) * 2706025 * 1000000"""))
            .cast("int")))
  }

  val q511Sql: String = {
    val ahat =
      """CASE WHEN or_mh_micro = 1000000
        THEN CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)
        ELSE (CASE WHEN
            (bq - sqrt(greatest(0.0, bq * bq - 4.0 * (rr - 1.0)
              * (rr * CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)))))
              / (2.0 * (rr - 1.0))
            > greatest(0.0, CAST(r1 + c1 - n AS DOUBLE))
          AND (bq - sqrt(greatest(0.0, bq * bq - 4.0 * (rr - 1.0)
              * (rr * CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)))))
              / (2.0 * (rr - 1.0))
            < least(CAST(r1 AS DOUBLE), CAST(c1 AS DOUBLE))
          THEN (bq - sqrt(greatest(0.0, bq * bq - 4.0 * (rr - 1.0)
              * (rr * CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)))))
              / (2.0 * (rr - 1.0))
          ELSE (bq + sqrt(greatest(0.0, bq * bq - 4.0 * (rr - 1.0)
              * (rr * CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)))))
              / (2.0 * (rr - 1.0)) END) END"""
    s"""WITH cells AS (
      |  SELECT mk,
      |    CAST(sum(x * yf) AS BIGINT) AS a,
      |    CAST(sum(x * (1 - yf)) AS BIGINT) AS b,
      |    CAST(sum((1 - x) * yf) AS BIGINT) AS c,
      |    CAST(sum((1 - x) * (1 - yf)) AS BIGINT) AS d
      |  FROM (
      |    SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |        AS mk,
      |      CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS x,
      |      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS yf
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
      |  GROUP BY 1),
      |cc AS (
      |  SELECT *, a + b + c + d AS n, a + b AS r1, a + c AS c1,
      |    CASE WHEN a + b > 0 AND a + c > 0 AND a + b < a + b + c + d
      |      AND a + c < a + b + c + d THEN 1 ELSE 0 END AS usable
      |  FROM cells),
      |orp AS (
      |  SELECT CASE WHEN s_bc > 0
      |    THEN CAST((s_ad * 1000000) // s_bc AS BIGINT) END AS or_mh_micro
      |  FROM (
      |    SELECT sum((CAST(a AS HUGEINT) * d * 1000000) // n) AS s_ad,
      |      sum((CAST(b AS HUGEINT) * c * 1000000) // n) AS s_bc
      |    FROM cc WHERE n > 1) t),
      |base AS (
      |  SELECT a, r1, c1, n, or_mh_micro,
      |    CAST(or_mh_micro AS DOUBLE) / 1e6 AS rr,
      |    CAST(or_mh_micro AS DOUBLE) / 1e6 * CAST(r1 + c1 AS DOUBLE)
      |      + CAST(n - r1 - c1 AS DOUBLE) AS bq
      |  FROM cc, orp
      |  WHERE usable = 1 AND or_mh_micro IS NOT NULL),
      |fit AS (SELECT a, r1, c1, n, or_mh_micro, $ahat AS ahat FROM base),
      |terms AS (
      |  SELECT or_mh_micro,
      |    CASE WHEN 1.0 / (1.0 / ahat + 1.0 / (CAST(r1 AS DOUBLE) - ahat)
      |        + 1.0 / (CAST(c1 AS DOUBLE) - ahat)
      |        + 1.0 / (CAST(n - r1 - c1 AS DOUBLE) + ahat)) > 0.0
      |      THEN CAST(floor((CAST(a AS DOUBLE) - ahat)
      |        * (CAST(a AS DOUBLE) - ahat)
      |        / (1.0 / (1.0 / ahat + 1.0 / (CAST(r1 AS DOUBLE) - ahat)
      |          + 1.0 / (CAST(c1 AS DOUBLE) - ahat)
      |          + 1.0 / (CAST(n - r1 - c1 AS DOUBLE) + ahat)))
      |        * 1000000 + 0.5) AS BIGINT)
      |      ELSE NULL END AS term_micro
      |  FROM fit),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN term_micro IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k,
      |    CAST(sum(term_micro) AS BIGINT) AS bd_chi2_micro,
      |    CAST(max(or_mh_micro) AS BIGINT) AS or_mh_micro
      |  FROM terms)
      |SELECT k AS n_strata_used, or_mh_micro, bd_chi2_micro, k - 1 AS df,
      |  CASE WHEN k - 1 <= 0 OR bd_chi2_micro IS NULL THEN NULL
      |    ELSE CAST(bd_chi2_micro > (k - 1) * 1000000
      |      AND (CAST(bd_chi2_micro AS HUGEINT) - (k - 1) * 1000000)
      |        * (CAST(bd_chi2_micro AS HUGEINT) - (k - 1) * 1000000)
      |        > 2 * CAST(k - 1 AS HUGEINT) * 2706025 * 1000000 AS INT) END
      |    AS heterogeneous_5pct
      |FROM agg""".stripMargin
  }

  lazy val all: Seq[QueryDef] = Seq(
    QueryDef("q467_mood_median", q467, Some(q467Sql)),
    QueryDef("q468_hodges_lehmann", q468, Some(q468Sql)),
    QueryDef("q469_gamma_somers", q469, Some(q469Sql)),
    QueryDef("q470_turning_points", q470, Some(q470Sql)),
    QueryDef("q471_cohens_kappa", q471, Some(q471Sql)),
    QueryDef("q472_lin_ccc", q472, Some(q472Sql)),
    QueryDef("q473_ewma_chart", q473, Some(q473Sql)),
    QueryDef("q474_sprt", q474, Some(q474Sql)),
    QueryDef("q475_bowker_symmetry", q475, Some(q475Sql)),
    QueryDef("q476_kmv_ndv", q476, Some(q476Sql)),
    QueryDef("q477_word_dispersion", q477, Some(q477Sql)),
    QueryDef("q478_arch_lm", q478, Some(q478Sql)),
    QueryDef("q479_hoeffding_d", q479, Some(q479Sql)),
    QueryDef("q480_dtw_distance", q480, Some(q480Sql)),
    QueryDef("q481_lz_complexity", q481, Some(q481Sql)),
    QueryDef("q482_bloom_advisor", q482, Some(q482Sql)),
    QueryDef("q483_cucconi", q483, Some(q483Sql)),
    QueryDef("q484_sn_scale", q484, Some(q484Sql)),
    QueryDef("q485_records_test", q485, Some(q485Sql)),
    QueryDef("q486_oaxaca_blinder", q486, Some(q486Sql)),
    QueryDef("q487_split_leakage", q487, Some(q487Sql)),
    QueryDef("q488_absorption_steps", q488, Some(q488Sql)),
    QueryDef("q489_getis_ord", q489, Some(q489Sql)),
    QueryDef("q490_length_bias", q490, Some(q490Sql)),
    QueryDef("q491_hosmer_lemeshow", q491, Some(q491Sql)),
    QueryDef("q492_sample_entropy", q492, Some(q492Sql)),
    QueryDef("q493_jl_projection", q493, Some(q493Sql)),
    QueryDef("q494_siegel_trend", q494, Some(q494Sql)),
    QueryDef("q495_threshold_selection", q495, Some(q495Sql)),
    QueryDef("q496_dup_flow_matrix", q496, Some(q496Sql)),
    QueryDef("q497_reset_test", q497, Some(q497Sql)),
    QueryDef("q498_event_study", q498, Some(q498Sql)),
    QueryDef("q499_ecm_adjustment", q499, Some(q499Sql)),
    QueryDef("q500_curation_scorecard", q500, Some(q500Sql)),
    QueryDef("q501_markov_order", q501, Some(q501Sql)),
    QueryDef("q502_qty_discount", q502, Some(q502Sql)),
    QueryDef("q503_negative_sampling", q503, Some(q503Sql)),
    QueryDef("q504_encoding_advisor", q504, Some(q504Sql)),
    QueryDef("q505_ts_features", q505, Some(q505Sql)),
    QueryDef("q506_ndcg", q506, Some(q506Sql)),
    QueryDef("q507_skyline", q507, Some(q507Sql)),
    QueryDef("q508_tail_dependence", q508, Some(q508Sql)),
    QueryDef("q509_huber_location", q509, Some(q509Sql)),
    QueryDef("q510_hl_shift_ci", q510, Some(q510Sql)),
    QueryDef("q511_breslow_day", q511, Some(q511Sql)))
}
