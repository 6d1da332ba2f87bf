package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.md5_fast

/** Round-14 batch: the DECISION layer on top of the existing test
  * batteries — rater agreement (Fleiss κ q513, the ≥3-rater member
  * beside Cohen's κ q471), paired-categorical marginal homogeneity
  * (Stuart–Maxwell q514, the LOCATION companion to Bowker q475's
  * symmetry), post-hoc multiple comparisons (Tukey–Kramer HSD q515 —
  * WHICH segments differ once an omnibus q334/q467 rejects), blocked
  * ranks weighted by block information (Quade q512, the
  * range-weighted member of the Friedman q351 / Page q400 family),
  * exact small-sample tests (sign test q516 with the exact binomial
  * tail; Fisher–Pitman permutation q517 with md5-seeded sign flips —
  * the TEST companion to q340's bootstrap CI), clustering reliability
  * (ICC(1) q518 — the design-effect correlation q322's Kish deff
  * presumes), and training-compute/vocabulary planning (Chinchilla
  * allocation q519, vocab-coverage/OOV curve q520, Matryoshka
  * truncated-dimension retrieval recall q521).
  *
  * Exactness discipline (the q334/q448/q460 conventions): counts,
  * cent/1e-4-grid revenue sums, and moment sums are exact BIGINT /
  * DECIMAL(38,0); every reported statistic is a stated truncating
  * micro-division of exact integers; verdicts compare micro integers
  * against pinned critical literals (χ², F, studentized range). The
  * quality signal is the exact integer micro grid
  * ([[graft.functions.TextAnalysis.qualityMicro]]) — no float ever
  * feeds a bin or threshold.
  */
object DecisionQueries {
  import Fx._

  /** Exact cents of a 2-decimal money column. */
  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** Exact 1e-4-dollar units of lineitem discounted revenue:
    * cents(extendedprice) · (100 − pct(discount)) — both factors
    * exact integers off 2-decimal grids. */
  private def rev4(price: Column, disc: Column): Column =
    cents(price) * (lit(100L) - floor(disc * 100 + 0.5).cast("long"))

  private val rev4Sql =
    """(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
       * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))"""

  // ------------------------------------------------------------------
  // q512 — Quade test across market segments, year-blocked
  // ------------------------------------------------------------------

  /** q512 — Quade test of segment revenue across order-year blocks:
    * Friedman's blocked ranks, but each block is WEIGHTED by the rank
    * of its sample range, so high-information years (big between-
    * segment spread) dominate — the member of the q351/q400 blocked-
    * rank family that uses the within-block spread the others discard
    * (Quade 1979). Blocks with incomplete segment coverage are
    * excluded (stated — Quade requires complete blocks).
    *
    * Exactness: within-block ranks and the block-weight ranks use the
    * DOUBLED average-rank convention (D = 2·rank_min + ties − 1,
    * exact integers — q448/q456's device), so the scaled score
    * 4·S_ij = E_i·(D_ij − (k+1)) is a pure BIGINT; with T_j = Σᵢ4S_ij
    * the statistic F = (n−1)·ΣT_j² / (n·Σ(4S_ij)² − ΣT_j²) (the 16s
    * cancel) is ONE truncating micro-division on DECIMAL(38,0).
    * Perfect agreement (denominator ≤ 0) → NULL F (stated). Verdict
    * vs the pinned F(k−1 = 4, df2) 5% ladder.
    *
    * Scale shape: one orders⋈customer join (both sides shuffled on
    * the key, AQE-sized), collapsed immediately to the year×segment
    * CELL grid (≤ 7×5); every window/rank after that is over the
    * bounded grid, never the fact table. */
  def q512(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cells = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        $"o_custkey" === $"c_custkey")
      .groupBy(year($"o_orderdate").as("yr"), $"c_mktsegment".as("seg"))
      .agg(sum(cents($"o_totalprice")).as("y"))
    val full = cells
      .withColumn("kk", count(lit(1)).over(Window.partitionBy($"yr")))
      .filter($"kk" === 5).drop("kk")
      .transform(Fx.materialize)
    // doubled within-block average ranks
    val wB = Window.partitionBy($"yr").orderBy($"y")
    val ranked = full
      .withColumn("dd",
        lit(2L) * rank().over(wB) +
          count(lit(1)).over(Window.partitionBy($"yr", $"y")) - 1L)
    // doubled block-weight ranks of the block ranges
    val rng = full.groupBy($"yr").agg((max($"y") - min($"y")).as("rng"))
    val wR = Window.orderBy($"rng")
    val wts = rng
      .withColumn("ee",
        lit(2L) * rank().over(wR) +
          count(lit(1)).over(Window.partitionBy($"rng")) - 1L)
      .select($"yr".as("wyr"), $"ee")
    val sc = ranked.join(broadcast(wts), $"yr" === $"wyr")
      .select($"yr", $"seg", ($"ee" * ($"dd" - 6L)).as("s4"))
    val tj = sc.groupBy($"seg").agg(sum($"s4").as("t4"))
    val tot = sc.agg(
        sum(expr("cast(s4 as decimal(38,0)) * s4")).as("a16"),
        countDistinct($"yr").as("nb"))
      .crossJoin(tj.agg(sum(expr("cast(t4 as decimal(38,0)) * t4")).as("b16")))
      .select($"nb", $"a16", $"b16",
        when($"nb" * $"a16" - $"b16" <= 0, lit(null).cast("long"))
          .otherwise(expr(
            "cast((((nb - 1) * b16) * 1000000) div (nb * a16 - b16) as bigint)"))
          .as("f_micro"),
        (($"nb" - 1) * 4).cast("long").as("df2"))
      .withColumn("f_crit_micro", expr(
        """cast(case df2 when 4 then 6388233 when 8 then 3837853
           when 12 then 3259167 when 16 then 3006917 when 20 then 2866081
           when 24 then 2776289 when 28 then 2714076
           else 2371945 end as bigint)"""))
      .withColumn("reject_5pct",
        when($"f_micro".isNull, lit(null).cast("int"))
          .otherwise(($"f_micro" > $"f_crit_micro").cast("int")))
    tj.crossJoin(broadcast(tot.select(
        $"nb".as("n_blocks"), $"f_micro", $"df2", $"reject_5pct")))
      .select($"seg", $"t4".as("t_scaled"), $"n_blocks", $"f_micro",
        $"df2", $"reject_5pct")
      .orderBy($"seg")
  }

  val q512Sql: String =
    """WITH cells AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr, c_mktsegment AS seg,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |full_b AS (
      |  SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY yr) AS kk FROM cells) c
      |  WHERE kk = 5),
      |ranked AS (
      |  SELECT yr, seg,
      |    2 * rank() OVER (PARTITION BY yr ORDER BY y)
      |      + count(*) OVER (PARTITION BY yr, y) - 1 AS dd
      |  FROM full_b),
      |rng AS (SELECT yr, max(y) - min(y) AS rng FROM full_b GROUP BY 1),
      |wts AS (
      |  SELECT yr,
      |    2 * rank() OVER (ORDER BY rng)
      |      + count(*) OVER (PARTITION BY rng) - 1 AS ee
      |  FROM rng),
      |sc AS (
      |  SELECT r.yr, r.seg, w.ee * (r.dd - 6) AS s4
      |  FROM ranked r JOIN wts w ON r.yr = w.yr),
      |tj AS (SELECT seg, CAST(sum(s4) AS BIGINT) AS t4 FROM sc GROUP BY 1),
      |tot AS (
      |  SELECT
      |    (SELECT CAST(count(DISTINCT yr) AS BIGINT) FROM sc) AS nb,
      |    (SELECT sum(CAST(s4 AS HUGEINT) * s4) FROM sc) AS a16,
      |    (SELECT sum(CAST(t4 AS HUGEINT) * t4) FROM tj) AS b16),
      |st AS (
      |  SELECT nb,
      |    CASE WHEN nb * a16 - b16 <= 0 THEN NULL
      |      ELSE CAST((((nb - 1) * b16) * 1000000) // (nb * a16 - b16)
      |        AS BIGINT) END AS f_micro,
      |    CAST((nb - 1) * 4 AS BIGINT) AS df2
      |  FROM tot),
      |st2 AS (
      |  SELECT nb, f_micro, df2,
      |    CAST(CASE df2 WHEN 4 THEN 6388233 WHEN 8 THEN 3837853
      |      WHEN 12 THEN 3259167 WHEN 16 THEN 3006917 WHEN 20 THEN 2866081
      |      WHEN 24 THEN 2776289 WHEN 28 THEN 2714076
      |      ELSE 2371945 END AS BIGINT) AS f_crit_micro
      |  FROM st)
      |SELECT tj.seg, tj.t4 AS t_scaled, st2.nb AS n_blocks, st2.f_micro,
      |  st2.df2,
      |  CASE WHEN st2.f_micro IS NULL THEN NULL
      |    ELSE CAST(st2.f_micro > st2.f_crit_micro AS INT) END AS reject_5pct
      |FROM tj CROSS JOIN st2
      |ORDER BY seg""".stripMargin

  // ------------------------------------------------------------------
  // q513 — Fleiss κ of three deterministic document raters
  // ------------------------------------------------------------------

  /** q513 — Fleiss κ agreement of three deterministic binary "raters"
    * on every document (lang = 'en'; quality micro ≥ 500000; length
    * in [100, 500] chars): do the engine's cheap keep/drop signals
    * agree beyond chance? The ≥3-rater generalization Cohen's κ
    * (q471) cannot express. With n = 3 ratings per subject and
    * categories {0,1}, κ reduces to exact integers: A = Σᵢ(kᵢ² +
    * (3−kᵢ)²) (kᵢ = #positive ratings of doc i), K = Σᵢkᵢ, and
    * κ = (3N(A−3N) − 2K² − 2(3N−K)²) / (18N² − 2K² − 2(3N−K)²)
    * — ONE truncating micro-division of DECIMAL(38,0) forms
    * (negative κ truncates toward zero in both engines, stated).
    * The Landis–Koch band is an integer threshold ladder on κ_micro.
    * NULL-text docs are excluded from all three raters (stated).
    * Scale: one scan, one global aggregate — three integers. */
  def q513(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = (($"lang" === "en").cast("long") +
      (graft.functions.TextAnalysis.qualityMicro($"text") >= 500000L)
        .cast("long") +
      ($"n_chars" >= 100L && $"n_chars" <= 500L).cast("long")).as("k")
    Tables.documents(s, d)
      .filter($"text".isNotNull && $"n_chars".isNotNull)
      .select(k)
      .agg(count(lit(1)).as("n"), sum($"k").as("kk"),
        sum(expr("k * k + (3 - k) * (3 - k)")).as("a"))
      .select($"n", $"kk".as("n_pos_ratings"), $"a".as("agree_sum"),
        expr("""cast((
            (3 * cast(n as decimal(38,0)) * (a - 3 * n)
             - 2 * cast(kk as decimal(38,0)) * kk
             - 2 * cast(3 * n - kk as decimal(38,0)) * (3 * n - kk))
            * 1000000) div
            (18 * cast(n as decimal(38,0)) * n
             - 2 * cast(kk as decimal(38,0)) * kk
             - 2 * cast(3 * n - kk as decimal(38,0)) * (3 * n - kk))
          as bigint)""").as("kappa_micro"))
      .withColumn("band",
        when($"kappa_micro" < 0L, "poor")
          .when($"kappa_micro" < 200000L, "slight")
          .when($"kappa_micro" < 400000L, "fair")
          .when($"kappa_micro" < 600000L, "moderate")
          .when($"kappa_micro" < 800000L, "substantial")
          .otherwise("almost_perfect"))
      .orderBy($"n")
  }

  val q513Sql: String = {
    val micro = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
      |  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
      |    + (CASE WHEN $micro >= 500000 THEN 1 ELSE 0 END)
      |    + (CASE WHEN n_chars >= 100 AND n_chars <= 500 THEN 1 ELSE 0 END)
      |    AS k
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS kk,
      |    CAST(sum(k * k + (3 - k) * (3 - k)) AS BIGINT) AS a
      |  FROM f),
      |st AS (
      |  SELECT n, kk, a,
      |    CAST(((3 * CAST(n AS HUGEINT) * (a - 3 * n)
      |           - 2 * CAST(kk AS HUGEINT) * kk
      |           - 2 * CAST(3 * n - kk AS HUGEINT) * (3 * n - kk))
      |          * 1000000) //
      |         (18 * CAST(n AS HUGEINT) * n
      |           - 2 * CAST(kk AS HUGEINT) * kk
      |           - 2 * CAST(3 * n - kk AS HUGEINT) * (3 * n - kk))
      |      AS BIGINT) AS kappa_micro
      |  FROM g)
      |SELECT n, kk AS n_pos_ratings, a AS agree_sum, kappa_micro,
      |  CASE WHEN kappa_micro < 0 THEN 'poor'
      |    WHEN kappa_micro < 200000 THEN 'slight'
      |    WHEN kappa_micro < 400000 THEN 'fair'
      |    WHEN kappa_micro < 600000 THEN 'moderate'
      |    WHEN kappa_micro < 800000 THEN 'substantial'
      |    ELSE 'almost_perfect' END AS band
      |FROM st ORDER BY n""".stripMargin
  }

  // ------------------------------------------------------------------
  // q514 — Stuart–Maxwell marginal homogeneity of the langid matrix
  // ------------------------------------------------------------------

  /** The langId CASE expression in DuckDB SQL (q42's oracle form):
    * argmax of stopword hits in declared lang order, 0 hits →
    * 'unknown'. */
  private def langIdSql: String = {
    val occ = (w: String) =>
      graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", w)
    val scores = graft.functions.TextAnalysis.langStopwords.map {
      case (l, ws) => l -> ws.map(occ).mkString("(", " + ", ")")
    }
    val maxE = scores.map(_._2).mkString("greatest(", ", ", ")")
    scores.map { case (l, e) => s"WHEN $e = $maxE THEN '$l'" }
      .mkString(s"(CASE WHEN $maxE = 0 THEN 'unknown' ", " ",
        " ELSE 'unknown' END)")
  }

  /** q514 — Stuart–Maxwell test of MARGINAL homogeneity between the
    * declared language and the n-gram langId prediction, on the
    * {en, es, fr} confusion square (rows outside the square are
    * excluded — stated): does the classifier's predicted language
    * DISTRIBUTION match the true one, even where individual cells
    * disagree? The LOCATION companion to Bowker q475 (which tests
    * cell symmetry) and the TEST on top of q42's confusion-matrix
    * estimator. χ² = d′S⁻¹d with d = (r₁−c₁, r₂−c₂),
    * Sⱼⱼ = rⱼ+cⱼ−2nⱼⱼ, S₁₂ = −(n₁₂+n₂₁); by the 2×2 adjugate this is
    * the exact rational (S₂₂d₁² − 2S₁₂d₁d₂ + S₁₁d₂²)/det(S) —
    * ONE truncating micro-division of exact integers. det ≤ 0 →
    * NULL (stated; det = 0 is the degenerate no-off-diagonal case).
    * Verdict vs pinned χ²(2) = 5.991465. Output: the zero-filled 3×3
    * contingency rows with the statistic broadcast. Scale: one scan
    * → 9-cell grid; everything after is constant-size. */
  def q514(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = Seq("en", "es", "fr")
    val obs = Tables.documents(s, d)
      .select($"lang".as("actual"),
        graft.functions.TextAnalysis.langId($"text").as("pred"))
      .filter($"actual".isin(langs: _*) && $"pred".isin(langs: _*))
      .groupBy($"actual", $"pred").agg(count(lit(1)).as("n"))
    val grid = langs.toDF("ga").crossJoin(langs.toDF("gp"))
    val cells = grid.join(obs,
        $"ga" === $"actual" && $"gp" === $"pred", "left")
      .select($"ga", $"gp", coalesce($"n", lit(0L)).as("n"))
      .transform(Fx.materialize)
    val st = cells.agg(
        sum(when($"ga" === "en", $"n").otherwise(0L)).as("r1"),
        sum(when($"ga" === "es", $"n").otherwise(0L)).as("r2"),
        sum(when($"gp" === "en", $"n").otherwise(0L)).as("c1"),
        sum(when($"gp" === "es", $"n").otherwise(0L)).as("c2"),
        sum(when($"ga" === "en" && $"gp" === "en", $"n").otherwise(0L)).as("n11"),
        sum(when($"ga" === "es" && $"gp" === "es", $"n").otherwise(0L)).as("n22"),
        sum(when($"ga" === "en" && $"gp" === "es", $"n").otherwise(0L)).as("n12"),
        sum(when($"ga" === "es" && $"gp" === "en", $"n").otherwise(0L)).as("n21"))
      .select(
        ($"r1" - $"c1").as("d1"), ($"r2" - $"c2").as("d2"),
        ($"r1" + $"c1" - $"n11" * 2).as("s11"),
        ($"r2" + $"c2" - $"n22" * 2).as("s22"),
        (-($"n12" + $"n21")).as("s12"))
      .select($"d1", $"d2",
        when(expr(
          "cast(s11 as decimal(38,0)) * s22 - cast(s12 as decimal(38,0)) * s12")
          <= 0, lit(null).cast("long"))
          .otherwise(expr(
            """cast(((cast(s22 as decimal(38,0)) * d1 * d1
               - 2 * cast(s12 as decimal(38,0)) * d1 * d2
               + cast(s11 as decimal(38,0)) * d2 * d2) * 1000000)
               div (cast(s11 as decimal(38,0)) * s22
                 - cast(s12 as decimal(38,0)) * s12) as bigint)"""))
          .as("chi2_micro"))
      .withColumn("reject_5pct",
        when($"chi2_micro".isNull, lit(null).cast("int"))
          .otherwise(($"chi2_micro" > 5991465L).cast("int")))
    cells.crossJoin(broadcast(st))
      .select($"ga".as("actual"), $"gp".as("pred"), $"n",
        $"d1", $"d2", $"chi2_micro", $"reject_5pct")
      .orderBy($"actual", $"pred")
  }

  val q514Sql: String =
    s"""WITH obs AS (
      |  SELECT lang AS actual, $langIdSql AS pred, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |langs AS (SELECT unnest(['en', 'es', 'fr']) AS l),
      |cells AS (
      |  SELECT ga.l AS ga, gp.l AS gp,
      |    CAST(COALESCE((SELECT cnt FROM obs
      |      WHERE actual = ga.l AND pred = gp.l), 0) AS BIGINT) AS n
      |  FROM langs ga CROSS JOIN langs gp),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN ga = 'en' THEN n ELSE 0 END) AS r1,
      |    sum(CASE WHEN ga = 'es' THEN n ELSE 0 END) AS r2,
      |    sum(CASE WHEN gp = 'en' THEN n ELSE 0 END) AS c1,
      |    sum(CASE WHEN gp = 'es' THEN n ELSE 0 END) AS c2,
      |    sum(CASE WHEN ga = 'en' AND gp = 'en' THEN n ELSE 0 END) AS n11,
      |    sum(CASE WHEN ga = 'es' AND gp = 'es' THEN n ELSE 0 END) AS n22,
      |    sum(CASE WHEN ga = 'en' AND gp = 'es' THEN n ELSE 0 END) AS n12,
      |    sum(CASE WHEN ga = 'es' AND gp = 'en' THEN n ELSE 0 END) AS n21
      |  FROM cells),
      |st AS (
      |  SELECT CAST(r1 - c1 AS BIGINT) AS d1, CAST(r2 - c2 AS BIGINT) AS d2,
      |    CAST(r1 + c1 - 2 * n11 AS HUGEINT) AS s11,
      |    CAST(r2 + c2 - 2 * n22 AS HUGEINT) AS s22,
      |    CAST(-(n12 + n21) AS HUGEINT) AS s12
      |  FROM m),
      |res AS (
      |  SELECT d1, d2,
      |    CASE WHEN s11 * s22 - s12 * s12 <= 0 THEN NULL
      |      ELSE CAST(((s22 * d1 * d1 - 2 * s12 * d1 * d2
      |        + s11 * d2 * d2) * 1000000)
      |        // (s11 * s22 - s12 * s12) AS BIGINT) END AS chi2_micro
      |  FROM st)
      |SELECT c.ga AS actual, c.gp AS pred, c.n, r.d1, r.d2, r.chi2_micro,
      |  CASE WHEN r.chi2_micro IS NULL THEN NULL
      |    ELSE CAST(r.chi2_micro > 5991465 AS INT) END AS reject_5pct
      |FROM cells c CROSS JOIN res r
      |ORDER BY actual, pred""".stripMargin

  // ------------------------------------------------------------------
  // q515 — Tukey–Kramer HSD pairwise segment means
  // ------------------------------------------------------------------

  /** q515 — Tukey–Kramer honestly-significant-difference pairwise
    * comparison of mean order value across the five market segments:
    * WHICH pairs differ, at a familywise 5% — the post-hoc step the
    * omnibus tests (Kruskal–Wallis q334, Mood q467) stop short of.
    * Rejects pair (i,j) iff |m̄ᵢ−m̄ⱼ| > q·√(MSW(1/nᵢ+1/nⱼ)/2) with
    * q = q₀.₀₅(5, ∞) = 3.858 pinned (df₂ = N−k is ≥ thousands at
    * every SF — stated large-sample critical).
    *
    * Exactness: means enter on the stated micro-cent grid
    * (mᵢ = (Sᵢ·10⁶) div nᵢ); MSW stays on the raw cents² grid (a
    * micro-scaled cents² variance would exceed BIGINT) via per-group
    * truncations wg = (ng·Σx²−S²) div ng summed, then
    * msw = ΣW div (N−k); the HSD comparison is then the pure
    * DECIMAL(38,0) cross-multiplication d²·2·nᵢ·nⱼ >
    * q²micro·msw·(nᵢ+nⱼ)·10⁶ (q² = 14.884164·10⁶) — squaring removes
    * the sqrt and no integral divide ever touches the ~1e31 products.
    * Scale: one orders⋈customer join → 5 group rows → 10 broadcast
    * pairs. */
  def q515(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), cents($"o_totalprice").as("x"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sx2"))
      .withColumn("w", expr(
        "(n * sx2 - cast(sx as decimal(38,0)) * sx) div n"))
      .withColumn("mean_micro", expr(
        "cast((cast(sx as decimal(38,0)) * 1000000) div n as bigint)"))
      .transform(Fx.materialize)
    val msw = g.agg(sum(expr("cast(w as decimal(38,0))")).as("ssw"),
        (sum($"n") - count(lit(1))).as("dfw"))
      .select(expr("cast(ssw div dfw as bigint)").as("msw_cents2"))
    val a = g.select($"seg".as("seg_a"), $"n".as("na"),
      $"mean_micro".as("mean_a_micro"))
    val b = g.select($"seg".as("seg_b"), $"n".as("nb"),
      $"mean_micro".as("mean_b_micro"))
    a.join(broadcast(b), $"seg_a" < $"seg_b").crossJoin(broadcast(msw))
      .withColumn("d", $"mean_a_micro" - $"mean_b_micro")
      .select($"seg_a", $"seg_b", $"na", $"nb",
        $"mean_a_micro", $"mean_b_micro", $"msw_cents2",
        (expr("cast(d as decimal(38,0)) * d * 2 * na * nb") >
          expr("14884164 * cast(msw_cents2 as decimal(38,0)) * (na + nb) * 1000000"))
          .cast("int").as("reject_5pct"))
      .orderBy($"seg_a", $"seg_b")
  }

  val q515Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx,
      |    sum(CAST(x AS HUGEINT) * x) AS sx2
      |  FROM (
      |    SELECT c_mktsegment,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      |    FROM orders JOIN customer ON o_custkey = c_custkey) t
      |  GROUP BY 1),
      |gg AS (
      |  SELECT seg, n,
      |    (n * sx2 - CAST(sx AS HUGEINT) * sx) // n AS w,
      |    CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT) AS mean_micro
      |  FROM g),
      |msw AS (
      |  SELECT CAST(sum(w) // (sum(n) - count(*)) AS BIGINT)
      |    AS msw_cents2
      |  FROM gg)
      |SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS na, b.n AS nb,
      |  a.mean_micro AS mean_a_micro, b.mean_micro AS mean_b_micro,
      |  msw.msw_cents2,
      |  CAST(CAST(a.mean_micro - b.mean_micro AS HUGEINT)
      |      * (a.mean_micro - b.mean_micro) * 2 * a.n * b.n
      |    > 14884164 * CAST(msw.msw_cents2 AS HUGEINT) * (a.n + b.n) * 1000000
      |    AS INT) AS reject_5pct
      |FROM gg a JOIN gg b ON a.seg < b.seg CROSS JOIN msw
      |ORDER BY seg_a, seg_b""".stripMargin

  // ------------------------------------------------------------------
  // q516 — exact sign test on paired brand half-period revenues
  // ------------------------------------------------------------------

  /** Per-brand revenue delta between the calendar halves (second −
    * first, ship date split at 1995-07-01), on the exact 1e-4 grid.
    * Shared by q516 and q517. */
  private def brandDeltas(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"),
        (when($"l_shipdate" >= to_date(lit("1995-07-01")), lit(1L))
          .otherwise(lit(-1L)) *
          rev4($"l_extendedprice", $"l_discount")).as("sd"))
      .groupBy($"brand").agg(sum($"sd").as("d"))
  }

  private val brandDeltasSql: String =
    s"""SELECT p_brand AS brand,
       |  CAST(sum((CASE WHEN l_shipdate >= DATE '1995-07-01'
       |    THEN 1 ELSE -1 END) * $rev4Sql) AS BIGINT) AS d
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1""".stripMargin

  /** q516 — EXACT sign test of whether brand revenue moved between the
    * two calendar halves: n = brands with a nonzero delta, the test
    * statistic is the count of positive deltas, and the two-sided
    * p-value is the exact binomial tail 2·Σ_{i≤m} C(n,i)/2ⁿ
    * (m = min(pos, n−pos)), capped at 1 — no normal approximation,
    * the distribution-free companion to Wilcoxon q448 (which uses
    * magnitudes; the sign test is what remains valid when only
    * direction is trusted). Verdict: 40·tail ≤ 2ⁿ ⟺ p ≤ 0.05, an
    * exact integer comparison.
    *
    * Exactness: deltas are exact 1e-4-grid BIGINTs; the binomial tail
    * is folded on the DRIVER over the ≤26-entry Pascal prefix in
    * BigInt (the bounded-grid exception, q390's precedent — n is the
    * 25-value brand domain, never the corpus); the oracle mirrors it
    * with a recursive CTE using the exact C(n,i+1) = C(n,i)(n−i)/(i+1)
    * integer recurrence. Scale: one lineitem⋈part join collapsed to
    * 25 brand rows; the fold is O(n) on constants. */
  def q516(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deltas = brandDeltas(s, d).transform(Fx.materialize)
    val row = deltas.agg(
        sum(($"d" =!= 0L).cast("long")).as("n"),
        sum(($"d" > 0L).cast("long")).as("pos"))
      .head()
    val n = row.getLong(0); val pos = row.getLong(1)
    val m = math.min(pos, n - pos)
    val tail = (0L to m).scanLeft(BigInt(1)) { case (c, i) =>
      c * (n - i) / (i + 1)
    }.take(m.toInt + 1).sum  // Σ_{i=0..m} C(n,i)
    val twoN = BigInt(2).pow(n.toInt)
    val pMicro = ((BigInt(2) * tail * 1000000) / twoN).min(BigInt(1000000))
    val reject = if (BigInt(40) * tail <= twoN) 1 else 0
    deltas
      .select($"brand", $"d",
        when($"d" > 0L, 1L).when($"d" < 0L, -1L).otherwise(0L).as("sign"))
      .withColumn("n_informative", lit(n))
      .withColumn("n_pos", lit(pos))
      .withColumn("p_micro", lit(pMicro.toLong))
      .withColumn("reject_5pct", lit(reject))
      .orderBy($"brand")
  }

  val q516Sql: String =
    s"""WITH RECURSIVE b AS ($brandDeltasSql),
      |inf AS (
      |  SELECT CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM b),
      |mm AS (SELECT n, pos, least(pos, n - pos) AS m FROM inf),
      |pas(i, c) AS (
      |  SELECT 0, CAST(1 AS HUGEINT)
      |  UNION ALL
      |  SELECT i + 1, (c * ((SELECT n FROM mm) - i)) // (i + 1)
      |  FROM pas WHERE i + 1 <= (SELECT m FROM mm)),
      |t AS (SELECT sum(c) AS tail FROM pas),
      |st AS (
      |  SELECT mm.n, mm.pos,
      |    CAST(least(1000000,
      |      (2 * t.tail * 1000000) // (CAST(1 AS BIGINT) << mm.n))
      |      AS BIGINT) AS p_micro,
      |    CAST(40 * t.tail <= (CAST(1 AS BIGINT) << mm.n) AS INT)
      |      AS reject_5pct
      |  FROM mm CROSS JOIN t)
      |SELECT b.brand, b.d,
      |  CAST(CASE WHEN b.d > 0 THEN 1 WHEN b.d < 0 THEN -1 ELSE 0 END
      |    AS BIGINT) AS sign,
      |  st.n AS n_informative, st.pos AS n_pos, st.p_micro, st.reject_5pct
      |FROM b CROSS JOIN st
      |ORDER BY brand""".stripMargin

  // ------------------------------------------------------------------
  // q517 — Fisher–Pitman permutation test via md5 sign flips
  // ------------------------------------------------------------------

  /** q517 — Fisher–Pitman paired permutation test on the same brand
    * deltas: under H₀ (no half-to-half shift) each delta's sign is
    * exchangeable, so T = Σd is compared against 256 deterministic
    * sign-flip replicas (flip iff the first hex digit of
    * md5(brand·'#'·perm) < '8' — an exact fair coin in both engines,
    * q340's md5-grid device turned from a CI into a TEST). p =
    * (#{|T_perm| ≥ |T_obs|} + 1)/257 (add-one: the identity
    * permutation is always as extreme). USES the magnitudes q516's
    * sign test discards — the exact test of the mean shift itself.
    * All integers: deltas exact 1e-4-grid BIGINTs, T sums exact, p is
    * one truncating micro-division. Scale: 25 brands × 256 perms =
    * 6400 rows, all post-agg. */
  def q517(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deltas = brandDeltas(s, d).transform(Fx.materialize)
    val obs = deltas.agg(sum($"d").as("t_obs"),
      count(lit(1)).as("n_brands"))
    val perms = deltas
      .crossJoin(broadcast(
        Seq.range(0, 256).toDF("p")))
      .select($"p",
        (when(substring(md5_fast(concat($"brand", lit("#"), $"p".cast("string"))),
          1, 1) < "8", lit(1L)).otherwise(lit(-1L)) * $"d").as("sd"))
      .groupBy($"p").agg(sum($"sd").as("t_perm"))
    perms.crossJoin(broadcast(obs))
      .agg(sum((abs($"t_perm") >= abs($"t_obs")).cast("long")).as("n_extreme"),
        min($"t_obs").as("t_obs"), min($"n_brands").as("n_brands"))
      .select($"n_brands", $"t_obs", lit(256L).as("n_perms"), $"n_extreme",
        expr("((n_extreme + 1) * 1000000) div 257").as("p_micro"))
      .orderBy($"n_brands")
  }

  val q517Sql: String =
    s"""WITH RECURSIVE b AS ($brandDeltasSql),
      |obs AS (SELECT CAST(sum(d) AS BIGINT) AS t_obs,
      |  CAST(count(*) AS BIGINT) AS n_brands FROM b),
      |perm(p) AS (
      |  SELECT 0 UNION ALL SELECT p + 1 FROM perm WHERE p + 1 <= 255),
      |tp AS (
      |  SELECT p, CAST(sum(CASE WHEN substr(
      |      md5(brand || '#' || CAST(p AS VARCHAR)), 1, 1) < '8'
      |    THEN d ELSE -d END) AS BIGINT) AS t_perm
      |  FROM b CROSS JOIN perm
      |  GROUP BY p)
      |SELECT obs.n_brands, obs.t_obs, CAST(256 AS BIGINT) AS n_perms,
      |  CAST(sum(CASE WHEN abs(t_perm) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
      |  CAST(((sum(CASE WHEN abs(t_perm) >= abs(obs.t_obs)
      |    THEN 1 ELSE 0 END) + 1) * 1000000) // 257 AS BIGINT) AS p_micro
      |FROM tp CROSS JOIN obs
      |GROUP BY obs.n_brands, obs.t_obs
      |ORDER BY n_brands""".stripMargin

  // ------------------------------------------------------------------
  // q518 — ICC(1) of document length clustered by source
  // ------------------------------------------------------------------

  /** q518 — one-way intraclass correlation ICC(1) of document length
    * within sources: how much of length variance is BETWEEN-source —
    * the clustering coefficient behind every design-effect correction
    * (the deff q322's Kish formula PRESUMES; ICC is what a survey
    * statistician would estimate first). ICC = (MSB − MSW)/(MSB +
    * (k̄−1)MSW) with the unequal-group-size k̄ = (N − Σn_g²/N)/(k−1).
    *
    * Exactness: group sums/squares exact BIGINT/DECIMAL(38,0); each
    * mean square is built from stated micro truncations
    * (t1 = Σ_g (S_g²·10⁶ div n_g); ssb = t1 − S²·10⁶ div N;
    * msb = ssb div (k−1); msw = (ΣX²·10⁶ − t1) div (N−k);
    * k̄ = (N·10⁶ − Σn_g²·10⁶ div N) div (k−1)); ICC is one final
    * micro division with a NULL guard on the degenerate denominator.
    * Scale: one scan → 20 group rows → one broadcast row. */
  def q518(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.documents(s, d)
      .filter($"n_chars".isNotNull)
      .select($"source", $"n_chars".cast("long").as("x"))
      .groupBy($"source")
      .agg(count(lit(1)).as("ng"), sum($"x").as("sg"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("qg"))
    g.agg(count(lit(1)).as("k"), sum($"ng").as("n"),
        sum($"sg").as("stot"), sum($"qg").as("qtot"),
        sum(expr("(cast(sg as decimal(38,0)) * sg * 1000000) div ng"))
          .as("t1"),
        sum(expr("cast(ng as decimal(38,0)) * ng")).as("sn2"))
      .select($"k", $"n",
        expr("(t1 - (cast(stot as decimal(38,0)) * stot * 1000000) div n) div (k - 1)")
          .as("msb_micro"),
        expr("(cast(qtot as decimal(38,0)) * 1000000 - t1) div (n - k)")
          .as("msw_micro"),
        expr("(cast(n as decimal(38,0)) * 1000000 - (sn2 * 1000000) div n) div (k - 1)")
          .as("kbar_micro"))
      .withColumn("icc_micro", when(
          expr("msb_micro + ((kbar_micro - 1000000) * cast(msw_micro as decimal(38,0))) div 1000000") <= 0,
          lit(null).cast("long"))
        .otherwise(expr(
          """cast(((msb_micro - msw_micro) * cast(1000000 as decimal(38,0)))
             div (msb_micro + ((kbar_micro - 1000000)
               * cast(msw_micro as decimal(38,0))) div 1000000) as bigint)""")))
      .select($"k".as("k_sources"), $"n".as("n_docs"),
        $"msb_micro", $"msw_micro", $"kbar_micro", $"icc_micro")
      .orderBy($"k_sources")
  }

  val q518Sql: String =
    """WITH g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(x) AS BIGINT) AS sg,
      |    sum(CAST(x AS HUGEINT) * x) AS qg
      |  FROM (SELECT source, CAST(n_chars AS BIGINT) AS x
      |        FROM documents WHERE n_chars IS NOT NULL) t
      |  GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(sg) AS BIGINT) AS stot, sum(qg) AS qtot,
      |    sum((CAST(sg AS HUGEINT) * sg * 1000000) // ng) AS t1,
      |    sum(CAST(ng AS HUGEINT) * ng) AS sn2
      |  FROM g),
      |ms AS (
      |  SELECT k, n,
      |    CAST((t1 - (CAST(stot AS HUGEINT) * stot * 1000000) // n)
      |      // (k - 1) AS BIGINT) AS msb_micro,
      |    CAST((CAST(qtot AS HUGEINT) * 1000000 - t1) // (n - k)
      |      AS BIGINT) AS msw_micro,
      |    CAST((CAST(n AS HUGEINT) * 1000000 - (sn2 * 1000000) // n)
      |      // (k - 1) AS BIGINT) AS kbar_micro
      |  FROM m)
      |SELECT k AS k_sources, n AS n_docs, msb_micro, msw_micro, kbar_micro,
      |  CASE WHEN msb_micro + ((kbar_micro - 1000000)
      |      * CAST(msw_micro AS HUGEINT)) // 1000000 <= 0 THEN NULL
      |    ELSE CAST(((msb_micro - msw_micro) * CAST(1000000 AS HUGEINT))
      |      // (msb_micro + ((kbar_micro - 1000000)
      |        * CAST(msw_micro AS HUGEINT)) // 1000000) AS BIGINT)
      |    END AS icc_micro
      |FROM ms ORDER BY k_sources""".stripMargin

  // ------------------------------------------------------------------
  // q519 — Chinchilla compute-optimal allocation plan
  // ------------------------------------------------------------------

  /** q519 — compute-optimal parameter/token allocation over a FLOPs
    * budget grid (Hoffmann et al. 2022: at optimum D ≈ 20·N, and with
    * C = 6·N·D the optimum is N* = max{y : 120·y² ≤ C}): the planning
    * table that turns a compute budget into a model size, a token
    * budget, and — joined against THIS corpus's exact token count —
    * how many epochs the corpus covers (the "do we have enough data"
    * row a q103/q184 mixing plan starts from).
    *
    * Exactness: budgets are exact decimal powers of ten built from
    * strings (10²³ is NOT a representable double); N* is an EXACT
    * integer square root — a double-sqrt seed followed by two
    * up/down corrections against the pure-decimal predicate
    * 120·y² ≤ C, so the float seed can be off and the answer still
    * exact; everything downstream (D* = 20N*, epochs) is BIGINT with
    * one stated micro division. Scale: a 6-row literal grid joined to
    * one corpus aggregate. */
  def q519(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = Tables.documents(s, d)
      .filter($"text".isNotNull)
      .agg(sum(graft.functions.TextAnalysis.tokenCount($"text").cast("long"))
        .as("corpus_tokens"))
    val grid = Seq(18, 19, 20, 21, 22, 23).toDF("budget_exp")
      .withColumn("c", expr(
        "cast(concat('1', repeat('0', budget_exp)) as decimal(38,0))"))
      .withColumn("y0", expr(
        "cast(floor(sqrt(cast(c as double) / 120.0)) as bigint)"))
      .withColumn("y1", expr(
        "y0 + (case when 120 * cast(y0 + 1 as decimal(38,0)) * (y0 + 1) <= c then 1 else 0 end)"))
      .withColumn("y2", expr(
        "y1 + (case when 120 * cast(y1 + 1 as decimal(38,0)) * (y1 + 1) <= c then 1 else 0 end)"))
      .withColumn("y3", expr(
        "y2 - (case when 120 * cast(y2 as decimal(38,0)) * y2 > c then 1 else 0 end)"))
      .withColumn("n_star", expr(
        "y3 - (case when 120 * cast(y3 as decimal(38,0)) * y3 > c then 1 else 0 end)"))
      .withColumn("d_star", $"n_star" * 20L)
    grid.crossJoin(broadcast(corpus))
      .select($"budget_exp", $"n_star", $"d_star", $"corpus_tokens",
        expr("(d_star * 1000000) div corpus_tokens").as("epochs_micro"))
      .orderBy($"budget_exp")
  }

  val q519Sql: String = {
    val tok = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
    s"""WITH RECURSIVE corpus AS (
      |  SELECT CAST(sum($tok) AS BIGINT) AS corpus_tokens
      |  FROM documents WHERE text IS NOT NULL),
      |ex(budget_exp) AS (
      |  SELECT 18 UNION ALL SELECT budget_exp + 1 FROM ex
      |  WHERE budget_exp + 1 <= 23),
      |g0 AS (
      |  SELECT budget_exp,
      |    CAST('1' || repeat('0', budget_exp) AS HUGEINT) AS c
      |  FROM ex),
      |g1 AS (
      |  SELECT budget_exp, c,
      |    CAST(floor(sqrt(CAST(c AS DOUBLE) / 120.0)) AS BIGINT) AS y0
      |  FROM g0),
      |g2 AS (
      |  SELECT *, y0 + (CASE WHEN 120 * CAST(y0 + 1 AS HUGEINT) * (y0 + 1)
      |    <= c THEN 1 ELSE 0 END) AS y1 FROM g1),
      |g3 AS (
      |  SELECT *, y1 + (CASE WHEN 120 * CAST(y1 + 1 AS HUGEINT) * (y1 + 1)
      |    <= c THEN 1 ELSE 0 END) AS y2 FROM g2),
      |g4 AS (
      |  SELECT *, y2 - (CASE WHEN 120 * CAST(y2 AS HUGEINT) * y2 > c
      |    THEN 1 ELSE 0 END) AS y3 FROM g3),
      |g5 AS (
      |  SELECT budget_exp, y3 - (CASE WHEN 120 * CAST(y3 AS HUGEINT) * y3
      |    > c THEN 1 ELSE 0 END) AS n_star FROM g4)
      |SELECT budget_exp, n_star, n_star * 20 AS d_star,
      |  corpus.corpus_tokens,
      |  CAST((n_star * 20 * 1000000) // corpus.corpus_tokens AS BIGINT)
      |    AS epochs_micro
      |FROM g5 CROSS JOIN corpus
      |ORDER BY budget_exp""".stripMargin
  }

  // ------------------------------------------------------------------
  // q520 — vocabulary coverage / OOV curve
  // ------------------------------------------------------------------

  /** q520 — token coverage at pinned vocabulary sizes (5, 10, 20,
    * 100, 10k — the small sizes keep the curve non-degenerate on this
    * synthetic corpus's compact vocabulary; the large ones are where a
    * real corpus bends): rank the corpus vocabulary by frequency (ties by word —
    * total order) and report, per candidate vocab size V, the token
    * mass the top-V words cover and the OOV mass a tokenizer capped
    * at V would spill to fallback bytes. The CUMULATIVE readout the
    * Zipf slope (q106) and Heaps curve (q424) imply but don't state —
    * and the actual number a vocab-size decision is made on.
    *
    * Exactness: counts are exact; coverage/OOV are separate stated
    * micro divisions. Scale: one token explode → vocab-sized groupBy;
    * the global frequency rank rides [[Ranking.seqIds]]'s
    * range-partition + Tungsten ordinal (NEVER a single-task global
    * row_number over the vocabulary, which grows with the corpus);
    * everything after collapses to ≤5 bucket rows. */
  def q520(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val sizes = Seq(5L, 10L, 20L, 100L, 10000L)
    val freq = Tables.documents(s, d)
      .filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("f"))
    val ranked = Ranking.seqIds(freq, 32, $"f".desc, $"w".asc)
    val bucketed = ranked
      .withColumn("bucket",
        when($"seq_id" <= 5L, 5L).when($"seq_id" <= 10L, 10L)
          .when($"seq_id" <= 20L, 20L).when($"seq_id" <= 100L, 100L)
          .when($"seq_id" <= 10000L, 10000L))
      .filter($"bucket".isNotNull)
      .groupBy($"bucket").agg(sum($"f").as("bf"))
    val tot = freq.agg(sum($"f").as("total_tokens"),
      count(lit(1)).as("n_vocab"))
    sizes.toDF("vocab_size")
      .join(broadcast(bucketed), $"bucket" <= $"vocab_size", "left")
      .groupBy($"vocab_size")
      .agg(coalesce(sum($"bf"), lit(0L)).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select($"vocab_size", $"covered_tokens", $"total_tokens", $"n_vocab",
        expr("(covered_tokens * 1000000) div total_tokens")
          .as("coverage_micro"),
        expr("((total_tokens - covered_tokens) * 1000000) div total_tokens")
          .as("oov_micro"))
      .orderBy($"vocab_size")
  }

  val q520Sql: String =
    """WITH RECURSIVE freq AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w
      |    FROM documents WHERE text IS NOT NULL) t
      |  WHERE w <> '' GROUP BY 1),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rank
      |  FROM freq),
      |bucketed AS (
      |  SELECT CASE WHEN rank <= 5 THEN 5 WHEN rank <= 10 THEN 10
      |    WHEN rank <= 20 THEN 20 WHEN rank <= 100 THEN 100
      |    WHEN rank <= 10000 THEN 10000 END AS bucket,
      |    CAST(sum(f) AS BIGINT) AS bf
      |  FROM ranked WHERE rank <= 10000 GROUP BY 1),
      |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens,
      |  CAST(count(*) AS BIGINT) AS n_vocab FROM freq),
      |sizes(vocab_size) AS (
      |  SELECT CAST(5 AS BIGINT) UNION ALL
      |  SELECT CASE vocab_size WHEN 5 THEN 10 WHEN 10 THEN 20
      |    WHEN 20 THEN 100 ELSE 10000 END
      |  FROM sizes WHERE vocab_size < 10000),
      |cov AS (
      |  SELECT s.vocab_size,
      |    CAST(COALESCE(sum(b.bf), 0) AS BIGINT) AS covered_tokens
      |  FROM sizes s LEFT JOIN bucketed b ON b.bucket <= s.vocab_size
      |  GROUP BY 1)
      |SELECT vocab_size, covered_tokens, tot.total_tokens, tot.n_vocab,
      |  CAST((covered_tokens * 1000000) // tot.total_tokens AS BIGINT)
      |    AS coverage_micro,
      |  CAST(((tot.total_tokens - covered_tokens) * 1000000)
      |    // tot.total_tokens AS BIGINT) AS oov_micro
      |FROM cov CROSS JOIN tot
      |ORDER BY vocab_size""".stripMargin

  // ------------------------------------------------------------------
  // q521 — Matryoshka truncated-dimension retrieval recall
  // ------------------------------------------------------------------

  /** q521 — retrieval quality of TRUNCATED-dimension embeddings
    * (Matryoshka representation learning, Kusupati et al. 2022): rank
    * by cosine over only the first 16 / 32 of 64 dims — the 4× / 2×
    * memory-and-FLOPs path a production retriever takes when the
    * embedding model was MRL-trained — and score recall@10 / top-1
    * rank / reciprocal rank against the exact full-dimension ranking
    * (q190's metric conventions). The DATA-FREE compression member
    * beside SQ8 (q127), PQ, JL (q493) and the IVF recall audit
    * (q190): truncation needs no codebook, no training, no index.
    * Determinism: the q60 sequential cosine fold over the sliced
    * DOUBLE arrays (bit-identical in DuckDB); metrics are rationals
    * of small integers. Scale: broadcast query side (5 vectors × 2
    * dim levels), one pass over targets per level, bounded-heap
    * top-k — never a global sort. */
  def q521(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = Tables.embeddings(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val e = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id", $"vec_id", $"rn".as("e_rn"))
    def truncTopK(dims: Int): DataFrame =
      Similarity.bruteForceTopK(
        qd.select($"q_id", slice($"q_vec", 1, dims).as("q_vec")),
        e.select($"vec_id", slice($"embedding", 1, dims).as("embedding")),
        k = 10)
        .select($"q_id".as("aq_id"), $"vec_id".as("a_vec"),
          $"rn".as("a_rn"), lit(dims.toLong).as("adims"))
    val approx = truncTopK(16).unionByName(truncTopK(32))
    val perQ = exact
      .crossJoin(broadcast(Seq(16L, 32L).toDF("dims")))
      .join(broadcast(approx),
        $"q_id" === $"aq_id" && $"vec_id" === $"a_vec" &&
          $"dims" === $"adims", "left")
      .groupBy($"q_id", $"dims")
      .agg(count($"a_rn").as("n_overlap"),
        min(when($"e_rn" === 1, coalesce($"a_rn", lit(0L)))).as("top1_rank"))
    perQ.select($"q_id", $"dims", $"n_overlap",
        r6($"n_overlap" / lit(10L)).as("recall_at_10"),
        $"top1_rank".cast("long").as("top1_rank"),
        r6(when($"top1_rank" > 0, lit(1.0) / $"top1_rank")
          .otherwise(lit(0.0))).as("top1_rr"))
      .orderBy($"q_id", $"dims")
  }

  val q521Sql: String = {
    val cos =
      "list_dot_product(q_vec, t_vec) / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(t_vec, t_vec)))"
    def level(dims: Int): String =
      s"""SELECT q_id, vec_id, CAST($dims AS BIGINT) AS dims, rn FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
         |    FROM (SELECT q.q_id, t.vec_id,
         |            list_dot_product(q.q_vec[1:$dims], t.t_vec[1:$dims])
         |            / (sqrt(list_dot_product(q.q_vec[1:$dims], q.q_vec[1:$dims]))
         |              * sqrt(list_dot_product(t.t_vec[1:$dims], t.t_vec[1:$dims])))
         |            AS sim
         |          FROM t, q WHERE t.vec_id <> q.q_id) s) r
         |  WHERE rn <= 10""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec
       |      FROM embeddings),
       |e10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q.q_id, t.vec_id, $cos AS sim
       |          FROM t, q WHERE t.vec_id <> q.q_id) s) r WHERE rn <= 10),
       |a10 AS (
       |  ${level(16)}
       |  UNION ALL
       |  ${level(32)}),
       |j AS (
       |  SELECT e10.q_id, d.dims, e10.rn AS e_rn, a10.rn AS a_rn
       |  FROM e10 CROSS JOIN (SELECT CAST(16 AS BIGINT) AS dims
       |    UNION ALL SELECT 32) d
       |  LEFT JOIN a10 ON e10.q_id = a10.q_id AND e10.vec_id = a10.vec_id
       |    AND d.dims = a10.dims)
       |SELECT q_id, dims, count(a_rn) AS n_overlap,
       |  ${Fx.sqlR6("count(a_rn) / 10")} AS recall_at_10,
       |  CAST(min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) AS BIGINT)
       |    AS top1_rank,
       |  ${Fx.sqlR6("CASE WHEN min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) > 0 THEN 1::DOUBLE / min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) ELSE 0::DOUBLE END")}
       |    AS top1_rr
       |FROM j GROUP BY q_id, dims
       |ORDER BY q_id, dims""".stripMargin
  }

  // ------------------------------------------------------------------
  // q522 — Welch's unequal-variance t between two named segments
  // ------------------------------------------------------------------

  /** q522 — Welch's t² between AUTOMOBILE and HOUSEHOLD order values,
    * with the Welch–Satterthwaite df: the UNPOOLED two-sample
    * comparison you run when Levene/Brown–Forsythe (q373) rejects
    * variance homogeneity — q515's HSD and the classic pooled t both
    * assume what this doesn't. Everything is a stated truncation of
    * exact integer moments: per-group means on the micro-cent grid,
    * standard-error squares a_g = (nQ−S²) div (n²(n−1)) on the cents²
    * grid, t² = d² div ((a₁+a₂)·10⁶), and the WS df as ONE
    * denominator-cleared division
    * df = (a₁+a₂)²(n₁−1)(n₂−1) / (a₁²(n₂−1) + a₂²(n₁−1)) on
    * DECIMAL(38,0). Verdict vs a pinned t²(0.975, df) band ladder
    * (each band uses its lower-edge critical, stated). Scale: one
    * orders⋈customer join filtered to the two segments → two group
    * rows. */
  def q522(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .filter($"c_mktsegment".isin("AUTOMOBILE", "HOUSEHOLD"))
      .select($"c_mktsegment".as("seg"), cents($"o_totalprice").as("x"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("q"))
      .withColumn("m_micro",
        expr("cast((cast(sx as decimal(38,0)) * 1000000) div n as bigint)"))
      .withColumn("a", expr(
        "cast((n * q - cast(sx as decimal(38,0)) * sx) div (cast(n as decimal(38,0)) * n * (n - 1)) as bigint)"))
    val a = g.filter($"seg" === "AUTOMOBILE")
      .select($"n".as("n1"), $"m_micro".as("mean1_micro"), $"a".as("a1"))
    val h = g.filter($"seg" === "HOUSEHOLD")
      .select($"n".as("n2"), $"m_micro".as("mean2_micro"), $"a".as("a2"))
    a.crossJoin(broadcast(h))
      .withColumn("dm", $"mean1_micro" - $"mean2_micro")
      .withColumn("t2_micro",
        when($"a1" + $"a2" <= 0L, lit(null).cast("long")).otherwise(expr(
          "cast((cast(dm as decimal(38,0)) * dm) div (cast(a1 + a2 as decimal(38,0)) * 1000000) as bigint)")))
      .withColumn("df_micro",
        when($"a1" + $"a2" <= 0L, lit(null).cast("long")).otherwise(expr(
          """cast((cast(a1 + a2 as decimal(38,0)) * (a1 + a2) * 1000000
             * (n1 - 1) * (n2 - 1))
             div (cast(a1 as decimal(38,0)) * a1 * (n2 - 1)
               + cast(a2 as decimal(38,0)) * a2 * (n1 - 1)) as bigint)""")))
      .withColumn("t2_crit_micro", expr(
        """cast(case when df_micro >= 1000000000 then 3841459
           when df_micro >= 100000000 then 3936256
           when df_micro >= 60000000 then 4001192
           when df_micro >= 30000000 then 4170875
           when df_micro >= 20000000 then 4351242
           when df_micro >= 10000000 then 4964603
           else 6607892 end as bigint)"""))
      .select($"n1", $"n2", $"mean1_micro", $"mean2_micro",
        when($"dm" > 0, 1).when($"dm" < 0, -1).otherwise(0).as("d_sign"),
        $"t2_micro", $"df_micro",
        when($"t2_micro".isNull, lit(null).cast("int"))
          .otherwise(($"t2_micro" > $"t2_crit_micro").cast("int"))
          .as("reject_5pct"))
      .orderBy($"n1")
  }

  val q522Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, sum(CAST(x AS HUGEINT) * x) AS q
      |  FROM (
      |    SELECT c_mktsegment,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      |    FROM orders JOIN customer ON o_custkey = c_custkey
      |    WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')) t
      |  GROUP BY 1),
      |gg AS (
      |  SELECT seg, n,
      |    CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT) AS m_micro,
      |    CAST((n * q - CAST(sx AS HUGEINT) * sx)
      |      // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS a
      |  FROM g),
      |p AS (
      |  SELECT a.n AS n1, a.m_micro AS mean1_micro, a.a AS a1,
      |    h.n AS n2, h.m_micro AS mean2_micro, h.a AS a2,
      |    a.m_micro - h.m_micro AS dm
      |  FROM (SELECT * FROM gg WHERE seg = 'AUTOMOBILE') a
      |  CROSS JOIN (SELECT * FROM gg WHERE seg = 'HOUSEHOLD') h),
      |st AS (
      |  SELECT n1, n2, mean1_micro, mean2_micro, dm,
      |    CASE WHEN a1 + a2 <= 0 THEN NULL
      |      ELSE CAST((CAST(dm AS HUGEINT) * dm)
      |        // (CAST(a1 + a2 AS HUGEINT) * 1000000) AS BIGINT)
      |      END AS t2_micro,
      |    CASE WHEN a1 + a2 <= 0 THEN NULL
      |      ELSE CAST((CAST(a1 + a2 AS HUGEINT) * (a1 + a2) * 1000000
      |          * (n1 - 1) * (n2 - 1))
      |        // (CAST(a1 AS HUGEINT) * a1 * (n2 - 1)
      |          + CAST(a2 AS HUGEINT) * a2 * (n1 - 1)) AS BIGINT)
      |      END AS df_micro
      |  FROM p)
      |SELECT n1, n2, mean1_micro, mean2_micro,
      |  CASE WHEN dm > 0 THEN 1 WHEN dm < 0 THEN -1 ELSE 0 END AS d_sign,
      |  t2_micro, df_micro,
      |  CASE WHEN t2_micro IS NULL THEN NULL
      |    ELSE CAST(t2_micro > (CASE WHEN df_micro >= 1000000000 THEN 3841459
      |    WHEN df_micro >= 100000000 THEN 3936256
      |    WHEN df_micro >= 60000000 THEN 4001192
      |    WHEN df_micro >= 30000000 THEN 4170875
      |    WHEN df_micro >= 20000000 THEN 4351242
      |    WHEN df_micro >= 10000000 THEN 4964603
      |    ELSE 6607892 END) AS INT) END AS reject_5pct
      |FROM st ORDER BY n1""".stripMargin

  // ------------------------------------------------------------------
  // q523 — triangular-kernel density of document length
  // ------------------------------------------------------------------

  /** q523 — triangular-kernel density estimate of document length at
    * the pinned evaluation grid 0, 100, …, 1000 (bandwidth h = 100):
    * the SMOOTH length profile a curation policy reads where a plain
    * histogram jumps at bin edges. The triangular kernel makes KDE
    * exact-integer: weight = max(0, h − |x − p|), density·n·h² =
    * Σ weights — one stated micro division at the end, no float
    * anywhere.
    *
    * Scale shape: each document contributes to AT MOST TWO grid
    * points (grid step = h), so the fan-out is a bounded 2-row
    * explode per doc, O(1) in the grid size, where a docs×grid cross
    * join pays one pass per eval point. Measured (SCALE.md `kde`,
    * 20M rows): at THIS 11-point grid the broadcast cross join is
    * actually ~1.7× faster (pure codegen arithmetic beats the
    * explode's array materialization); at a 1001-point grid the
    * explode wins 5.3× and the gap grows linearly — the explode is
    * the shape that survives a wide grid, which is why it ships.
    * Zero-filled grid, one bounded groupBy. */
  def q523(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val contrib = Tables.documents(s, d)
      .filter($"n_chars".isNotNull)
      .select($"n_chars".cast("long").as("x"))
      .select(explode(array(
        struct((expr("(x div 100) * 100")).as("p"),
          (lit(100L) - ($"x" - expr("(x div 100) * 100"))).as("w")),
        struct((expr("(x div 100) * 100 + 100")).as("p"),
          (lit(100L) - (expr("(x div 100) * 100 + 100") - $"x")).as("w"))))
        .as("c"))
      .select($"c.p", $"c.w")
      .filter($"w" > 0L && $"p" >= 0L && $"p" <= 1000L)
      .groupBy($"p").agg(sum($"w").as("sw"))
    val n = Tables.documents(s, d).filter($"n_chars".isNotNull)
      .agg(count(lit(1)).as("n"))
    Seq.range(0, 11).map(_ * 100L).toDF("eval_point")
      .join(broadcast(contrib), $"p" === $"eval_point", "left")
      .crossJoin(broadcast(n))
      .select($"eval_point", coalesce($"sw", lit(0L)).as("weight_sum"), $"n",
        expr("(coalesce(sw, 0) * 1000000) div (n * 10000)")
          .as("density_micro"))
      .orderBy($"eval_point")
  }

  val q523Sql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT CAST(n_chars AS BIGINT) AS x FROM documents
      |  WHERE n_chars IS NOT NULL),
      |contrib AS (
      |  SELECT p, CAST(sum(w) AS BIGINT) AS sw FROM (
      |    SELECT (x // 100) * 100 AS p, 100 - (x - (x // 100) * 100) AS w
      |    FROM docs
      |    UNION ALL
      |    SELECT (x // 100) * 100 + 100 AS p,
      |      100 - ((x // 100) * 100 + 100 - x) AS w
      |    FROM docs) t
      |  WHERE w > 0 AND p >= 0 AND p <= 1000
      |  GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
      |grid(eval_point) AS (
      |  SELECT CAST(0 AS BIGINT) UNION ALL
      |  SELECT eval_point + 100 FROM grid WHERE eval_point < 1000)
      |SELECT g.eval_point, CAST(COALESCE(c.sw, 0) AS BIGINT) AS weight_sum,
      |  n.n,
      |  CAST((COALESCE(c.sw, 0) * 1000000) // (n.n * 10000) AS BIGINT)
      |    AS density_micro
      |FROM grid g LEFT JOIN contrib c ON c.p = g.eval_point
      |CROSS JOIN n
      |ORDER BY eval_point""".stripMargin

  // ------------------------------------------------------------------
  // q524 — Cohen's d / Hedges' g effect sizes for segment pairs
  // ------------------------------------------------------------------

  /** q524 — standardized effect sizes for every segment pair: Cohen's
    * d (pooled-SD standardized mean difference) and the Hedges'
    * small-sample correction g = J·d, J = (4N−12)/(4N−9) — the
    * MAGNITUDE readout beside q515's HSD verdicts and q522's Welch
    * test (a rejection says "different"; d says "by how much, in SD
    * units"). Reported squared on the micro grid (the q460
    * convention — no sqrt crosses engines) with the sign separate;
    * the Cohen band ladder compares d² against 0.2²/0.5²/0.8².
    * Exactness: pooled variance by stated truncations
    * ss_g = (nQ−S²) div n, sp² = (ss₁+ss₂) div (n₁+n₂−2); d² = diff²
    * div (sp²·10⁶); g² = d²·(4N−12)² div (4N−9)². Scale: the q515
    * shape — 5 group rows, 10 broadcast pairs. */
  def q524(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), cents($"o_totalprice").as("x"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("q"))
      .withColumn("ss", expr(
        "(n * q - cast(sx as decimal(38,0)) * sx) div n"))
      .withColumn("m_micro", expr(
        "cast((cast(sx as decimal(38,0)) * 1000000) div n as bigint)"))
      .transform(Fx.materialize)
    val a = g.select($"seg".as("seg_a"), $"n".as("na"),
      $"sx".as("sxa"), $"ss".as("ssa"), $"m_micro".as("ma"))
    val b = g.select($"seg".as("seg_b"), $"n".as("nb"),
      $"sx".as("sxb"), $"ss".as("ssb"), $"m_micro".as("mb"))
    a.join(broadcast(b), $"seg_a" < $"seg_b")
      .withColumn("sp2", expr("cast((ssa + ssb) div (na + nb - 2) as bigint)"))
      .withColumn("dm", $"ma" - $"mb")
      .withColumn("d2_micro", when($"sp2" <= 0L, lit(null).cast("long"))
        .otherwise(expr(
          "cast((cast(dm as decimal(38,0)) * dm) div (cast(sp2 as decimal(38,0)) * 1000000) as bigint)")))
      .withColumn("g2_micro", when($"d2_micro".isNull, lit(null).cast("long"))
        .otherwise(expr(
          """cast((cast(d2_micro as decimal(38,0))
             * (4 * (na + nb) - 12) * (4 * (na + nb) - 12))
             div (cast(4 * (na + nb) - 9 as decimal(38,0))
               * (4 * (na + nb) - 9)) as bigint)""")))
      .select($"seg_a", $"seg_b", $"na", $"nb",
        when($"dm" > 0, 1).when($"dm" < 0, -1).otherwise(0).as("d_sign"),
        $"d2_micro", $"g2_micro",
        when($"d2_micro".isNull, lit(null).cast("string"))
          .when($"d2_micro" < 40000L, "negligible")
          .when($"d2_micro" < 250000L, "small")
          .when($"d2_micro" < 640000L, "medium")
          .otherwise("large").as("band"))
      .orderBy($"seg_a", $"seg_b")
  }

  val q524Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, sum(CAST(x AS HUGEINT) * x) AS q
      |  FROM (
      |    SELECT c_mktsegment,
      |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      |    FROM orders JOIN customer ON o_custkey = c_custkey) t
      |  GROUP BY 1),
      |gg AS (
      |  SELECT seg, n,
      |    (n * q - CAST(sx AS HUGEINT) * sx) // n AS ss,
      |    CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT) AS m_micro
      |  FROM g),
      |p AS (
      |  SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS na, b.n AS nb,
      |    CAST((a.ss + b.ss) // (a.n + b.n - 2) AS BIGINT) AS sp2,
      |    a.m_micro - b.m_micro AS dm, a.n + b.n AS nn
      |  FROM gg a JOIN gg b ON a.seg < b.seg),
      |e AS (
      |  SELECT seg_a, seg_b, na, nb, dm, nn,
      |    CASE WHEN sp2 <= 0 THEN NULL
      |      ELSE CAST((CAST(dm AS HUGEINT) * dm)
      |        // (CAST(sp2 AS HUGEINT) * 1000000) AS BIGINT)
      |      END AS d2_micro
      |  FROM p)
      |SELECT seg_a, seg_b, na, nb,
      |  CASE WHEN dm > 0 THEN 1 WHEN dm < 0 THEN -1 ELSE 0 END AS d_sign,
      |  d2_micro,
      |  CASE WHEN d2_micro IS NULL THEN NULL
      |    ELSE CAST((CAST(d2_micro AS HUGEINT)
      |      * (4 * nn - 12) * (4 * nn - 12))
      |      // (CAST(4 * nn - 9 AS HUGEINT) * (4 * nn - 9)) AS BIGINT)
      |    END AS g2_micro,
      |  CASE WHEN d2_micro IS NULL THEN NULL
      |    WHEN d2_micro < 40000 THEN 'negligible'
      |    WHEN d2_micro < 250000 THEN 'small'
      |    WHEN d2_micro < 640000 THEN 'medium'
      |    ELSE 'large' END AS band
      |FROM e ORDER BY seg_a, seg_b""".stripMargin

  // ------------------------------------------------------------------
  // q525 — rank-biased overlap of exact vs IVF retrieval
  // ------------------------------------------------------------------

  /** Per-item RBO@10 weight ladder (p = 0.9): an item whose LATER
    * appearance across the two rankings is at depth m contributes to
    * every prefix overlap o_d with d ≥ m, so its weight is
    * W(m) = Σ_{d=m}^{10} 9^{d−1}·10^{10−d}·(2520/d) over the common
    * denominator D = 10¹⁰·2520 — exact integers (2520 = lcm(1..10)).
    * The normalizer Σ_d term_d·d = 16413303309480 makes identical
    * rankings score exactly 10⁶. */
  private val rboCase: String =
    """(case greatest(e_rn, a_rn)
      | when 1 then 5932493265528 when 2 then 3412493265528
      | when 3 then 2278493265528 when 4 then 1598093265528
      | when 5 then 1138823265528 when 6 then 808148865528
      | when 7 then 560143065528 when 8 then 368824305528
      | when 9 then 218160782028 else 97629963228 end)""".stripMargin
      .replace("\n", " ")

  /** q525 — rank-biased overlap (Webber et al. 2010, p = 0.9,
    * truncated at depth 10, normalized so identical rankings = 10⁶)
    * between the exact cosine top-10 and the IVF top-10 per query:
    * the TOP-WEIGHTED agreement metric beside recall@10 (q190), MRR
    * (q224) and NDCG (q506) — two rankings with the same members but
    * shuffled heads score differently here and identically there.
    * Exactness: p^d geometric weights are rationals, so each matched
    * item's contribution is the exact integer ladder [[rboCase]] at
    * m = max of its two ranks; the score is one truncating micro
    * division by the exact normalizer. Scale: q190's shape —
    * broadcast 5-query side, bounded-heap top-k, per-query groups. */
  def q525(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = Tables.embeddings(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val e = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id", $"vec_id", $"rn".as("e_rn"))
    val approx = Similarity.ivfTopK(qd, e, k = 10, bits = 4)
      .select($"q_id".as("aq_id"), $"vec_id".as("a_vec"), $"rn".as("a_rn"))
    exact.join(broadcast(approx),
        $"q_id" === $"aq_id" && $"vec_id" === $"a_vec", "left")
      .groupBy($"q_id")
      .agg(count($"a_rn").as("n_overlap"),
        sum(when($"a_rn".isNotNull, expr(rboCase)).otherwise(lit(0L)))
          .as("wsum"))
      .select($"q_id", $"n_overlap",
        expr("cast((cast(wsum as decimal(38,0)) * 1000000) div 16413303309480 as bigint)")
          .as("rbo_micro"))
      .orderBy($"q_id")
  }

  val q525Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", 4)
    val cos =
      "list_dot_product(q_vec, t_vec) / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(t_vec, t_vec)))"
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS bucket
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS bucket FROM embeddings),
       |e10 AS (
       |  SELECT q_id, vec_id, rn AS e_rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cos AS sim
       |          FROM t, q WHERE vec_id <> q_id) s) r WHERE rn <= 10),
       |a10 AS (
       |  SELECT q_id, vec_id, rn AS a_rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cos AS sim
       |          FROM t, q WHERE vec_id <> q_id AND t.bucket = q.bucket) s) r
       |  WHERE rn <= 10),
       |j AS (
       |  SELECT e10.q_id, e10.e_rn, a10.a_rn
       |  FROM e10 LEFT JOIN a10
       |    ON e10.q_id = a10.q_id AND e10.vec_id = a10.vec_id)
       |SELECT q_id, CAST(count(a_rn) AS BIGINT) AS n_overlap,
       |  CAST((CAST(sum(CASE WHEN a_rn IS NULL THEN 0
       |    ELSE CASE greatest(e_rn, a_rn)
       |    WHEN 1 THEN 5932493265528 WHEN 2 THEN 3412493265528
       |    WHEN 3 THEN 2278493265528 WHEN 4 THEN 1598093265528
       |    WHEN 5 THEN 1138823265528 WHEN 6 THEN 808148865528
       |    WHEN 7 THEN 560143065528 WHEN 8 THEN 368824305528
       |    WHEN 9 THEN 218160782028 ELSE 97629963228 END END) AS HUGEINT)
       |    * 1000000) // 16413303309480 AS BIGINT) AS rbo_micro
       |FROM j GROUP BY q_id
       |ORDER BY q_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q526 — Dunn's post-hoc pairwise rank test (Bonferroni)
  // ------------------------------------------------------------------

  /** q526 — Dunn's post-hoc test: pairwise mean-RANK comparisons of
    * order value across the five segments with the tie-corrected
    * Kruskal–Wallis variance and a Bonferroni familywise level — the
    * nonparametric twin of q515's HSD (which compares MEANS and
    * assumes equal variances): after the q334 omnibus rejects, Dunn
    * names the pairs. Reject (i,j) iff |R̄ᵢ−R̄ⱼ| > z·√(V(1/nᵢ+1/nⱼ)),
    * V = [N(N+1)(N−1) − Σ(t³−t)]/(12(N−1)), z = z(0.05/(2·10)) =
    * 2.807034 pinned (z² = 7.879440).
    *
    * Exactness: doubled average ranks off the global VALUE grid
    * (r₂(v) = 2·prefix + cnt + 1, exact integers); per-group mean
    * doubled ranks are stated truncations S₂ div n; the verdict is
    * the all-integer cross-multiplication d₂²·3(N−1)·nᵢnⱼ·10⁶ >
    * 4·z²micro·[N(N+1)(N−1) − Σ(t³−t)]·(nᵢ+nⱼ) (the 4 undoes the
    * doubling) on DECIMAL(38,0). Scale: the q310/q456 shape — the
    * global rank prefix rides [[Ranking.groupRunningSum]] over the
    * value GRID (bounded by the cent domain, never a row window);
    * one extra (value, segment) aggregate joins the grid back. */
  def q526(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vals = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), cents($"o_totalprice").as("v"))
    val grid = vals.groupBy($"v").agg(count(lit(1)).as("cnt"))
      .transform(Fx.materialize)
    val r2 = Ranking.groupRunningSum(grid, Seq(), 32, "cnt", $"v")
      .withColumn("r2", $"run_before" * 2L + $"cnt" + 1L)
      .select($"v".as("rv"), $"r2")
    val segv = vals.groupBy($"seg", $"v").agg(count(lit(1)).as("c"))
    val g = segv.join(r2, $"v" === $"rv")
      .groupBy($"seg")
      .agg(sum($"c").as("n"),
        sum(expr("cast(c as decimal(38,0)) * r2")).as("s2"))
      .withColumn("mr2", expr("cast(s2 div n as bigint)"))
      .transform(Fx.materialize)
    val tot = grid.agg(sum($"cnt").as("nn"),
        sum(expr("cast(cnt as decimal(38,0)) * cnt * cnt - cnt")).as("tsum"))
      .select($"nn", expr(
        """cast(nn as decimal(38,0)) * (nn + 1) * (nn - 1) - tsum""")
        .as("v12"))
    val a = g.select($"seg".as("seg_a"), $"n".as("na"), $"mr2".as("mr2_a"))
    val b = g.select($"seg".as("seg_b"), $"n".as("nb"), $"mr2".as("mr2_b"))
    a.join(broadcast(b), $"seg_a" < $"seg_b").crossJoin(broadcast(tot))
      .withColumn("d2", $"mr2_a" - $"mr2_b")
      .select($"seg_a", $"seg_b", $"na", $"nb", $"mr2_a", $"mr2_b",
        (expr("cast(d2 as decimal(38,0)) * d2 * 3 * (nn - 1) * na * nb * 1000000")
          > expr("4 * 7879440 * v12 * (na + nb)"))
          .cast("int").as("reject_bonf_5pct"))
      .orderBy($"seg_a", $"seg_b")
  }

  val q526Sql: String =
    """WITH vals AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |grid AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM vals GROUP BY 1),
      |r2t AS (
      |  SELECT v,
      |    2 * (sum(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) + cnt + 1
      |      AS r2,
      |    cnt + 1 AS r2_first
      |  FROM grid),
      |r2x AS (SELECT v, COALESCE(r2, r2_first) AS r2 FROM r2t),
      |segv AS (
      |  SELECT seg, v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY 1, 2),
      |g AS (
      |  SELECT seg, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(CAST(c AS HUGEINT) * r2.r2) // sum(c) AS BIGINT) AS mr2
      |  FROM segv JOIN r2x r2 ON segv.v = r2.v
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS nn,
      |    CAST(sum(cnt) AS HUGEINT) * (sum(cnt) + 1) * (sum(cnt) - 1)
      |      - sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS v12
      |  FROM grid)
      |SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS na, b.n AS nb,
      |  a.mr2 AS mr2_a, b.mr2 AS mr2_b,
      |  CAST(CAST(a.mr2 - b.mr2 AS HUGEINT) * (a.mr2 - b.mr2)
      |      * 3 * (nn - 1) * a.n * b.n * 1000000
      |    > 4 * 7879440 * v12 * (a.n + b.n) AS INT) AS reject_bonf_5pct
      |FROM g a JOIN g b ON a.seg < b.seg CROSS JOIN tot
      |ORDER BY seg_a, seg_b""".stripMargin

  // ------------------------------------------------------------------
  // q527 — deterministic stratified train/val/test split plan
  // ------------------------------------------------------------------

  /** q527 — the deterministic train/val/test SPLITTER (80/10/10 by
    * design, realized as the exact integer bands 204/26/26 over the
    * 256-value first-byte grid of md5(doc_id·'#split')) plus the
    * per-language balance audit: per (lang, split) counts and a
    * per-language χ²(2) of observed vs design proportions — the
    * assignment artifact q487's split-LEAKAGE audit presumes exists,
    * with the q-SRM-style ratio check built in (a skewed language
    * would silently bias val/test metrics). Cluster-stable: the
    * split of a document never depends on partitioning, row order,
    * or corpus size. Exactness: the hash band is an integer compare;
    * each χ² term is the stated truncation
    * ((O·256 − n·w)²·10⁶) div (n·w·256), w ∈ {204, 26, 26}; verdict
    * vs pinned χ²(2). Scale: one scan, one (lang × 3) groupBy. */
  def q527(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5_fast(concat($"doc_id".cast("string"),
      lit("#split"))), 1, 2), 16, 10).cast("long")
    val base = Tables.documents(s, d)
      .select($"lang",
        when(u < 204L, "train").when(u < 230L, "val").otherwise("test")
          .as("split"))
      .groupBy($"lang", $"split").agg(count(lit(1)).as("n_docs"))
    val audit = base.groupBy($"lang").agg(
        sum($"n_docs").as("nl"),
        sum(when($"split" === "train", $"n_docs").otherwise(0L)).as("ot"),
        sum(when($"split" === "val", $"n_docs").otherwise(0L)).as("ov"),
        sum(when($"split" === "test", $"n_docs").otherwise(0L)).as("oe"))
      .select($"lang".as("alang"), $"nl", (
        expr("((ot * 256 - nl * 204) * (cast(ot as decimal(38,0)) * 256 - nl * 204) * 1000000) div (cast(nl as decimal(38,0)) * 204 * 256)") +
        expr("((ov * 256 - nl * 26) * (cast(ov as decimal(38,0)) * 256 - nl * 26) * 1000000) div (cast(nl as decimal(38,0)) * 26 * 256)") +
        expr("((oe * 256 - nl * 26) * (cast(oe as decimal(38,0)) * 256 - nl * 26) * 1000000) div (cast(nl as decimal(38,0)) * 26 * 256)"))
        .cast("long").as("chi2_micro"))
      .withColumn("srm_flag", ($"chi2_micro" > 5991465L).cast("int"))
    base.join(broadcast(audit), $"lang" === $"alang")
      .select($"lang", $"split", $"n_docs", $"nl".as("n_lang"),
        $"chi2_micro", $"srm_flag")
      .orderBy($"lang", $"split")
  }

  val q527Sql: String =
    """WITH f AS (
      |  SELECT lang,
      |    CASE WHEN u < 204 THEN 'train' WHEN u < 230 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM (
      |    SELECT lang, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |      || '#split'), 1, 2))::BIGINT AS u
      |    FROM documents) t),
      |base AS (
      |  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM f GROUP BY 1, 2),
      |audit AS (
      |  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS nl,
      |    CAST(
      |      ((sum(CASE WHEN split = 'train' THEN n_docs ELSE 0 END) * 256
      |        - sum(n_docs) * 204)
      |       * (CAST(sum(CASE WHEN split = 'train' THEN n_docs ELSE 0 END)
      |           AS HUGEINT) * 256 - sum(n_docs) * 204) * 1000000)
      |      // (CAST(sum(n_docs) AS HUGEINT) * 204 * 256)
      |    + ((sum(CASE WHEN split = 'val' THEN n_docs ELSE 0 END) * 256
      |        - sum(n_docs) * 26)
      |       * (CAST(sum(CASE WHEN split = 'val' THEN n_docs ELSE 0 END)
      |           AS HUGEINT) * 256 - sum(n_docs) * 26) * 1000000)
      |      // (CAST(sum(n_docs) AS HUGEINT) * 26 * 256)
      |    + ((sum(CASE WHEN split = 'test' THEN n_docs ELSE 0 END) * 256
      |        - sum(n_docs) * 26)
      |       * (CAST(sum(CASE WHEN split = 'test' THEN n_docs ELSE 0 END)
      |           AS HUGEINT) * 256 - sum(n_docs) * 26) * 1000000)
      |      // (CAST(sum(n_docs) AS HUGEINT) * 26 * 256)
      |    AS BIGINT) AS chi2_micro
      |  FROM base GROUP BY 1)
      |SELECT b.lang AS lang, b.split, b.n_docs, a.nl AS n_lang,
      |  a.chi2_micro,
      |  CAST(a.chi2_micro > 5991465 AS INT) AS srm_flag
      |FROM base b JOIN audit a ON b.lang = a.lang
      |ORDER BY b.lang, b.split""".stripMargin

  // ------------------------------------------------------------------
  // q528 — Fisher's exact test on the brand-family × growth square
  // ------------------------------------------------------------------

  /** q528 — Fisher's EXACT test of independence between brand family
    * (Brand#1x, K = 5 of the 25-brand domain) and half-to-half
    * revenue growth (q516's deltas): the hypergeometric two-sided
    * p-value (sum of all table probabilities ≤ the observed one —
    * the standard convention), exact for the small-margin 2×2 where
    * the χ² batteries (q258 et al.) are approximations. Weights
    * w_k = C(K,k)·C(N−K,n−k) fold on the DRIVER in BigInt over the
    * ≤6-value support (the bounded-grid exception — the brand domain
    * is 25 forever); the oracle rebuilds them from a HUGEINT
    * factorial CTE (25! ≈ 1.55e25 fits exactly). p_micro is one
    * truncating division by C(N,n); the verdict 20·num ≤ C(N,n) is
    * an exact integer compare. */
  def q528(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deltas = brandDeltas(s, d).transform(Fx.materialize)
    val row = deltas.agg(
        count(lit(1)).as("nn"),
        sum($"brand".startsWith("Brand#1").cast("long")).as("kf"),
        sum(($"d" > 0L).cast("long")).as("ng"),
        sum(($"brand".startsWith("Brand#1") && $"d" > 0L).cast("long"))
          .as("kg"))
      .head()
    val nTot = row.getLong(0); val kFam = row.getLong(1)
    val nGrew = row.getLong(2); val kObs = row.getLong(3)
    def c(a: Long, b: Long): BigInt =
      if (b < 0 || b > a) BigInt(0)
      else (0L until b).foldLeft(BigInt(1))((acc, i) => acc * (a - i) / (i + 1))
    val ks = math.max(0L, nGrew - (nTot - kFam)) to math.min(nGrew, kFam)
    val ws = ks.map(k => k -> c(kFam, k) * c(nTot - kFam, nGrew - k)).toMap
    val wObs = ws(kObs)
    val num = ws.values.filter(_ <= wObs).sum
    val den = c(nTot, nGrew)
    val pMicro = (num * 1000000 / den).toLong
    val reject = if (num * 20 <= den) 1 else 0
    deltas.sparkSession.range(1)
      .select(lit(nTot).as("n_brands"), lit(kFam).as("k_family"),
        lit(nGrew).as("n_grew"), lit(kObs).as("k_family_grew"),
        lit(pMicro).as("p_micro"), lit(reject).as("reject_5pct"))
      .orderBy($"n_brands")
  }

  val q528Sql: String =
    s"""WITH RECURSIVE b AS ($brandDeltasSql),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nn,
      |    CAST(sum(CASE WHEN brand LIKE 'Brand#1%' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS kf,
      |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ng,
      |    CAST(sum(CASE WHEN brand LIKE 'Brand#1%' AND d > 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS kg
      |  FROM b),
      |fact(i, v) AS (
      |  SELECT 0, CAST(1 AS HUGEINT)
      |  UNION ALL
      |  SELECT i + 1, v * (i + 1) FROM fact
      |  WHERE i + 1 <= (SELECT nn FROM m)),
      |kk(k) AS (
      |  SELECT greatest(0, (SELECT ng - (nn - kf) FROM m))
      |  UNION ALL
      |  SELECT k + 1 FROM kk WHERE k + 1 <= (SELECT least(ng, kf) FROM m)),
      |w AS (
      |  SELECT k,
      |    ((SELECT v FROM fact WHERE i = (SELECT kf FROM m))
      |      // (SELECT v FROM fact WHERE i = k)
      |      // (SELECT v FROM fact WHERE i = (SELECT kf FROM m) - k))
      |    * ((SELECT v FROM fact WHERE i = (SELECT nn - kf FROM m))
      |      // (SELECT v FROM fact WHERE i = (SELECT ng FROM m) - k)
      |      // (SELECT v FROM fact WHERE i = (SELECT nn - kf - ng FROM m) + k))
      |    AS wk
      |  FROM kk),
      |obs AS (SELECT wk AS wobs FROM w WHERE k = (SELECT kg FROM m)),
      |den AS (
      |  SELECT (SELECT v FROM fact WHERE i = (SELECT nn FROM m))
      |    // (SELECT v FROM fact WHERE i = (SELECT ng FROM m))
      |    // (SELECT v FROM fact WHERE i = (SELECT nn - ng FROM m)) AS dv),
      |num AS (
      |  SELECT sum(wk) AS nv FROM w CROSS JOIN obs WHERE wk <= wobs)
      |SELECT m.nn AS n_brands, m.kf AS k_family, m.ng AS n_grew,
      |  m.kg AS k_family_grew,
      |  CAST((num.nv * 1000000) // den.dv AS BIGINT) AS p_micro,
      |  CAST(num.nv * 20 <= den.dv AS INT) AS reject_5pct
      |FROM m CROSS JOIN num CROSS JOIN den
      |ORDER BY n_brands""".stripMargin

  // ------------------------------------------------------------------
  // q529 — ratio estimator of total tokens from an md5 sample
  // ------------------------------------------------------------------

  /** q529 — survey ratio estimation of the corpus token total from a
    * deterministic 25% md5 sample, using n_chars (known for every
    * doc) as the auxiliary: Ŷ_ratio = X_tot·(Σy_s/Σx_s) vs the plain
    * expansion Ŷ_exp = N·(Σy_s/n_s) — the classical variance-
    * reduction move (tokens ∝ chars, so the ratio estimator rides
    * the correlation) that q267's Neyman ALLOCATION and q527's
    * SPLITTER both stop short of: this is the ESTIMATION step, with
    * the truth column attached since the full scan is available.
    * Exactness: all sums exact BIGINT; each estimator and error is
    * one truncating division on DECIMAL(38,0); membership is the
    * q98-style md5 band (first hex digit < '4' — exactly 1/4).
    * Scale: one scan, two global aggregates. */
  def q529(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .filter($"text".isNotNull && $"n_chars".isNotNull)
      .select(
        graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("y"),
        $"n_chars".cast("long").as("x"),
        (substring(md5_fast(concat($"doc_id".cast("string"), lit("#rs"))), 1, 1)
          < "4").cast("long").as("in_s"))
    base.agg(count(lit(1)).as("n"), sum($"x").as("xt"), sum($"y").as("yt"),
        sum($"in_s").as("ns"),
        sum($"in_s" * $"x").as("xs"), sum($"in_s" * $"y").as("ys"))
      .select($"n".as("n_total"), $"ns".as("n_sample"),
        $"xt".as("x_total"), $"yt".as("y_total"),
        expr("cast((cast(ys as decimal(38,0)) * xt) div xs as bigint)")
          .as("y_hat_ratio"),
        expr("cast((cast(ys as decimal(38,0)) * n) div ns as bigint)")
          .as("y_hat_expansion"))
      .withColumn("err_ratio_micro",
        expr("((y_hat_ratio - y_total) * 1000000) div y_total"))
      .withColumn("err_expansion_micro",
        expr("((y_hat_expansion - y_total) * 1000000) div y_total"))
      .orderBy($"n_total")
  }

  val q529Sql: String = {
    val tok = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
    s"""WITH base AS (
      |  SELECT $tok AS y, CAST(n_chars AS BIGINT) AS x,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#rs'), 1, 1) < '4'
      |      THEN 1 ELSE 0 END AS in_s
      |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS xt,
      |    CAST(sum(y) AS BIGINT) AS yt, CAST(sum(in_s) AS BIGINT) AS ns,
      |    CAST(sum(in_s * x) AS BIGINT) AS xs,
      |    CAST(sum(in_s * y) AS BIGINT) AS ys
      |  FROM base),
      |e AS (
      |  SELECT n AS n_total, ns AS n_sample, xt AS x_total, yt AS y_total,
      |    CAST((CAST(ys AS HUGEINT) * xt) // xs AS BIGINT) AS y_hat_ratio,
      |    CAST((CAST(ys AS HUGEINT) * n) // ns AS BIGINT) AS y_hat_expansion
      |  FROM m)
      |SELECT n_total, n_sample, x_total, y_total, y_hat_ratio,
      |  y_hat_expansion,
      |  CAST(((y_hat_ratio - y_total) * 1000000) // y_total AS BIGINT)
      |    AS err_ratio_micro,
      |  CAST(((y_hat_expansion - y_total) * 1000000) // y_total AS BIGINT)
      |    AS err_expansion_micro
      |FROM e ORDER BY n_total""".stripMargin
  }

  // ------------------------------------------------------------------
  // q530 — Murphy decomposition of the quality-score Brier loss
  // ------------------------------------------------------------------

  /** q530 — Murphy (1973) decomposition of the Brier score of the
    * quality micro-score as a lang='en' predictor, over q318's decile
    * bins: Brier ≈ REL − RES + UNC, where reliability prices the
    * calibration gap q457 repairs, resolution prices how much the
    * bins separate outcomes, and uncertainty is the outcome's own
    * variance — the SCALAR verdict q318's per-bin table rolls up to
    * (and the check that the decomposition identity holds within
    * truncation noise, emitted as `gap`). Units: per-doc micro²
    * (the q318 brier_micro convention is micro = micro²/10⁶; here
    * all four terms stay on the micro² grid so the identity is
    * visible). Stated truncations: per-bin (Σqm − Σy·10⁶)² div n_b
    * and ((Σy_b·N − Y·n_b)·10⁶)² div n_b, each summed exactly then
    * one division by N (and N² for RES); UNC = Y(N−Y)·10¹² div N².
    * Scale: one scan, the bounded 11-bin groupBy, one final row. */
  def q530(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bins = Tables.documents(s, d)
      .select(graft.functions.TextAnalysis.qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("y"))
      .groupBy(expr("qm div 100000").as("bin"))
      .agg(count(lit(1)).as("nb"), sum($"qm").as("sq"), sum($"y").as("sy"),
        sum(expr(
          "cast(qm - y * 1000000 as decimal(38,0)) * (qm - y * 1000000)"))
          .as("sb"))
      .transform(Fx.materialize)
    val tot = bins.agg(sum($"nb").as("n"), sum($"sy").as("yy"))
    bins.crossJoin(broadcast(tot))
      .withColumn("relterm", expr(
        """cast((cast(sq as decimal(38,0)) - cast(sy as decimal(38,0)) * 1000000)
           * (cast(sq as decimal(38,0)) - cast(sy as decimal(38,0)) * 1000000)
           div nb as decimal(38,0))"""))
      .withColumn("resz", expr(
        """cast((cast(sy as decimal(38,0)) * n - cast(yy as decimal(38,0)) * nb)
           * 1000000 div n as decimal(38,0))"""))
      .withColumn("resterm", expr("cast(resz * resz div nb as decimal(38,0))"))
      .agg(min($"n").as("n"), min($"yy").as("yy"),
        sum($"relterm").as("relsum"),
        sum($"resterm").as("ressum"),
        sum($"sb").as("sbsum"))
      .select($"n",
        expr("cast(relsum div n as bigint)").as("rel_micro2"),
        expr("cast(ressum div n as bigint)").as("res_micro2"),
        expr("cast((cast(yy as decimal(38,0)) * (n - yy) * 1000000000000) div (cast(n as decimal(38,0)) * n) as bigint)")
          .as("unc_micro2"),
        expr("cast(sbsum div n as bigint)").as("brier_micro2"))
      .withColumn("gap_micro2",
        $"brier_micro2" - ($"rel_micro2" - $"res_micro2" + $"unc_micro2"))
      .orderBy($"n")
  }

  val q530Sql: String = {
    val micro = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
      |  SELECT CAST(($micro) AS BIGINT) AS qm,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT qm // 100000 AS bin, CAST(count(*) AS BIGINT) AS nb,
      |    CAST(sum(qm) AS BIGINT) AS sq, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(qm - y * 1000000 AS HUGEINT) * (qm - y * 1000000)) AS sb
      |  FROM f GROUP BY 1),
      |t AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
      |  CAST(sum(sy) AS BIGINT) AS yy FROM b),
      |agg AS (
      |  SELECT t.n, t.yy,
      |    sum((CAST(sq AS HUGEINT) - CAST(sy AS HUGEINT) * 1000000)
      |      * (CAST(sq AS HUGEINT) - CAST(sy AS HUGEINT) * 1000000)
      |      // nb) AS relsum,
      |    sum(((CAST(sy AS HUGEINT) * t.n - CAST(t.yy AS HUGEINT) * nb)
      |      * 1000000 // t.n)
      |      * ((CAST(sy AS HUGEINT) * t.n - CAST(t.yy AS HUGEINT) * nb)
      |      * 1000000 // t.n) // nb) AS ressum,
      |    sum(sb) AS sbsum
      |  FROM b CROSS JOIN t GROUP BY 1, 2)
      |SELECT n,
      |  CAST(relsum // n AS BIGINT) AS rel_micro2,
      |  CAST(ressum // n AS BIGINT) AS res_micro2,
      |  CAST((CAST(yy AS HUGEINT) * (n - yy) * 1000000000000)
      |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_micro2,
      |  CAST(sbsum // n AS BIGINT) AS brier_micro2,
      |  CAST(sbsum // n AS BIGINT)
      |    - (CAST(relsum // n AS BIGINT) - CAST(ressum // n AS BIGINT)
      |      + CAST((CAST(yy AS HUGEINT) * (n - yy) * 1000000000000)
      |        // (CAST(n AS HUGEINT) * n) AS BIGINT)) AS gap_micro2
      |FROM agg ORDER BY n""".stripMargin
  }

  // ------------------------------------------------------------------
  // q531 — Bland–Altman agreement of header vs detail order totals
  // ------------------------------------------------------------------

  /** Per-order difference between the HEADER total (o_totalprice) and
    * the DETAIL reconstruction Σ extprice·(1−disc)·(1+tax), both on
    * the exact 10⁻⁶-dollar grid (cents × the two percent factors).
    * Shared by q531 and q532. */
  private def orderRecon(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val line = Tables.lineitem(s, d)
      .select($"l_orderkey".as("k"),
        (cents($"l_extendedprice") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")) *
          (lit(100L) + floor($"l_tax" * 100 + 0.5).cast("long"))).as("rv"))
      .groupBy($"k").agg(sum($"rv").as("detail"))
    Tables.orders(s, d)
      .select($"o_orderkey".as("k"), (cents($"o_totalprice") * 10000L).as("header"))
      .join(line, "k")
  }

  private val orderReconSql: String =
    """SELECT o.o_orderkey AS k,
      |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 10000 AS header,
      |    l.detail
      |  FROM orders o JOIN (
      |    SELECT l_orderkey,
      |      CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
      |        * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
      |        * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))
      |        AS BIGINT) AS detail
      |    FROM lineitem GROUP BY 1) l ON o.o_orderkey = l.l_orderkey""".stripMargin

  /** q531 — Bland–Altman agreement analysis between an order's HEADER
    * total and its DETAIL line reconstruction: bias = mean difference,
    * 95% limits of agreement bias ± 1.96·sd, and the count of orders
    * outside the limits — the measurement-agreement lens (Bland &
    * Altman 1986) on the classic header-vs-detail reconciliation
    * audit (in this corpus the header is NOT the line sum, so the
    * bias and limits are the real shape of that disagreement, not
    * zeros). Exactness: differences are exact 10⁻⁶-dollar integers;
    * bias is one truncating division; sd is the fixed two-op
    * double pipeline √(num/den) over the EXACT decimal numerator
    * nΣd² − (Σd)² and denominator n(n−1) (identical operands →
    * identical IEEE doubles in both engines), floored back to the
    * integer grid before the ±1.96 (as ±196 div 100) limits. Scale: one lineitem groupBy join, one
    * global aggregate, one broadcast join back for the outside
    * count. */
  def q531(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val diffs = orderRecon(s, d)
      .select(($"header" - $"detail").as("dd"))
      .transform(Fx.materialize)
    val st = diffs.agg(count(lit(1)).as("n"), sum($"dd").as("sd"),
        sum(expr("cast(dd as decimal(38,0)) * dd")).as("sd2"))
      .withColumn("bias_musd",
        expr("cast(cast(sd as decimal(38,0)) div n as bigint)"))
      .withColumn("vnum", expr(
        """cast(cast(n as decimal(38,0)) * sd2
           - cast(sd as decimal(38,0)) * sd as decimal(38,0))"""))
      .withColumn("sd_musd",
        floor(sqrt($"vnum".cast("double") /
          (expr("cast(n as decimal(38,0)) * (n - 1)").cast("double"))))
          .cast("long"))
      .withColumn("lo_musd", $"bias_musd" - expr("(196 * sd_musd) div 100"))
      .withColumn("hi_musd", $"bias_musd" + expr("(196 * sd_musd) div 100"))
    diffs.crossJoin(broadcast(st))
      .agg(min($"n").as("n"), min($"bias_musd").as("bias_musd"),
        min($"sd_musd").as("sd_musd"),
        min($"lo_musd").as("lo_musd"), min($"hi_musd").as("hi_musd"),
        sum(($"dd" < $"lo_musd" || $"dd" > $"hi_musd").cast("long"))
          .as("n_outside"))
      .orderBy($"n")
  }

  val q531Sql: String =
    s"""WITH recon AS ($orderReconSql),
      |diffs AS (SELECT header - detail AS dd FROM recon),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dd) AS BIGINT) AS sd,
      |    sum(CAST(dd AS HUGEINT) * dd) AS sd2
      |  FROM diffs),
      |st AS (
      |  SELECT n,
      |    CAST(CAST(sd AS HUGEINT) // n AS BIGINT) AS bias_musd,
      |    CAST(n AS HUGEINT) * sd2 - CAST(sd AS HUGEINT) * sd AS vnum
      |  FROM m),
      |st2 AS (
      |  SELECT n, bias_musd,
      |    CAST(floor(sqrt(CAST(vnum AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))) AS BIGINT)
      |      AS sd_musd
      |  FROM st),
      |st3 AS (
      |  SELECT n, bias_musd, sd_musd,
      |    bias_musd - (196 * sd_musd) // 100 AS lo_musd,
      |    bias_musd + (196 * sd_musd) // 100 AS hi_musd
      |  FROM st2)
      |SELECT st3.n, st3.bias_musd, st3.sd_musd, st3.lo_musd, st3.hi_musd,
      |  CAST(sum(CASE WHEN dd < lo_musd OR dd > hi_musd THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outside
      |FROM diffs CROSS JOIN st3
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY n""".stripMargin

  // ------------------------------------------------------------------
  // q532 — Deming (errors-in-both) regression, header vs detail
  // ------------------------------------------------------------------

  /** q532 — Deming regression (δ = 1, errors in BOTH variables)
    * between the header order total (x) and the detail line
    * reconstruction (y), both in exact 10⁻⁶ dollars: OLS of y on x
    * attenuates the slope when x itself carries error; Deming's
    * slope = (S_yy − S_xx + √((S_yy−S_xx)² + 4S_xy²))/(2S_xy) treats
    * both columns as measurements — the method-comparison ESTIMATOR
    * beside q531's agreement view of the same reconciliation.
    * Exactness: the centered moments S_xx = nΣx²−(Σx)², S_xy, S_yy
    * are exact DECIMAL(38,0); slope and intercept are one fixed
    * double tree over those exact operands (q455's convention —
    * identical operands, identical IEEE ops, bit-identical result),
    * r6-rounded; S_xy = 0 → NULL (stated). The raw moments stay
    * internal (they scale as n²·var and would overflow any fixed
    * output grid across SFs). Scale: one lineitem groupBy join, one
    * row. */
  def q532(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = orderRecon(s, d)
      .select($"header".as("x"), $"detail".as("y"))
    base.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("qxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("qxy"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("qyy"))
      .select($"n",
        expr("n * qxx - cast(sx as decimal(38,0)) * sx").as("sxx"),
        expr("n * qxy - cast(sx as decimal(38,0)) * sy").as("sxy"),
        expr("n * qyy - cast(sy as decimal(38,0)) * sy").as("syy"),
        $"sx", $"sy")
      .select($"n",
        when($"sxy" === 0, lit(null).cast("double"))
          .otherwise(r6(
            (($"syy" - $"sxx").cast("double") +
              sqrt(($"syy" - $"sxx").cast("double") *
                ($"syy" - $"sxx").cast("double") +
                lit(4.0) * $"sxy".cast("double") * $"sxy".cast("double"))) /
              (lit(2.0) * $"sxy".cast("double")))).as("slope"),
        when($"sxy" === 0, lit(null).cast("double"))
          .otherwise(r6(
            ($"sy".cast("double") -
              (($"syy" - $"sxx").cast("double") +
                sqrt(($"syy" - $"sxx").cast("double") *
                  ($"syy" - $"sxx").cast("double") +
                  lit(4.0) * $"sxy".cast("double") * $"sxy".cast("double"))) /
                (lit(2.0) * $"sxy".cast("double")) * $"sx".cast("double")) /
              $"n".cast("double"))).as("intercept"))
      .orderBy($"n")
  }

  val q532Sql: String = {
    val slope =
      "(CAST(syy - sxx AS DOUBLE) + sqrt(CAST(syy - sxx AS DOUBLE) * CAST(syy - sxx AS DOUBLE) + 4.0 * CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE))) / (2.0 * CAST(sxy AS DOUBLE))"
    s"""WITH recon AS ($orderReconSql),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(header) AS BIGINT) AS sx,
      |    CAST(sum(detail) AS BIGINT) AS sy,
      |    sum(CAST(header AS HUGEINT) * header) AS qxx,
      |    sum(CAST(header AS HUGEINT) * detail) AS qxy,
      |    sum(CAST(detail AS HUGEINT) * detail) AS qyy
      |  FROM recon),
      |s AS (
      |  SELECT n, sx, sy,
      |    n * qxx - CAST(sx AS HUGEINT) * sx AS sxx,
      |    n * qxy - CAST(sx AS HUGEINT) * sy AS sxy,
      |    n * qyy - CAST(sy AS HUGEINT) * sy AS syy
      |  FROM m)
      |SELECT n,
      |  CASE WHEN sxy = 0 THEN NULL
      |    ELSE ${Fx.sqlR6(slope)} END AS slope,
      |  CASE WHEN sxy = 0 THEN NULL
      |    ELSE ${Fx.sqlR6(s"(CAST(sy AS DOUBLE) - ($slope) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)")}
      |    END AS intercept
      |FROM s ORDER BY n""".stripMargin
  }


  // ------------------------------------------------------------------
  // q533 — IVF probe-radius sweep (recall vs candidate cost)
  // ------------------------------------------------------------------

  /** q533 — the IVF nprobe tradeoff as a query: recall@10 AND
    * candidate count of the sign-bucket index probed at Hamming
    * radius 0 (own bucket — q190's operating point) vs radius 1 (own
    * + the 4 bit-flip neighbors), against the exact ranking. The
    * missing row in the ANN family (q190 recall, q224 MRR, q506
    * NDCG, q525 RBO all score ONE operating point; this prices the
    * knob): radius 1 multiplies candidates ~5× and buys back most of
    * the recall the coarse quantizer loses. Determinism: candidates
    * are an exact integer set (bucket XOR masks), cosines the q60
    * fold. Scale: probe fan-out is a 5-row broadcast on the QUERY
    * side — the target scan still reads each bucket partition once
    * per probing query, the IVF cost model this query reports. */
  def q533(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = Tables.embeddings(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val e = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id", $"vec_id", $"rn".as("e_rn"))
      .transform(Fx.materialize)
    val masks = Seq((0, 0), (1, 1), (2, 1), (4, 1), (8, 1))
      .toDF("mask", "rmin")
    val radii = Seq(0, 1).toDF("radius")
    val probes = qd
      .withColumn("qb", Similarity.signBucket($"q_vec", 4))
      .crossJoin(broadcast(radii)).crossJoin(broadcast(masks))
      .filter($"rmin" <= $"radius")
      .select($"q_id", $"q_vec", $"radius",
        expr("int(qb) ^ mask").as("pb"))
    val t = e.withColumn("tb", Similarity.signBucket($"embedding", 4))
    val cand = t.join(broadcast(probes),
      $"tb" === $"pb" && $"vec_id" =!= $"q_id")
    val nCand = cand.groupBy($"q_id".as("cq"), $"radius".as("cr"))
      .agg(count(lit(1)).as("n_candidates"))
    val sims = cand.withColumn("sim",
      Similarity.cosineNative(Similarity.toDoubleArr($"q_vec"),
        Similarity.toDoubleArr($"embedding")))
    val top = graft.plans.TopK.perGroup(sims, 10, Seq("q_id", "radius"),
        Seq(graft.plans.TopK.desc("sim"), graft.plans.TopK.asc("vec_id")))
      .select($"q_id".as("aq"), $"radius".as("ar"), $"vec_id".as("av"),
        lit(1L).as("hit"))
    exact.crossJoin(broadcast(Seq(0, 1).toDF("radius")))
      .join(broadcast(top),
        $"q_id" === $"aq" && $"radius" === $"ar" && $"vec_id" === $"av",
        "left")
      .groupBy($"q_id", $"radius")
      .agg(count($"hit").as("n_overlap"))
      .join(broadcast(nCand), $"q_id" === $"cq" && $"radius" === $"cr",
        "left")
      .select($"q_id", $"radius".cast("long").as("radius"),
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        $"n_overlap", r6($"n_overlap" / lit(10L)).as("recall_at_10"))
      .orderBy($"q_id", $"radius")
  }

  val q533Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", 4)
    val cos =
      "list_dot_product(q_vec, t_vec) / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(t_vec, t_vec)))"
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS qb
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS tb FROM embeddings),
       |e10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cos AS sim
       |          FROM t, q WHERE vec_id <> q_id) s) r WHERE rn <= 10),
       |masks(mask, rmin) AS (VALUES (0, 0), (1, 1), (2, 1), (4, 1), (8, 1)),
       |radii(radius) AS (VALUES (0), (1)),
       |probes AS (
       |  SELECT q.q_id, q.q_vec, r.radius, xor(q.qb, m.mask) AS pb
       |  FROM q CROSS JOIN radii r JOIN masks m ON m.rmin <= r.radius),
       |cand AS (
       |  SELECT p.q_id, p.radius, t.vec_id, $cos AS sim
       |  FROM t JOIN probes p ON t.tb = p.pb AND t.vec_id <> p.q_id),
       |nc AS (
       |  SELECT q_id, radius, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1, 2),
       |a10 AS (
       |  SELECT q_id, radius, vec_id FROM (
       |    SELECT q_id, radius, vec_id,
       |      row_number() OVER (PARTITION BY q_id, radius
       |        ORDER BY sim DESC, vec_id) AS rn
       |    FROM cand) r WHERE rn <= 10),
       |j AS (
       |  SELECT e10.q_id, rr.radius,
       |    CASE WHEN a10.vec_id IS NULL THEN NULL ELSE 1 END AS hit
       |  FROM e10 CROSS JOIN radii rr
       |  LEFT JOIN a10 ON a10.q_id = e10.q_id AND a10.radius = rr.radius
       |    AND a10.vec_id = e10.vec_id)
       |SELECT j.q_id, CAST(j.radius AS BIGINT) AS radius,
       |  CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(count(j.hit) AS BIGINT) AS n_overlap,
       |  ${Fx.sqlR6("count(j.hit) / 10")} AS recall_at_10
       |FROM j LEFT JOIN nc ON nc.q_id = j.q_id AND nc.radius = j.radius
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------------
  // q534 — systematic PPS source sample + Horvitz–Thompson estimate
  // ------------------------------------------------------------------

  /** q534 — systematic probability-proportional-to-size selection of
    * k = 5 sources (size = exact token count) with the deterministic
    * centered skip: selection positions posⱼ = (2j+1)·T div (2k) land
    * in the cumulative-size intervals, so a source's selection chance
    * is proportional to its tokens — the SELECTION step between
    * q267's allocation and q529's estimation. Each selected source
    * carries its Hansen–Hurwitz/HT selection weight T/(k·tokens) on the
    * micro grid and the estimate of TOTAL DOCS Σ n_docs·w is emitted
    * with the truth beside it (the full scan exists here; in
    * production only the 5 sources would be read — the whole point).
    * A source large enough to be selected MULTIPLE times keeps its
    * per-selection weight < 1 — the multiplicity-counted systematic
    * estimator needs no certainty clamp (clamping would overcount
    * every repeat selection). All exact integers: cumulative sizes
    * ride the bounded source grid; weights live on the micro grid
    * (an integer-unit weight would truncate 3.5 to 3 and bias the
    * estimate 25% low — measured before the grid was added), one
    * truncating division each. Scale: one scan → 20 source
    * rows → 5 selections. */
  def q534(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val src = Tables.documents(s, d)
      .filter($"text".isNotNull)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCount($"text").cast("long"))
          .as("toks"))
      .withColumn("cum_before",
        coalesce(sum($"toks").over(Window.orderBy($"source")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .transform(Fx.materialize)
    val tot = src.agg(sum($"toks").as("t"), count(lit(1)).as("n_src"))
    val pos = Seq.range(0, 5).toDF("j")
      .crossJoin(broadcast(tot))
      .select($"j".cast("long").as("j"),
        expr("((2 * j + 1) * t) div 10").as("pos"), $"t")
    pos.join(broadcast(src),
        $"pos" >= $"cum_before" && $"pos" < $"cum_before" + $"toks")
      .select($"j", $"pos", $"source", $"n_docs", $"toks",
        expr("(t * 1000000) div (5 * toks)").as("ht_weight_micro"))
      .withColumn("ht_docs_term_micro",
        expr("cast(cast(n_docs as decimal(38,0)) * ht_weight_micro as decimal(38,0))")
          .cast("long"))
      .crossJoin(broadcast(
        Tables.documents(s, d).filter($"text".isNotNull)
          .agg(count(lit(1)).as("true_docs"))))
      .orderBy($"j")
  }

  val q534Sql: String = {
    val tok = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
    s"""WITH RECURSIVE src AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum($tok) AS BIGINT) AS toks
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
      |cum AS (
      |  SELECT source, n_docs, toks,
      |    CAST(COALESCE(sum(toks) OVER (ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_before
      |  FROM src),
      |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM src),
      |js(j) AS (SELECT CAST(0 AS BIGINT)
      |  UNION ALL SELECT j + 1 FROM js WHERE j + 1 <= 4),
      |pos AS (
      |  SELECT j, ((2 * j + 1) * t) // 10 AS pos, t
      |  FROM js CROSS JOIN tot),
      |sel AS (
      |  SELECT p.j, p.pos, c.source, c.n_docs, c.toks,
      |    (p.t * 1000000) // (5 * c.toks) AS ht_weight_micro
      |  FROM pos p JOIN cum c
      |    ON p.pos >= c.cum_before AND p.pos < c.cum_before + c.toks)
      |SELECT j, pos, source, n_docs, toks, ht_weight_micro,
      |  CAST(CAST(n_docs AS HUGEINT) * ht_weight_micro AS BIGINT)
      |    AS ht_docs_term_micro,
      |  (SELECT CAST(count(*) AS BIGINT) FROM documents
      |   WHERE text IS NOT NULL) AS true_docs
      |FROM sel ORDER BY j""".stripMargin
  }

  // ------------------------------------------------------------------
  // q539 — ANN index BUILD cost vs list count (sign-bucket sweep)
  // ------------------------------------------------------------------

  /** q539 — the index-BUILD side of the ANN knob table (r14 verdict
    * #6 candidate): for nBits ∈ {2, 4, 8} (nList = 4 / 16 / 256
    * sign-hash cells), the structural cost the bucketed index pays
    * before any query runs — occupied cells, the hottest cell, and
    * the expected own-bucket candidate count for a stored vector,
    * E[cand] = (Σ|cell|² − T) / T (size-biased: a random vector sits
    * in a cell with probability ∝ its size). q533 prices the PROBE
    * knob at fixed 4 bits; this prices the LIST-COUNT knob the
    * builder chooses first — more bits → fewer candidates per probe
    * but more empty cells and a worse recall floor. All exact
    * integers (Σc² ≤ T² rides BIGINT at any tested SF; one stated
    * truncating micro-division). Scale: three bounded group-bys over
    * one embeddings scan; output is ≤ 3 rows. */
  def q539(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    Seq(2, 4, 8).map { b =>
      e.select(Similarity.signBucket($"embedding", b).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("cell"))
        .agg(count(lit(1)).as("n_cells"), sum($"cell").as("total_vecs"),
          max($"cell").as("max_cell"),
          sum($"cell" * $"cell").as("ss"))
        .select(lit(b.toLong).as("n_bits"), $"n_cells", $"total_vecs",
          $"max_cell",
          expr("((ss - total_vecs) * 1000000) div total_vecs")
            .as("exp_cand_micro"))
    }.reduce(_ unionByName _).orderBy($"n_bits")
  }

  val q539Sql: String = {
    def arm(b: Int): String =
      s"""SELECT CAST($b AS BIGINT) AS n_bits,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(c) AS BIGINT) AS total_vecs,
         |  CAST(max(c) AS BIGINT) AS max_cell,
         |  CAST(((CAST(sum(c * c) AS HUGEINT) - sum(c)) * 1000000)
         |    // sum(c) AS BIGINT) AS exp_cand_micro
         |FROM (SELECT ${Similarity.sqlSignBucket("embedding", b)} AS bucket,
         |        CAST(count(*) AS BIGINT) AS c
         |      FROM embeddings GROUP BY 1) cells_$b""".stripMargin
    s"""${arm(2)}
       |UNION ALL
       |${arm(4)}
       |UNION ALL
       |${arm(8)}
       |ORDER BY n_bits""".stripMargin
  }

  // ------------------------------------------------------------------
  // q540 — total-variation token drift between corpus slices
  // ------------------------------------------------------------------

  /** q540 — distribution drift between the en and non-en token
    * distributions as EXACT total-variation distance: TV = ½·Σ_w
    * |p_en(w) − p_other(w)|, cleared to the common denominator so the
    * numerator Σ_w |c_en(w)·N_o − c_o(w)·N_e| is an exact integer and
    * the distance is ONE stated truncating micro-division — the
    * drift-monitoring statistic the engine was missing (q356 scores
    * per-DOC domain match; q103/q184 plan mixtures; nothing measured
    * how far two slices' token distributions sit apart). TV is the
    * divergence that needs no logarithm: KL/JS would put a runtime
    * `ln` of data-dependent ratios on the engine boundary, which the
    * determinism contract forbids (libm `ln` is not correctly-rounded
    * everywhere; `sqrt` is, but Hellinger's Σ√ is order-sensitive).
    * Emits the top-15 drift-contributing words (stated per-word
    * truncation; selection ordered by the truncated contribution with
    * the word tie-break — total) with the exact corpus-level
    * `tv_micro` repeated per row. Scale: one token explode →
    * vocab-bounded counts; two scalar broadcasts; top-15 global. */
  def q540(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"),
        ($"lang" === "en").cast("long").as("en"))
      .filter($"w" =!= "")
      .groupBy($"w")
      .agg(sum($"en").as("ce"), sum(lit(1L) - $"en").as("co"))
    val tot = f.agg(sum($"ce").as("ne"), sum($"co").as("no"))
    val j = f.crossJoin(broadcast(tot))
      .withColumn("num",
        abs(expr("cast(ce as decimal(38,0)) * no - cast(co as decimal(38,0)) * ne")))
      .transform(Fx.materialize)
    val tv = j.groupBy($"ne", $"no").agg(sum($"num").as("ns"))
      .select(expr("cast((ns * 1000000) div (2 * cast(ne as decimal(38,0)) * no) as bigint)")
        .as("tv_micro"))
    j.crossJoin(broadcast(tv))
      .select($"w".as("word"), $"ce".as("c_en"), $"co".as("c_other"),
        expr("cast((num * 1000000) div (2 * cast(ne as decimal(38,0)) * no) as bigint)")
          .as("contrib_micro"),
        $"tv_micro")
      .orderBy($"contrib_micro".desc, $"word").limit(15)
  }

  val q540Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
      |  FROM documents),
      |f AS (
      |  SELECT w, CAST(sum(en) AS BIGINT) AS ce,
      |    CAST(sum(1 - en) AS BIGINT) AS co
      |  FROM toks WHERE w <> '' GROUP BY 1),
      |tot AS (SELECT CAST(sum(ce) AS BIGINT) AS ne,
      |               CAST(sum(co) AS BIGINT) AS no FROM f),
      |j AS (
      |  SELECT w, ce, co,
      |    abs(CAST(ce AS HUGEINT) * no - CAST(co AS HUGEINT) * ne) AS num
      |  FROM f CROSS JOIN tot),
      |tv AS (
      |  SELECT CAST((CAST(s AS HUGEINT) * 1000000)
      |      // (2 * CAST(ne AS HUGEINT) * no) AS BIGINT) AS tv_micro
      |  FROM (SELECT sum(num) AS s FROM j) CROSS JOIN tot)
      |SELECT j.w AS word, j.ce AS c_en, j.co AS c_other,
      |  CAST((j.num * 1000000) // (2 * CAST(ne AS HUGEINT) * no) AS BIGINT)
      |    AS contrib_micro,
      |  tv.tv_micro
      |FROM j CROSS JOIN tot CROSS JOIN tv
      |ORDER BY contrib_micro DESC, word LIMIT 15""".stripMargin

  // ------------------------------------------------------------------
  // q541 — expected / maximum calibration error (ECE, MCE)
  // ------------------------------------------------------------------

  /** q541 — the headline calibration SCALARS over q318's reliability
    * table: ECE = Σ_b (n_b/N)·|mean_pred_b − obs_rate_b| and MCE =
    * max_b of the same gap. The per-bin gap clears denominators to
    * the exact integer dev_b = |Σqm_b − 10⁶·Σy_b| (micro-units ×
    * n_b), so ECE = (Σ_b dev_b) div N needs only ONE truncating
    * division and is exact regardless of bin sizes; MCE applies the
    * stated per-bin truncation dev_b div n_b. Completes the battery:
    * q318 SHOWS the table, q457 REPAIRS it (isotonic), q530
    * decomposes the quadratic (Brier) loss — this is the L1 summary
    * leaderboards actually quote (Guo et al. 2017). Scale: one scan →
    * ≤ 11-bin grid → 1 row. */
  def q541(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(graft.functions.TextAnalysis.qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("y"))
      .groupBy(expr("qm div 100000").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"qm").as("sq"), sum($"y").as("sy"))
      .withColumn("dev", abs($"sq" - $"sy" * 1000000L))
      .agg(count(lit(1)).as("n_bins"), sum($"n").as("n_docs"),
        sum($"dev").as("sdev"), max(expr("dev div n")).as("mce_micro"))
      .select($"n_bins", $"n_docs",
        expr("sdev div n_docs").as("ece_micro"), $"mce_micro")
  }

  val q541Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
       |  SELECT CAST(($quality) AS BIGINT) AS qm,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |b AS (
       |  SELECT qm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(qm) AS BIGINT) AS sq, CAST(sum(y) AS BIGINT) AS sy
       |  FROM f GROUP BY 1),
       |dv AS (SELECT n, abs(sq - sy * 1000000) AS dev FROM b)
       |SELECT CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(CAST(sum(dev) AS HUGEINT) // sum(n) AS BIGINT) AS ece_micro,
       |  CAST(max(dev // n) AS BIGINT) AS mce_micro
       |FROM dv""".stripMargin
  }

  // ------------------------------------------------------------------
  // q542 — anytime-valid e-process confidence sequence (betting CS)
  // ------------------------------------------------------------------

  /** The λ = 1/2 betting e-process table for q542: for each null
    * p₀ on the 5%-grid, the per-observation log e-factors in micro
    * units — success adds ln(1 + λ(1−p₀)), failure adds ln(1 − λp₀).
    * The pinned integers DEFINE the statistic (no transcendental
    * crosses the engine boundary; same rule as q474's SPRT literals);
    * the same Seq is interpolated verbatim into the DuckDB mirror, so
    * both engines walk the identical integer path. */
  private[graft] val betGrid: Seq[(Long, Long, Long)] = Seq(
    (50000L, 388658L, -25318L), (100000L, 371564L, -51293L),
    (150000L, 354172L, -77962L), (200000L, 336472L, -105361L),
    (250000L, 318454L, -133531L), (300000L, 300105L, -162519L),
    (350000L, 281412L, -192372L), (400000L, 262364L, -223144L),
    (450000L, 242946L, -254892L), (500000L, 223144L, -287682L),
    (550000L, 202941L, -321584L), (600000L, 182322L, -356675L),
    (650000L, 161268L, -393043L), (700000L, 139762L, -430783L),
    (750000L, 117783L, -470004L), (800000L, 95310L, -510826L),
    (850000L, 72321L, -553385L), (900000L, 48790L, -597837L),
    (950000L, 24693L, -644357L))

  /** q542 — anytime-valid confidence sequence for the event-level
    * purchase share by grid-inverted betting e-processes (Waudby-
    * Smith–Ramdas): for each null p₀ ∈ {5%,…,95%} wealth grows by the
    * pinned per-observation log e-factors ([[betGrid]]); H₀: p = p₀
    * is rejected the first day the RUNNING MAX log-wealth reaches
    * ln(1/α) = ln 20 (α = 0.05, pinned 2995732 micro), and the
    * confidence sequence at any look is exactly the never-rejected
    * grid points. The ANYTIME member of the testing battery: q474's
    * SPRT decides between two fixed hypotheses, q282's group-
    * sequential bounds spend α at four preplanned looks — this is
    * valid at EVERY look simultaneously (Ville's inequality), the
    * continuous-monitoring semantics a pipeline dashboard actually
    * needs. Exactness: day grid counts are exact; each path is an
    * integer running sum of pinned literals; rejection uses ≥
    * (stated). Scale shape: one ≤calendar-days aggregate, a 19-row
    * broadcast grid, windows partitioned by grid point over the
    * bounded day spine; output 19 rows. */
  def q542(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(epochDay($"ts").as("day"))
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("sp"),
        count(lit(1)).as("n"))
    val grid = betGrid.toDF("p_micro", "a", "b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p_micro").orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val path = daily.crossJoin(broadcast(grid))
      .withColumn("loge",
        sum($"sp" * $"a" + ($"n" - $"sp") * $"b").over(w))
    path.groupBy($"p_micro")
      .agg(max(struct($"day", $"loge")).as("last"),
        max($"loge").as("max_loge_micro"),
        min(when($"loge" >= 2995732L, $"day")).as("frd"))
      .select($"p_micro", $"last.loge".as("final_loge_micro"),
        $"max_loge_micro",
        when($"frd".isNotNull, 1L).otherwise(0L).as("rejected"),
        $"frd".cast("long").as("first_reject_day"))
      .orderBy($"p_micro")
  }

  val q542Sql: String = {
    val values = betGrid.map { case (p, a, b) => s"($p, $a, $b)" }
      .mkString(", ")
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS day,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS sp,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |grid(p_micro, a, b) AS (VALUES $values),
       |path AS (
       |  SELECT p_micro, day,
       |    sum(sp * a + (n - sp) * b) OVER (PARTITION BY p_micro
       |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS loge
       |  FROM daily CROSS JOIN grid)
       |SELECT CAST(p_micro AS BIGINT) AS p_micro,
       |  CAST(max_by(loge, day) AS BIGINT) AS final_loge_micro,
       |  CAST(max(loge) AS BIGINT) AS max_loge_micro,
       |  CAST(CASE WHEN min(CASE WHEN loge >= 2995732 THEN day END)
       |    IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS rejected,
       |  CAST(min(CASE WHEN loge >= 2995732 THEN day END) AS BIGINT)
       |    AS first_reject_day
       |FROM path GROUP BY p_micro ORDER BY p_micro""".stripMargin
  }

  // ------------------------------------------------------------------
  // q543 — two-proportion power / MDE planning readout
  // ------------------------------------------------------------------

  /** q543 — SAMPLE-SIZE planning table for the md5 arm design: the n
    * PER ARM required to detect a +5 / +10 / +20% RELATIVE lift
    * (pinned grid) in the high-value conversion rate at α = 0.05
    * two-sided / power 0.8 — n = ⌈z²·(p₁q₁+p₂q₂)/(p₂−p₁)²⌉ with
    * z² = 2.801585² pinned as the integer micro² literal
    * 7848878512225 — and the `sized` verdict against the arms as
    * shipped. The FORWARD-planning companion to q302's at-current-n
    * MDE readout (which this deliberately does NOT recompute): q302
    * answers "what could THIS experiment see", this answers "how
    * big must the NEXT one be" — the number a roadmap costs against.
    * Conversion is the HIGH-VALUE event (a purchase with value ≥
    * 200, stated): q243's any-purchase definition saturates at
    * p̂ = 1 on the shipped data, where sizing degenerates.
    * Exactness: arm counts exact; p̂ and each p₂ are stated micro
    * truncations; n-needed is an exact integer ceil-div of
    * DECIMAL(38,0) products — no float touches any emitted figure.
    * Zero/degenerate rate (p₂ = p̂) → NULL n_needed (stated). Scale
    * shape: one distinct-collapse of events to users, one 1-row
    * rollup, a 3-row pinned grid; scalar arithmetic after. */
  def q543(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase" && $"value" >= 200.0)
        .cast("long")).as("converted"))
      .withColumn("arm",
        when(conv(substring(md5_fast(concat($"user_id".cast("string"),
          lit("#exp1"))), 1, 8), 16, 10).cast("long") % 2 === 0,
          lit("control")).otherwise(lit("treatment")))
    val arms = users.agg(
        sum(when($"arm" === "control", 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" =!= "control", 1L).otherwise(0L)).as("n_b"),
        sum($"converted").as("c_all"))
      .withColumn("rate_micro",
        expr("(c_all * 1000000) div (n_a + n_b)"))
    arms.crossJoin(broadcast(Seq(5L, 10L, 20L).toDF("lift_pct")))
      .withColumn("p2_micro",
        expr("(rate_micro * (100 + lift_pct)) div 100"))
      .withColumn("n_needed", expr(
        """cast((7848878512225 *
             (cast(rate_micro as decimal(38,0)) * (1000000 - rate_micro)
              + cast(p2_micro as decimal(38,0)) * (1000000 - p2_micro))
             + cast(nullif(p2_micro - rate_micro, 0) as decimal(38,0))
               * (p2_micro - rate_micro) * 1000000000000 - 1)
           div (cast(nullif(p2_micro - rate_micro, 0) as decimal(38,0))
             * (p2_micro - rate_micro) * 1000000000000) as bigint)"""))
      .withColumn("n_have", least($"n_a", $"n_b"))
      .select($"lift_pct", $"n_a", $"n_b", $"c_all".as("n_converted"),
        $"rate_micro", $"p2_micro", $"n_needed", $"n_have",
        when($"n_have" >= $"n_needed", 1L).otherwise(0L).as("sized"))
      .orderBy($"lift_pct")
  }

  val q543Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND "value" >= 200
      |      THEN 1 ELSE 0 END) AS converted,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'),
      |      1, 8))::BIGINT % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT
      |    CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(sum(CASE WHEN arm <> 'control' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(sum(converted) AS BIGINT) AS c_all
      |  FROM u),
      |s1 AS (
      |  SELECT n_a, n_b, c_all,
      |    (c_all * 1000000) // (n_a + n_b) AS rate_micro
      |  FROM a),
      |g(lift_pct) AS (VALUES (5), (10), (20)),
      |s2 AS (
      |  SELECT s1.*, CAST(lift_pct AS BIGINT) AS lift_pct,
      |    (rate_micro * (100 + lift_pct)) // 100 AS p2_micro
      |  FROM s1 CROSS JOIN g)
      |SELECT lift_pct, n_a, n_b, c_all AS n_converted, rate_micro,
      |  p2_micro,
      |  CAST((7848878512225 *
      |      (CAST(rate_micro AS HUGEINT) * (1000000 - rate_micro)
      |       + CAST(p2_micro AS HUGEINT) * (1000000 - p2_micro))
      |      + CAST(nullif(p2_micro - rate_micro, 0) AS HUGEINT)
      |        * (p2_micro - rate_micro) * 1000000000000 - 1)
      |    // (CAST(nullif(p2_micro - rate_micro, 0) AS HUGEINT)
      |      * (p2_micro - rate_micro) * 1000000000000) AS BIGINT)
      |    AS n_needed,
      |  least(n_a, n_b) AS n_have,
      |  CAST(CASE WHEN least(n_a, n_b) >=
      |      CAST((7848878512225 *
      |        (CAST(rate_micro AS HUGEINT) * (1000000 - rate_micro)
      |         + CAST(p2_micro AS HUGEINT) * (1000000 - p2_micro))
      |        + CAST(nullif(p2_micro - rate_micro, 0) AS HUGEINT)
      |          * (p2_micro - rate_micro) * 1000000000000 - 1)
      |      // (CAST(nullif(p2_micro - rate_micro, 0) AS HUGEINT)
      |        * (p2_micro - rate_micro) * 1000000000000) AS BIGINT)
      |    THEN 1 ELSE 0 END AS BIGINT) AS sized
      |FROM s2 ORDER BY lift_pct""".stripMargin

  // ------------------------------------------------------------------
  // q544 — Krippendorff's α with missing ratings
  // ------------------------------------------------------------------

  /** q544 — Krippendorff's α (nominal, binary) over three
    * deterministic document labelers with MISSING ratings — the
    * agreement coefficient Fleiss κ (q513) cannot compute: κ needs a
    * complete rater×item grid, α is defined from pairable values and
    * simply drops units with < 2 ratings (stated). Raters: lang = en,
    * source < 'src2' (lexicographic — 12 of the 20 shipped sources),
    * n_chars ≥ 300; rater r abstains on a doc when
    * md5(doc_id ∥ "#kr" ∥ r) ≡ 0 (mod 5) — the q243 assignment device
    * reused as a 20% missingness mask, mirrored bit-for-bit. For
    * binary values the per-unit disagreement Σ_c n_c(m−n_c)/(m−1)
    * collapses to 2·n₁·n₀/(m−1), which for m ∈ {2,3} is the EXACT
    * integer t_u = n₁n₀·(2 if m = 2 else 1); with n = Σm_u pairable
    * values and N₁/N₀ the global value totals, α = 1 −
    * Σt·(n−1)/(2·N₁·N₀) in ONE stated truncating micro-division on
    * DECIMAL(38,0) (degenerate single-value corpus → NULL, stated).
    * Scale shape: one documents scan (three hash masks + three flags
    * per row), one 1-row rollup. */
  def q544(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def present(r: Int): Column =
      (conv(substring(md5_fast(concat($"doc_id".cast("string"), lit(s"#kr$r"))),
        1, 8), 16, 10).cast("long") % 5 =!= 0).cast("long")
    val rated = Tables.documents(s, d)
      .select(present(1).as("m1"), present(2).as("m2"), present(3).as("m3"),
        ($"lang" === "en").cast("long").as("v1"),
        ($"source" < "src2").cast("long").as("v2"),
        ($"n_chars" >= 300L).cast("long").as("v3"))
      .select(($"m1" + $"m2" + $"m3").as("m"),
        ($"m1" * $"v1" + $"m2" * $"v2" + $"m3" * $"v3").as("n1"))
      .filter($"m" >= 2)
      .select($"m", $"n1", ($"m" - $"n1").as("n0"))
      .withColumn("t",
        when($"m" === 3, $"n1" * $"n0").otherwise($"n1" * $"n0" * 2L))
    rated.agg(count(lit(1)).as("n_units"), sum($"m").as("n_values"),
        sum($"n1").as("tot1"), sum($"n0").as("tot0"), sum($"t").as("sum_t"))
      .select($"n_units", $"n_values", $"tot1", $"tot0", $"sum_t",
        (lit(1000000L) - expr(
          """(cast(sum_t as decimal(38,0)) * (n_values - 1) * 1000000)
             div nullif(2 * cast(tot1 as decimal(38,0)) * tot0, 0)"""))
          .as("alpha_micro"))
  }

  val q544Sql: String = {
    def present(r: Int): String =
      s"""CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#kr$r'),
         | 1, 8))::BIGINT % 5 <> 0 THEN 1 ELSE 0 END""".stripMargin
        .replace("\n", "")
    s"""WITH rated AS (
       |  SELECT m, n1, m - n1 AS n0,
       |    CASE WHEN m = 3 THEN n1 * (m - n1)
       |         ELSE 2 * n1 * (m - n1) END AS t
       |  FROM (
       |    SELECT m1 + m2 + m3 AS m,
       |      m1 * v1 + m2 * v2 + m3 * v3 AS n1
       |    FROM (
       |      SELECT ${present(1)} AS m1, ${present(2)} AS m2,
       |        ${present(3)} AS m3,
       |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS v1,
       |        CASE WHEN source < 'src2' THEN 1 ELSE 0 END AS v2,
       |        CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS v3
       |      FROM documents))
       |  WHERE m >= 2)
       |SELECT CAST(count(*) AS BIGINT) AS n_units,
       |  CAST(sum(m) AS BIGINT) AS n_values,
       |  CAST(sum(n1) AS BIGINT) AS tot1,
       |  CAST(sum(n0) AS BIGINT) AS tot0,
       |  CAST(sum(t) AS BIGINT) AS sum_t,
       |  CAST(1000000 - (CAST(sum(t) AS HUGEINT) * (sum(m) - 1) * 1000000)
       |    // nullif(2 * CAST(sum(n1) AS HUGEINT) * sum(n0), 0) AS BIGINT)
       |    AS alpha_micro
       |FROM rated""".stripMargin
  }

  // ------------------------------------------------------------------
  // q545 — per-class precision/recall/F1 + macro-F1 langid scorecard
  // ------------------------------------------------------------------

  /** q545 — the multi-class EVALUATION scorecard of the n-gram langId
    * heuristic against the declared lang label: per scored class —
    * the DATA-DERIVED subset of the classifier's label set
    * ([[graft.functions.TextAnalysis.langStopwords]]'s en/es/fr/de)
    * observed as actual or predicted (stated; a scored label absent
    * from both sides contributes no row and does NOT enter the
    * macro-F1 denominator) — tp / fp / fn / support, precision,
    * recall, and F1, with the macro-F1 (unweighted mean over those
    * observed classes — the imbalance-robust headline number) and
    * overall
    * accuracy broadcast on every row. The READOUT layer over q42's
    * raw confusion counts and q514's marginal-homogeneity test:
    * neither names WHICH class the classifier fails nor gives the
    * leaderboard scalar. A prediction of 'unknown' charges fn to the
    * true class and fp to nobody (stated — 'unknown' is not a
    * scored class); an out-of-scope true label (zh) still charges fp
    * to whatever scored class it is predicted as (stated — the
    * open-set penalty). Exactness: counts exact; precision/recall are
    * single truncating micro-divisions; F1 uses the EXACT one-
    * division form 2·tp·10⁶ div (2tp+fp+fn) (never composes the
    * truncated p/r); macro-F1 = ΣF1 div k composes the stated
    * per-class truncations; zero-support or zero-predicted classes
    * degrade the affected micro to NULL, and NULL F1s count as 0 in
    * the macro sum (stated). Scale: one scan → ≤ 6×6 confusion
    * grid → 5-row class table; windows only over that bounded
    * table. */
  def q545(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = graft.functions.TextAnalysis.langStopwords.map(_._1)
    val cells = Tables.documents(s, d)
      .select($"lang".as("actual"),
        graft.functions.TextAnalysis.langId($"text").as("pred"))
      .groupBy($"actual", $"pred").agg(count(lit(1)).as("n"))
      .transform(Fx.materialize)
    val classes = cells.filter($"actual".isin(langs: _*))
      .select($"actual".as("cls"))
      .union(cells.filter($"pred".isin(langs: _*)).select($"pred"))
      .distinct()
    val perClass = classes
      .join(cells.groupBy($"actual".as("cls"))
        .agg(sum(when($"actual" === $"pred", $"n")).as("tp_a"),
          sum(when($"actual" =!= $"pred", $"n")).as("fn_a")),
        Seq("cls"), "left")
      .join(cells.filter($"actual" =!= $"pred")
        .groupBy($"pred".as("cls")).agg(sum($"n").as("fp_p")),
        Seq("cls"), "left")
      .select($"cls",
        coalesce($"tp_a", lit(0L)).as("tp"),
        coalesce($"fp_p", lit(0L)).as("fp"),
        coalesce($"fn_a", lit(0L)).as("fn"))
      .withColumn("support", $"tp" + $"fn")
      .withColumn("precision_micro",
        expr("(tp * 1000000) div nullif(tp + fp, 0)"))
      .withColumn("recall_micro",
        expr("(tp * 1000000) div nullif(tp + fn, 0)"))
      .withColumn("f1_micro",
        expr("(2 * tp * 1000000) div nullif(2 * tp + fp + fn, 0)"))
    perClass
      .withColumn("macro_f1_micro",
        expr("(sum(coalesce(f1_micro, 0)) over ()) div (count(1) over ())"))
      .withColumn("accuracy_micro",
        expr("(sum(tp) over () * 1000000) div (sum(support) over ())"))
      .select($"cls", $"tp", $"fp", $"fn", $"support",
        $"precision_micro", $"recall_micro", $"f1_micro",
        $"macro_f1_micro", $"accuracy_micro")
      .orderBy($"cls")
  }

  val q545Sql: String = {
    val langs = graft.functions.TextAnalysis.langStopwords.map(_._1)
    val inList = langs.map(l => s"'$l'").mkString(", ")
    s"""WITH cells AS (
       |  SELECT lang AS actual, $langIdSql AS pred,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |classes AS (
       |  SELECT actual AS cls FROM cells WHERE actual IN ($inList)
       |  UNION
       |  SELECT pred FROM cells WHERE pred IN ($inList)),
       |per_class AS (
       |  SELECT c.cls,
       |    COALESCE(a.tp_a, 0) AS tp, COALESCE(p.fp_p, 0) AS fp,
       |    COALESCE(a.fn_a, 0) AS fn
       |  FROM classes c
       |  LEFT JOIN (
       |    SELECT actual AS cls,
       |      CAST(sum(CASE WHEN actual = pred THEN n END) AS BIGINT) AS tp_a,
       |      CAST(sum(CASE WHEN actual <> pred THEN n END) AS BIGINT) AS fn_a
       |    FROM cells GROUP BY 1) a ON c.cls = a.cls
       |  LEFT JOIN (
       |    SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS fp_p
       |    FROM cells WHERE actual <> pred GROUP BY 1) p ON c.cls = p.cls),
       |scored AS (
       |  SELECT cls, tp, fp, fn, tp + fn AS support,
       |    (tp * 1000000) // nullif(tp + fp, 0) AS precision_micro,
       |    (tp * 1000000) // nullif(tp + fn, 0) AS recall_micro,
       |    (2 * tp * 1000000) // nullif(2 * tp + fp + fn, 0) AS f1_micro
       |  FROM per_class)
       |SELECT cls, tp, fp, fn, support, precision_micro, recall_micro,
       |  f1_micro,
       |  CAST(sum(COALESCE(f1_micro, 0)) OVER () // count(*) OVER ()
       |    AS BIGINT) AS macro_f1_micro,
       |  CAST((sum(tp) OVER () * 1000000) // sum(support) OVER ()
       |    AS BIGINT) AS accuracy_micro
       |FROM scored ORDER BY cls""".stripMargin
  }

  // ------------------------------------------------------------------
  // q546 — TOST two-proportion equivalence test
  // ------------------------------------------------------------------

  /** q546 — two-one-sided-tests (TOST) EQUIVALENCE readout on the md5
    * arm design: is the treatment conversion rate the SAME as control
    * to within ±2pp (δ = 20000 micro, stated)? The question every
    * infra/refactor experiment actually asks and the significance
    * battery cannot answer — q243/q317 test difference ≠ 0 (absence
    * of evidence ≠ evidence of absence); TOST rejects NON-equivalence
    * when the 90% CI for the difference sits inside (−δ, +δ),
    * i.e. δ − |d̂| ≥ z_{0.05}·SE (Schuirmann). Conversion is q543's
    * high-value event (purchase value ≥ 200, stated). Exactness: arm
    * counts exact; d̂ and the unpooled variance are stated micro/pico
    * truncations (v = Σ c(n−c)·10¹² div n³ per arm on DECIMAL(38,0));
    * z·SE is the q543 one-sqrt double tree with z pinned 1.644854;
    * the verdict is an integer comparison of stated-grid values.
    * Scale shape: one user collapse, one 1-row rollup, scalar math. */
  def q546(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val users = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase" && $"value" >= 200.0)
        .cast("long")).as("converted"))
      .withColumn("ctl",
        (conv(substring(md5_fast(concat($"user_id".cast("string"),
          lit("#exp1"))), 1, 8), 16, 10).cast("long") % 2 === 0)
          .cast("long"))
    users.agg(
        sum($"ctl").as("n_a"),
        sum($"ctl" * $"converted").as("c_a"),
        sum(lit(1L) - $"ctl").as("n_b"),
        sum((lit(1L) - $"ctl") * $"converted").as("c_b"))
      .withColumn("d_micro",
        expr("(c_b * 1000000) div n_b - (c_a * 1000000) div n_a"))
      .withColumn("v_pico", expr(
        """(cast(c_a as decimal(38,0)) * (n_a - c_a) * 1000000000000)
             div (cast(n_a as decimal(38,0)) * n_a * n_a)
           + (cast(c_b as decimal(38,0)) * (n_b - c_b) * 1000000000000)
             div (cast(n_b as decimal(38,0)) * n_b * n_b)"""))
      .withColumn("zse_micro",
        floor(lit(1644854) * sqrt($"v_pico".cast("double")) / lit(1000000)
          + lit(0.5)).cast("long"))
      .select($"n_a", $"c_a", $"n_b", $"c_b", $"d_micro",
        $"v_pico".cast("long").as("v_pico"), $"zse_micro",
        ($"d_micro" - $"zse_micro").as("ci_lo_micro"),
        ($"d_micro" + $"zse_micro").as("ci_hi_micro"),
        when(lit(20000L) - abs($"d_micro") >= $"zse_micro", 1L)
          .otherwise(0L).as("equivalent"))
  }

  val q546Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND "value" >= 200
      |      THEN 1 ELSE 0 END) AS converted,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#exp1'),
      |      1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS ctl
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT CAST(sum(ctl) AS BIGINT) AS n_a,
      |    CAST(sum(ctl * converted) AS BIGINT) AS c_a,
      |    CAST(sum(1 - ctl) AS BIGINT) AS n_b,
      |    CAST(sum((1 - ctl) * converted) AS BIGINT) AS c_b
      |  FROM u),
      |s1 AS (
      |  SELECT *,
      |    (c_b * 1000000) // n_b - (c_a * 1000000) // n_a AS d_micro,
      |    CAST((CAST(c_a AS HUGEINT) * (n_a - c_a) * 1000000000000)
      |        // (CAST(n_a AS HUGEINT) * n_a * n_a)
      |      + (CAST(c_b AS HUGEINT) * (n_b - c_b) * 1000000000000)
      |        // (CAST(n_b AS HUGEINT) * n_b * n_b) AS BIGINT) AS v_pico
      |  FROM a),
      |s2 AS (
      |  SELECT *,
      |    CAST(floor(1644854 * sqrt(CAST(v_pico AS DOUBLE)) / 1000000 + 0.5)
      |      AS BIGINT) AS zse_micro
      |  FROM s1)
      |SELECT n_a, c_a, n_b, c_b, d_micro, v_pico, zse_micro,
      |  d_micro - zse_micro AS ci_lo_micro,
      |  d_micro + zse_micro AS ci_hi_micro,
      |  CAST(CASE WHEN 20000 - abs(d_micro) >= zse_micro THEN 1 ELSE 0 END
      |    AS BIGINT) AS equivalent
      |FROM s2""".stripMargin

  // ------------------------------------------------------------------
  // q547 — exact coverage-game Shapley source attribution
  // ------------------------------------------------------------------

  /** q547 — EXACT Shapley attribution of bigram-vocabulary coverage
    * to sources: the coverage game v(S) = #distinct bigrams present
    * in source set S decomposes into one unanimity game per bigram,
    * so each source's Shapley value is Σ_{bigrams it contains} 1/k
    * (k = #sources containing the bigram) in CLOSED FORM — where
    * q276's coalition-enumeration Shapley needs 2ⁿ subsets and a
    * ≤12-player guard, the coverage structure makes n = 20 sources
    * (or 20,000) exact and linear. The "who actually contributes
    * unique training signal once overlap is split fairly" question
    * that raw distinct-counts double-count and unique-counts
    * under-credit. Exactness: per-bigram credit is the exact integer
    * L/k with L = lcm(1..20) = 232792560 (k ≤ 20 by the source
    * domain, so k | L); φ_L sums exactly; Σφ_L = L·#bigrams
    * (efficiency — gate-checked); the share is one truncating micro
    * division. Scale shape: one bigram explode → distinct
    * (source, bigram) pairs (vocab-bounded) → k by bigram →
    * equi-join back on bigram → 20-row source rollup; the final
    * window sits on those 20 rows. */
  def q547(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val L = 232792560L
    val pairs = Tables.documents(s, d)
      .select($"source", split($"text", " ").as("w"))
      .select($"source",
        explode(graft.functions.TextAnalysis.adjacentPairs($"w")).as("bg"))
      .distinct()
      .transform(Fx.materialize)
    val k = pairs.groupBy($"bg").agg(count(lit(1)).as("k"))
    pairs.join(k, "bg")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"k" === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(expr(s"$L div k")).as("phi_l"))
      // widen before the ×10⁶ scaling: phi_l ≤ L·#bigrams can brush
      // 9.2e18/1e6 long before the generator bound does — DECIMAL(38,0)
      // here (HUGEINT in the mirror) keeps both engines exact instead
      // of Spark wrapping where DuckDB raises.
      .withColumn("share_micro",
        expr("(cast(phi_l as decimal(38,0)) * 1000000)" +
          " div (sum(phi_l) over ())"))
      .select($"source", $"n_bigrams", $"n_unique", $"phi_l",
        $"share_micro")
      .orderBy($"source")
  }

  val q547Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT source, bg FROM (
      |    SELECT source, unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1])) AS bg
      |    FROM (SELECT source, string_split(text, ' ') AS w
      |          FROM documents) ws) t),
      |kk AS (SELECT bg, CAST(count(*) AS BIGINT) AS k
      |       FROM pairs GROUP BY bg),
      |per_src AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_unique,
      |    CAST(sum(232792560 // k) AS BIGINT) AS phi_l
      |  FROM pairs JOIN kk USING (bg) GROUP BY source)
      |SELECT source, n_bigrams, n_unique, phi_l,
      |  CAST((CAST(phi_l AS HUGEINT) * 1000000) // (sum(phi_l) OVER ())
      |    AS BIGINT) AS share_micro
      |FROM per_src ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q548 — Winkler interval score of the conformal bands
  // ------------------------------------------------------------------

  /** q548 — Winkler/interval score of q278's split-conformal bands on
    * the held-out fold (Gneiting–Raftery 2007 §6.2): IS_α(l,u,y) =
    * (u−l) + (2/α)·(l−y)⁺ + (2/α)·(y−u)⁺ at α = 0.1, which for the
    * symmetric band [med−q̂, med+q̂] is 2q̂ + 20·max(0, |y−med| − q̂) —
    * 2/α = 20 EXACT by the α choice. The PROPER-score layer q278
    * lacks: its coverage audit can't see that a band twice as wide
    * with the same coverage is a worse forecast; the interval score
    * prices width AND misses in the same cents and is minimized in
    * expectation by the true interval. Same folds, same median, same
    * conformal rank as q278 (reproduced verbatim so the two queries
    * audit ONE artifact); per-priority output adds n_miss, the mean
    * width, and the mean score/penalty as stated micro divisions of
    * exact DECIMAL(38,0) cent sums (score ≤ 20·maxprice·n brushes
    * BIGINT at corpus n). Scale shape: q278's — rank selections on
    * [[Ranking.groupRanks]] (5-value priority enum), medians/q̂
    * broadcast back, one test-fold aggregate. */
  def q548(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_orderkey",
      $"o_orderpriority".as("grp"),
      floor($"o_totalprice" * 100).cast("long").as("cents"),
      (conv(substring(md5_fast(concat($"o_orderkey".cast("string"),
        lit("#conf"))), 1, 8), 16, 10) % 3).cast("int").as("fold"))
      .transform(Fx.materialize)
    val train = o.filter($"fold" === 0)
    val nTrain = train.groupBy($"grp").agg(count(lit(1)).as("n_train"))
      .withColumnRenamed("grp", "__g1")
    val med = Ranking.groupRanks(train, Seq("grp"), 8,
        $"cents".asc, $"o_orderkey".asc)
      .join(broadcast(nTrain), $"grp" === $"__g1")
      .filter($"rank" === ceil($"n_train" * 0.5))
      .select($"grp".as("__mg"), $"cents".as("med_cents"))
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
      .select($"grp".as("__qg"), $"resid".as("qhat_cents"))
    o.filter($"fold" === 2)
      .join(broadcast(med), $"grp" === $"__mg")
      .join(broadcast(qhat), $"grp" === $"__qg")
      .withColumn("err", abs($"cents" - $"med_cents"))
      .withColumn("pen",
        lit(20L) * greatest(lit(0L), $"err" - $"qhat_cents"))
      .groupBy($"grp", $"qhat_cents")
      .agg(count(lit(1)).as("n_test"),
        sum(when($"err" > $"qhat_cents", 1L).otherwise(0L)).as("n_miss"),
        sum($"pen".cast("decimal(38,0)")).as("pen_sum"))
      .select($"grp", $"qhat_cents",
        (lit(2L) * $"qhat_cents").as("width_cents"),
        $"n_test", $"n_miss",
        expr("""cast((pen_sum * 1000000) div n_test as bigint)""")
          .as("mean_penalty_micro"),
        expr("""cast(((2 * cast(qhat_cents as decimal(38,0)) * n_test
                 + pen_sum) * 1000000) div n_test as bigint)""")
          .as("mean_score_micro"))
      .orderBy($"grp")
  }

  val q548Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#conf'),
      |      1, 8))::BIGINT % 3 AS INT) AS fold
      |  FROM orders),
      |tr AS (
      |  SELECT grp, cents,
      |    row_number() OVER (PARTITION BY grp ORDER BY cents, o_orderkey)
      |      AS rk,
      |    count(*) OVER (PARTITION BY grp) AS n_train
      |  FROM o WHERE fold = 0),
      |med AS (
      |  SELECT grp, cents AS med_cents
      |  FROM tr WHERE rk = CAST(ceil(n_train * 0.5) AS BIGINT)),
      |cal AS (
      |  SELECT o.grp, o.o_orderkey, abs(o.cents - med.med_cents) AS resid
      |  FROM o JOIN med ON o.grp = med.grp WHERE o.fold = 1),
      |cr AS (
      |  SELECT grp, resid,
      |    row_number() OVER (PARTITION BY grp ORDER BY resid, o_orderkey)
      |      AS rk,
      |    count(*) OVER (PARTITION BY grp) AS n_cal
      |  FROM cal),
      |qh AS (
      |  SELECT grp, resid AS qhat_cents
      |  FROM cr WHERE rk = least((9 * (n_cal + 1) + 9) // 10, n_cal)),
      |scored AS (
      |  SELECT o.grp, qh.qhat_cents,
      |    abs(o.cents - med.med_cents) AS err,
      |    20 * greatest(0, abs(o.cents - med.med_cents) - qh.qhat_cents)
      |      AS pen
      |  FROM o
      |  JOIN med ON o.grp = med.grp
      |  JOIN qh ON o.grp = qh.grp
      |  WHERE o.fold = 2)
      |SELECT grp, qhat_cents, 2 * qhat_cents AS width_cents,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN err > qhat_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_miss,
      |  CAST((CAST(sum(pen) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
      |    AS mean_penalty_micro,
      |  CAST(((2 * CAST(qhat_cents AS HUGEINT) * count(*) + sum(pen))
      |    * 1000000) // count(*) AS BIGINT) AS mean_score_micro
      |FROM scored GROUP BY grp, qhat_cents ORDER BY grp""".stripMargin

  // ------------------------------------------------------------------
  // q551 — context-length truncation-loss curve
  // ------------------------------------------------------------------

  /** The pinned context-length grid for q551 (whitespace tokens). */
  private[graft] val ctxGrid: Seq[Long] = Seq(32L, 64L, 96L, 128L)

  /** q551 — the context-length truncation-loss curve: for each pinned
    * context length L, the fraction of corpus TOKENS lost to
    * truncation (Σ max(0, tok − L) over Σ tok) and the fraction of
    * DOCUMENTS touched (tok > L) — the number that prices the
    * max-sequence-length knob before training: q96 PACKS documents
    * into a chosen context, q520 sizes the vocabulary, but nothing
    * said what choosing L throws away. The shipped grid spans the
    * corpus (median 56 tokens at sf0.01): 32/64/96 are non-trivial,
    * 128 is the big-enough pole (exact zeros). Token count is the
    * whitespace convention (`size(split(text, ' '))` ≡ DuckDB
    * `len(string_split(text, ' '))`, empties included — the q520
    * parity rule). Exactness: pure integer counts; the two fractions
    * are stated truncating micro divisions. Scale shape: ONE scan,
    * one 10-sum rollup, a 4-row literal fan-out of that single row —
    * the grid multiplies output rows, never scan passes. */
  def q551(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(size(split($"text", " ")).cast("long").as("tok"))
    val aggCols = Seq(count(lit(1)).as("n_docs"),
      sum($"tok").as("tokens_total")) ++
      ctxGrid.flatMap(l => Seq(
        sum(when($"tok" > l, 1L).otherwise(0L)).as(s"nt_$l"),
        sum(greatest(lit(0L), $"tok" - l)).as(s"tl_$l")))
    val a = toks.agg(aggCols.head, aggCols.tail: _*)
      .transform(Fx.materialize)
    ctxGrid.map { l =>
      a.select(lit(l).as("ctx_len"), $"n_docs",
        col(s"nt_$l").as("n_truncated"), $"tokens_total",
        col(s"tl_$l").as("tokens_lost"),
        expr(s"(tl_$l * 1000000) div tokens_total").as("lost_micro"),
        expr(s"(nt_$l * 1000000) div n_docs").as("truncated_docs_micro"))
    }.reduce(_ unionByName _).orderBy($"ctx_len")
  }

  val q551Sql: String = {
    val sums = ctxGrid.flatMap { l =>
      Seq(
        s"""CAST(sum(CASE WHEN tok > $l THEN 1 ELSE 0 END) AS BIGINT)
           | AS nt_$l""".stripMargin.replace("\n", ""),
        s"CAST(sum(greatest(0, tok - $l)) AS BIGINT) AS tl_$l")
    }.mkString(",\n    ")
    val rows = ctxGrid.map { l =>
      s"""SELECT CAST($l AS BIGINT) AS ctx_len, n_docs,
         |  nt_$l AS n_truncated, tokens_total, tl_$l AS tokens_lost,
         |  CAST((tl_$l * 1000000) // tokens_total AS BIGINT)
         |    AS lost_micro,
         |  CAST((nt_$l * 1000000) // n_docs AS BIGINT)
         |    AS truncated_docs_micro
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(tok) AS BIGINT) AS tokens_total,
       |    $sums
       |  FROM t)
       |$rows
       |ORDER BY ctx_len""".stripMargin
  }

  /** q558 — EXACT closed-form ridge regression (normal equations +
    * Cramer on integer Gram sums): the oracle-checked counterpart to
    * the ML layer's ridge (M4/M5, ml/PriceModel.scala, which is pinned
    * to MLlib's pipeline at 1e-9 and, against sklearn's BASELINE
    * 0.7292, stays a tolerance band, SURVEY §7 hard part (b);
    * reference anchor trulia_csv_to_nlp.ipynb cells 22-31, RidgeCV).
    * Same estimator semantics as sklearn
    * Ridge(alpha=10, fit_intercept=True) on a small fixed feature
    * set: center X and y, solve the penalized slope system
    * (XcᵀXc + αI)β = Xcᵀyc, recover the unpenalized intercept as
    * ȳ − βᵀx̄. The system is scaled by n so every matrix entry is an
    * exact integer (n·S11 − S1² + n·α, …), the 2×2 Cramer
    * determinants are polynomials in those entries on
    * DECIMAL(38,0)/HUGEINT, and each coefficient is ONE truncating
    * micro-division — no float touches the estimate anywhere.
    * Domain: y = n_chars, x1 = word count, x2 = distinct-word count
    * (deliberately collinear with x1 — the regime ridge exists for).
    * Magnitudes: sy·det·10⁶ ≲ 10³⁴ at sf ≤ 0.1 (stated; the q297
    * 256-bit escalation note applies to wider domains).
    *
    * Scale shape: one scan collapses the corpus to nine moment sums
    * (map-side partial aggs); everything after is scalar arithmetic
    * on a single row. PriceModelSpec cites this as the exact
    * regression readout beside the housing model's R² band. */
  def q558(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val alpha = 10
    val feats = Tables.documents(s, d).select(
      $"n_chars".cast("long").as("y"),
      size(split($"text", " ")).cast("long").as("x1"),
      size(array_distinct(split($"text", " "))).cast("long").as("x2"))
    feats.agg(
        count(lit(1)).as("n"), sum($"x1").as("s1"), sum($"x2").as("s2"),
        sum(expr("cast(x1 as decimal(38,0)) * x1")).as("s11"),
        sum(expr("cast(x1 as decimal(38,0)) * x2")).as("s12"),
        sum(expr("cast(x2 as decimal(38,0)) * x2")).as("s22"),
        sum($"y").as("sy"),
        sum(expr("cast(x1 as decimal(38,0)) * y")).as("s1y"),
        sum(expr("cast(x2 as decimal(38,0)) * y")).as("s2y"))
      .withColumn("a11",
        expr(s"n * s11 - cast(s1 as decimal(38,0)) * s1 + cast($alpha as decimal(38,0)) * n"))
      .withColumn("a12", expr("n * s12 - cast(s1 as decimal(38,0)) * s2"))
      .withColumn("a22",
        expr(s"n * s22 - cast(s2 as decimal(38,0)) * s2 + cast($alpha as decimal(38,0)) * n"))
      .withColumn("c1", expr("n * s1y - cast(s1 as decimal(38,0)) * sy"))
      .withColumn("c2", expr("n * s2y - cast(s2 as decimal(38,0)) * sy"))
      .withColumn("det", expr("a11 * a22 - a12 * a12"))
      .withColumn("d1", expr("c1 * a22 - c2 * a12"))
      .withColumn("d2", expr("a11 * c2 - a12 * c1"))
      .select($"n",
        guardOverflow("b0_micro",
          expr("((cast(sy as decimal(38,0)) * det - d1 * s1 - d2 * s2) * 1000000) div (n * det)")),
        guardOverflow("b1_micro", expr("(d1 * 1000000) div det")),
        guardOverflow("b2_micro", expr("(d2 * 1000000) div det")))
  }

  /** q558's magnitude bound (sy·det·10⁶ ≲ 10³⁴) is STATED, and beyond
    * it Spark's non-ANSI decimal mode returns NULL where DuckDB's
    * HUGEINT stays exact or errors — a silent cross-engine divergence.
    * This guard turns any NULL coefficient on a non-empty corpus into
    * a loud in-plan error (coalesce is lazy: the raise_error branch
    * only evaluates when the estimate actually nulled out). n = 0
    * keeps the legacy all-null row (empty-corpus semantics, both
    * engines agree). */
  private def guardOverflow(name: String, c: Column): Column = {
    coalesce(c,
      when(col("n") > 0, raise_error(concat(
        lit(s"q558: $name is NULL on a non-empty corpus — DECIMAL(38) " +
          "overflow past the stated sy*det*1e6 <= 1e34 bound; escalate " +
          "per the q297 256-bit note, n="), col("n").cast("string"))))
        .otherwise(lit(null).cast("long"))).as(name)
  }

  val q558Sql: String =
    """WITH f AS (
      |  SELECT CAST(n_chars AS BIGINT) AS y,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2
      |  FROM documents),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
      |    CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
      |    CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
      |    CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
      |    CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y
      |  FROM f),
      |k AS (
      |  SELECT *,
      |    n * s11 - s1 * s1 + 10 * n AS a11,
      |    n * s12 - s1 * s2 AS a12,
      |    n * s22 - s2 * s2 + 10 * n AS a22,
      |    n * s1y - s1 * sy AS c1,
      |    n * s2y - s2 * sy AS c2
      |  FROM m),
      |k2 AS (
      |  SELECT *, a11 * a22 - a12 * a12 AS det,
      |    c1 * a22 - c2 * a12 AS d1,
      |    a11 * c2 - a12 * c1 AS d2
      |  FROM k)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST(((sy * det - d1 * s1 - d2 * s2) * 1000000) // (n * det)
      |    AS BIGINT) AS b0_micro,
      |  CAST((d1 * 1000000) // det AS BIGINT) AS b1_micro,
      |  CAST((d2 * 1000000) // det AS BIGINT) AS b2_micro
      |FROM k2""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q558_exact_ridge", q558, Some(q558Sql)),
    QueryDef("q551_truncation_loss", q551, Some(q551Sql)),
    QueryDef("q548_winkler_score", q548, Some(q548Sql)),
    QueryDef("q546_tost_equivalence", q546, Some(q546Sql)),
    QueryDef("q547_coverage_shapley", q547, Some(q547Sql)),
    QueryDef("q542_eprocess_confseq", q542, Some(q542Sql)),
    QueryDef("q543_sample_size_plan", q543, Some(q543Sql)),
    QueryDef("q544_krippendorff_alpha", q544, Some(q544Sql)),
    QueryDef("q545_macro_f1_langid", q545, Some(q545Sql)),
    QueryDef("q539_bucket_build_cost", q539, Some(q539Sql)),
    QueryDef("q540_tv_token_drift", q540, Some(q540Sql)),
    QueryDef("q541_calibration_error", q541, Some(q541Sql)),
    QueryDef("q534_pps_systematic", q534, Some(q534Sql)),
    QueryDef("q533_ivf_probe_sweep", q533, Some(q533Sql)),
    QueryDef("q529_ratio_estimator", q529, Some(q529Sql)),
    QueryDef("q530_brier_decomposition", q530, Some(q530Sql)),
    QueryDef("q531_bland_altman", q531, Some(q531Sql)),
    QueryDef("q532_deming_regression", q532, Some(q532Sql)),
    QueryDef("q527_stratified_split", q527, Some(q527Sql)),
    QueryDef("q528_fisher_exact", q528, Some(q528Sql)),
    QueryDef("q526_dunn_posthoc", q526, Some(q526Sql)),
    QueryDef("q522_welch_t", q522, Some(q522Sql)),
    QueryDef("q523_triangular_kde", q523, Some(q523Sql)),
    QueryDef("q524_effect_size", q524, Some(q524Sql)),
    QueryDef("q525_rbo_agreement", q525, Some(q525Sql)),
    QueryDef("q512_quade_test", q512, Some(q512Sql)),
    QueryDef("q513_fleiss_kappa", q513, Some(q513Sql)),
    QueryDef("q514_stuart_maxwell", q514, Some(q514Sql)),
    QueryDef("q515_tukey_hsd", q515, Some(q515Sql)),
    QueryDef("q516_sign_test", q516, Some(q516Sql)),
    QueryDef("q517_permutation_shift", q517, Some(q517Sql)),
    QueryDef("q518_icc_reliability", q518, Some(q518Sql)),
    QueryDef("q519_chinchilla_plan", q519, Some(q519Sql)),
    QueryDef("q520_vocab_coverage", q520, Some(q520Sql)),
    QueryDef("q521_matryoshka_recall", q521, Some(q521Sql)))
}
