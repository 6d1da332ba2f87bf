package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.plans.GraftFunctions.md5_fast

/** Governance / semi-structured surface: schema-on-read JSON
  * extraction, k-anonymity auditing, and an exact equi-depth histogram
  * built the scalable way (dense-rank two-pass, no global window).
  */
object GovernanceQueries {
  import Fx._

  /** q169 — schema-on-read over the events.props JSON column:
    * `from_json` with an explicit schema (not the regex fallback of
    * q24's JSON-ish extraction) feeding per-type aggregates. The parse
    * is a pure projection — codegen'd, scan-speed, no shuffle beyond
    * the final small groupBy. */
  def q169(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type",
        from_json($"props", lit("k INT")).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q169Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INT) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q170 — k-anonymity audit (privacy governance): bucket documents
    * by quasi-identifier tuple (lang, source, 50-char length band) and
    * flag equivalence classes smaller than k=5 — rows whose attribute
    * combination is rare enough to re-identify. Pure two-level
    * aggregation; the flag threshold is integer-exact. */
  def q170(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"lang", $"source",
        ($"n_chars" - pmod($"n_chars", lit(50))).as("len_band"))
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", ($"class_size" < 5).cast("int"))
      .orderBy($"lang", $"source", $"len_band")
  }

  val q170Sql: String =
    """SELECT lang, source, len_band, class_size,
      |  CAST(class_size < 5 AS INT) AS at_risk
      |FROM (
      |  SELECT lang, source, n_chars - (n_chars % 50) AS len_band,
      |    count(*) AS class_size
      |  FROM documents GROUP BY 1, 2, 3) t
      |ORDER BY lang, source, len_band""".stripMargin

  /** q171 — exact equi-depth histogram (10 bins over n_chars) built
    * WITHOUT a global window: range-repartition + in-partition sort +
    * zipWithIndex assigns the global rank (the q167 two-pass shape —
    * per-partition counts to the driver, ids = offset + local pos),
    * then bin = (rank−1)·10 div N. At 100 TB this is the only exact
    * equi-depth plan that doesn't serialize the table through one
    * task; the approximate path is the q157 quantile sketch. The
    * oracle IS the single-partition `row_number()` — affordable at
    * oracle scale, identical arithmetic. */
  def q171(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .repartitionByRange(8, col("n_chars"), col("doc_id"))
      .sortWithinPartitions(col("n_chars"), col("doc_id"))
    val ranked = docs.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    val schema = StructType(docs.schema.fields :+
      StructField("rn", LongType, nullable = false))
    val spark = docs.sparkSession
    val withRank = spark.createDataFrame(ranked, schema)
    val n = withRank.agg(count(lit(1)).as("n"))
    withRank.crossJoin(broadcast(n))
      .select(expr("(rn - 1) * 10 DIV n").as("bin"), col("n_chars"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      .orderBy(col("bin"))
  }

  val q171Sql: String =
    """SELECT (rn - 1) * 10 // n AS bin, count(*) AS n_docs,
      |  min(n_chars) AS lo, max(n_chars) AS hi
      |FROM (SELECT n_chars,
      |        row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
      |        count(*) OVER () AS n
      |      FROM documents) t
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** q175 — batch sliding-window aggregation: 4-hour windows hopping
    * hourly over event time, per event type (`window()` — each event
    * lands in 4 overlapping windows). Sum determinism: `value` is an
    * arbitrary double, so it is floored onto an integer cent grid PER
    * ROW first (identical IEEE op both engines) and the cents sum as
    * LONGS — no cross-row double accumulation anywhere. The DuckDB
    * mirror expands the same 4 hops per event with a range unnest. */
  def q175(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type", $"ts",
        floor($"value" * 100).cast("long").as("cents"))
      .groupBy(window($"ts", "4 hours", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .select($"win.start".as("win_start"), $"event_type", $"n", $"sum_cents")
      .orderBy($"win_start", $"event_type")
  }

  val q175Sql: String =
    """SELECT date_trunc('hour', ts) - to_hours(k) AS win_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events, LATERAL (SELECT unnest(range(0, 4)) AS k) hops
      |GROUP BY 1, 2
      |ORDER BY win_start, event_type""".stripMargin

  /** q176 — Merkle-style bucket digests (anti-entropy reconciliation
    * primitive): rows hash to a 64-bit fingerprint, fingerprints XOR
    * per id-bucket. XOR is commutative/associative ⇒ the digest is
    * order- and partitioning-independent, so two replicas (or a table
    * and its restored backup) compare 64 digests instead of 100 TB of
    * rows, then re-sync only differing buckets. The fingerprint stays
    * on the md5 grid both engines share. */
  def q176(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = Fx.md5Prefix(concat_ws("|", $"doc_id", $"lang", $"source", $"n_chars"), 15)
    Tables.documents(s, d)
      .select(($"doc_id" % 64).as("bucket"), fp.as("fp"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), bit_xor($"fp").as("digest"))
      .orderBy($"bucket")
  }

  val q176Sql: String =
    """SELECT doc_id % 64 AS bucket, count(*) AS n,
      |  bit_xor(CAST(('0x' || substr(md5(
      |    CAST(doc_id AS VARCHAR) || '|' || lang || '|' || source || '|'
      |      || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT AS BIGINT)) AS digest
      |FROM documents
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** q179 — data-quality constraint audit (the Deequ/Great-Expectations
    * shape as one query): completeness, uniqueness, referential
    * integrity, and range checks each reduce to a COUNT, unioned into
    * a constraint→violations report. Every check is a pure aggregate
    * or anti-join — column pruning gives each scan only its key, and
    * the anti-joins broadcast the dimension side. All integers. */
  def q179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val lineitem = Tables.lineitem(s, d)
    val docs = Tables.documents(s, d)
    def check(name: String, violations: DataFrame, checked: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("violations"))
        .crossJoin(checked.agg(count(lit(1)).as("n_checked")))
        .select(lit(name).as("constraint"), $"violations", $"n_checked")
    check("customer.c_custkey unique",
        customer.groupBy($"c_custkey").agg(count(lit(1)).as("n")).filter($"n" > 1),
        customer)
      .unionByName(check("documents.text nonempty",
        docs.filter($"text".isNull || $"text" === ""), docs))
      .unionByName(check("lineitem.l_orderkey referential",
        lineitem.select($"l_orderkey")
          .join(broadcast(orders.select($"o_orderkey")),
            $"l_orderkey" === $"o_orderkey", "left_anti"),
        lineitem))
      .unionByName(check("lineitem.l_quantity in [1,50]",
        lineitem.filter($"l_quantity" < 1 || $"l_quantity" > 50), lineitem))
      .unionByName(check("orders.o_custkey referential",
        orders.select($"o_custkey")
          .join(broadcast(customer.select($"c_custkey")),
            $"o_custkey" === $"c_custkey", "left_anti"),
        orders))
      .unionByName(check("orders.o_totalprice positive",
        orders.filter($"o_totalprice" <= 0), orders))
      .orderBy($"constraint")
  }

  val q179Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer.c_custkey unique' AS constraint,
      |    (SELECT count(*) FROM (SELECT c_custkey FROM customer
      |      GROUP BY 1 HAVING count(*) > 1) t) AS violations,
      |    (SELECT count(*) FROM customer) AS n_checked
      |  UNION ALL
      |  SELECT 'documents.text nonempty',
      |    (SELECT count(*) FROM documents WHERE text IS NULL OR text = ''),
      |    (SELECT count(*) FROM documents)
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey referential',
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
      |      (SELECT o_orderkey FROM orders)),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity in [1,50]',
      |    (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50),
      |    (SELECT count(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'orders.o_custkey referential',
      |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
      |      (SELECT c_custkey FROM customer)),
      |    (SELECT count(*) FROM orders)
      |  UNION ALL
      |  SELECT 'orders.o_totalprice positive',
      |    (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
      |    (SELECT count(*) FROM orders)) u
      |ORDER BY "constraint"""".stripMargin

  /** q181 — exact two-sample Kolmogorov–Smirnov drift test, per
    * source vs the rest of the corpus, on the n_chars distribution.
    * The statistic is computed in INTEGER arithmetic: at each distinct
    * value x, |F_src(x) − F_rest(x)| = |i·m − j·n| / (n·m) with
    * i, j cumulative counts and n, m group sizes, so the max is taken
    * over exact BIGINTs and only the FINAL division is floating
    * (exact-integer inputs ≤ 2^53 → correctly-rounded identical
    * doubles in both engines; at petabyte row counts the products
    * would move to DECIMAL38, same shape).
    *
    * Scale: the grid is #sources × #distinct-values and the window
    * partitions by source with #distinct-values rows per partition —
    * bounded by the VALUE DOMAIN, not the corpus. For an unbounded
    * domain, bucket through the equi-depth histogram (q171) or the
    * quantile sketch (q157) first; the KS-on-grid shape is unchanged.
    * The distinct-value table broadcasts (BNLJ, never a shuffle). */
  def q181(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ksDrift(Tables.documents(s, d).select($"source", $"n_chars"))
  }

  /** Core of q181, reusable over any (source, n_chars) frame (the
    * scale smoke feeds it a synthetic 1M-row corpus). */
  def ksDrift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import docs.sparkSession.implicits._
    val perSrc = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val global = docs.groupBy($"n_chars").agg(count(lit(1)).as("g"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val grid = sizes.crossJoin(broadcast(global))
      .join(perSrc, Seq("source", "n_chars"), "left")
      .na.fill(0, Seq("c"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
    grid
      .withColumn("i", sum($"c").over(w))
      .withColumn("cg", sum($"g").over(w))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
      .withColumn("m", $"total" - $"n")
      .withColumn("diff", abs($"i" * $"m" - ($"cg" - $"i") * $"n"))
      .groupBy($"source", $"n", $"m")
      .agg(max($"diff").as("ks_num"))
      .select($"source", $"n", $"m", $"ks_num",
        r6($"ks_num" / ($"n" * $"m")).as("ks"))
      .orderBy($"source")
  }

  /** q292 — two-sample Cramér–von Mises drift per source vs rest,
    * on the n_chars distribution: where q181's KS sees only the
    * single largest ECDF gap, CvM integrates the SQUARED gap over
    * the whole pooled distribution — the statistic that catches a
    * distribution shifted a little everywhere (tail drift KS
    * under-weights). Discrete tie-correct form: T = Σ_x g_x·(i·m −
    * j·n)² / (n·m·N²) with i, j cumulative group counts at x and
    * g_x the pooled count — every term is exact (squares ride
    * DECIMAL(38,0)/HUGEINT: the gap products hit N⁴ scale), and the
    * emitted value is one micro-grid integer division.
    *
    * Scale shape: q181's exactly — value-domain grid after one
    * collapse, cumulative windows over that bounded grid. */
  def q292(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val perSrc = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val global = docs.groupBy($"n_chars").agg(count(lit(1)).as("g"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val grid = sizes.crossJoin(broadcast(global))
      .join(perSrc, Seq("source", "n_chars"), "left")
      .na.fill(0, Seq("c"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
    grid
      .withColumn("i", sum($"c").over(w))
      .withColumn("cg", sum($"g").over(w))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
      .withColumn("m", $"total" - $"n")
      .withColumn("gap",
        ($"i" * $"m" - ($"cg" - $"i") * $"n").cast("decimal(38,0)"))
      .groupBy($"source", $"n", $"m", $"total")
      .agg(sum($"g" * $"gap" * $"gap").cast("decimal(38,0)").as("s_stat"))
      .select($"source", $"n", $"m",
        expr("""(s_stat * 1000000) div
                (cast(n as decimal(38,0)) * m * total * total)""")
          .as("cvm_micro"))
      .orderBy($"source")
  }

  val q292Sql: String =
    """WITH c AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
      |g AS (SELECT n_chars, count(*) AS g FROM documents GROUP BY 1),
      |t AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT count(*) AS total FROM documents),
      |grid AS (
      |  SELECT t.source, t.n, g.n_chars, g.g, COALESCE(c.c, 0) AS c
      |  FROM t CROSS JOIN g
      |  LEFT JOIN c ON c.source = t.source AND c.n_chars = g.n_chars),
      |cum AS (
      |  SELECT source, n, n_chars, g,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS i,
      |    CAST(sum(g) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cg
      |  FROM grid),
      |sx AS (
      |  SELECT source, n, total - n AS m, total,
      |    sum(CAST(g AS HUGEINT)
      |        * CAST(i * (total - n) - (cg - i) * n AS HUGEINT)
      |        * CAST(i * (total - n) - (cg - i) * n AS HUGEINT)) AS s_stat
      |  FROM cum CROSS JOIN tot
      |  GROUP BY source, n, total)
      |SELECT source, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
      |  CAST((s_stat * 1000000)
      |       // (CAST(n AS HUGEINT) * m * total * total) AS BIGINT) AS cvm_micro
      |FROM sx ORDER BY source""".stripMargin

  /** q301 — 1-D Wasserstein (earth-mover) drift per source vs rest,
    * on n_chars: W₁ = ∫|F₁−F₂| — the metric that reports drift in
    * the UNITS OF THE VALUE ("the typical document got 40 chars
    * longer"), which KS (sup gap, q181) and CvM (squared integral,
    * q292) both abstract away. Discrete exact form on the value
    * grid: W₁ = Σ_x Δx·|i·m − j·n| / (n·m) with Δx the gap to the
    * next distinct value — every term an exact BIGINT product, the
    * emitted distance one micro-grid division. Same grid, three
    * drift lenses: where (KS), how broadly (CvM), how far (W₁).
    *
    * Scale shape: q181's exactly — one collapse to the value-domain
    * grid, cumulative + lead windows over that bounded relation. */
  def q301(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val perSrc = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val global = docs.groupBy($"n_chars").agg(count(lit(1)).as("g"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val grid = sizes.crossJoin(broadcast(global))
      .join(perSrc, Seq("source", "n_chars"), "left")
      .na.fill(0, Seq("c"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
    grid
      .withColumn("i", sum($"c").over(w))
      .withColumn("cg", sum($"g").over(w))
      .withColumn("dx",
        (lead($"n_chars", 1).over(w) - $"n_chars").cast("long"))
      .filter($"dx".isNotNull)
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
      .withColumn("m", $"total" - $"n")
      .withColumn("gap", abs($"i" * $"m" - ($"cg" - $"i") * $"n"))
      .groupBy($"source", $"n", $"m")
      .agg(sum(expr("cast(dx as decimal(38,0)) * gap")).as("s_num"))
      .select($"source", $"n", $"m",
        expr("""(s_num * 1000000) div
                (cast(n as decimal(38,0)) * m)""").as("w1_micro"))
      .orderBy($"source")
  }

  val q301Sql: String =
    """WITH c AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
      |g AS (SELECT n_chars, count(*) AS g FROM documents GROUP BY 1),
      |t AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT count(*) AS total FROM documents),
      |grid AS (
      |  SELECT t.source, t.n, g.n_chars, g.g, COALESCE(c.c, 0) AS c
      |  FROM t CROSS JOIN g
      |  LEFT JOIN c ON c.source = t.source AND c.n_chars = g.n_chars),
      |cum AS (
      |  SELECT source, n, n_chars,
      |    CAST(sum(c) OVER win AS BIGINT) AS i,
      |    CAST(sum(g) OVER win AS BIGINT) AS cg,
      |    CAST(lead(n_chars) OVER win - n_chars AS BIGINT) AS dx
      |  FROM grid
      |  WINDOW win AS (PARTITION BY source ORDER BY n_chars)),
      |sx AS (
      |  SELECT source, n, total - n AS m,
      |    sum(CAST(dx AS HUGEINT) * abs(i * (total - n) - (cg - i) * n)) AS s_num
      |  FROM cum CROSS JOIN tot
      |  WHERE dx IS NOT NULL
      |  GROUP BY source, n, total)
      |SELECT source, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
      |  CAST((s_num * 1000000) // (CAST(n AS HUGEINT) * m) AS BIGINT) AS w1_micro
      |FROM sx ORDER BY source""".stripMargin

  /** q308 — the drift LEADERBOARD: all four drift lenses — KS (where
    * is the largest gap), CvM (how broad), Wasserstein-1 (how far in
    * value units), Mann-Whitney AUC (which direction) — joined per
    * source, each ranked (worst first, ties by source), and summed
    * into one Borda score. This is the page an on-call data steward
    * actually reads: not four tables, ONE ordered list of suspect
    * sources with the per-lens evidence beside it. Built by
    * composing the four oracle-checked queries verbatim (their SQLs
    * nest as subqueries; their DataFrames join on source), so the
    * leaderboard can never disagree with its inputs.
    *
    * Scale shape: the inputs are grid collapses (each already
    * scale-audited); the join and ranks run on the ≤|sources| rows.
    */
  def q308(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ks = q181(s, d).select($"source", $"ks")
    val cvm = q292(s, d).select($"source".as("__s1"), $"cvm_micro")
    val w1 = q301(s, d).select($"source".as("__s2"), $"w1_micro")
    val mw = q254(s, d).select($"source".as("__s3"), $"auc")
    val joined = ks
      .join(cvm, $"source" === $"__s1")
      .join(w1, $"source" === $"__s2")
      .join(mw, $"source" === $"__s3")
      .select($"source", $"ks", $"cvm_micro", $"w1_micro", $"auc")
    def rk(c: org.apache.spark.sql.Column) =
      rank().over(Window.orderBy(c.desc, $"source")).cast("long")
    joined
      .withColumn("rank_ks", rk($"ks"))
      .withColumn("rank_cvm", rk($"cvm_micro"))
      .withColumn("rank_w1", rk($"w1_micro"))
      .withColumn("rank_auc", rk(abs($"auc" - 0.5)))
      .withColumn("drift_score",
        $"rank_ks" + $"rank_cvm" + $"rank_w1" + $"rank_auc")
      .orderBy($"drift_score", $"source")
  }

  lazy val q308Sql: String =
    s"""SELECT source, ks, cvm_micro, w1_micro, auc,
       |  rank_ks, rank_cvm, rank_w1, rank_auc,
       |  rank_ks + rank_cvm + rank_w1 + rank_auc AS drift_score
       |FROM (
       |  SELECT k.source, k.ks, c.cvm_micro, w.w1_micro, m.auc,
       |    CAST(rank() OVER (ORDER BY k.ks DESC, k.source) AS BIGINT) AS rank_ks,
       |    CAST(rank() OVER (ORDER BY c.cvm_micro DESC, k.source) AS BIGINT) AS rank_cvm,
       |    CAST(rank() OVER (ORDER BY w.w1_micro DESC, k.source) AS BIGINT) AS rank_w1,
       |    CAST(rank() OVER (ORDER BY abs(m.auc - 0.5) DESC, k.source) AS BIGINT) AS rank_auc
       |  FROM ($q181Sql) k
       |  JOIN ($q292Sql) c ON k.source = c.source
       |  JOIN ($q301Sql) w ON k.source = w.source
       |  JOIN ($q254Sql) m ON k.source = m.source) t
       |ORDER BY drift_score, source""".stripMargin

  val q181Sql: String =
    s"""WITH c AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
       |g AS (SELECT n_chars, count(*) AS g FROM documents GROUP BY 1),
       |t AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM documents),
       |grid AS (
       |  SELECT t.source, t.n, g.n_chars, g.g, COALESCE(c.c, 0) AS c
       |  FROM t CROSS JOIN g
       |  LEFT JOIN c ON c.source = t.source AND c.n_chars = g.n_chars),
       |cum AS (
       |  SELECT source, n, n_chars,
       |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS i,
       |    CAST(sum(g) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cg
       |  FROM grid),
       |ks AS (
       |  SELECT source, n, total - n AS m,
       |    max(abs(i * (total - n) - (cg - i) * n)) AS ks_num
       |  FROM cum CROSS JOIN tot
       |  GROUP BY source, n, total)
       |SELECT source, n, m, CAST(ks_num AS BIGINT) AS ks_num,
       |  ${sqlR6("ks_num / (n * m)")} AS ks
       |FROM ks ORDER BY source""".stripMargin

  /** q254 — Mann–Whitney U / AUC drift, per source vs the rest of the
    * corpus, on the n_chars distribution — the nonparametric companion
    * to q181's KS: KS finds WHERE distributions diverge most, U says
    * whether one STOCHASTICALLY DOMINATES (auc = P(source doc longer
    * than a rest doc) + ½·P(tie), the common-language effect size).
    * Direction matters operationally: a source drifting LONG inflates
    * sequence lengths, one drifting SHORT signals truncation/breakage.
    *
    * Exact integer arithmetic on the value-domain grid (the q181
    * shape — counts per distinct value, windows bounded by the DOMAIN,
    * never a corpus window): with midranks for ties,
    * 2·R₁ = Σ_v a_v·(2·cum_before(v) + t_v + 1) over exact BIGINTs,
    * 2·U₁ = 2·R₁ − n(n+1), and the only float op is the final
    * auc = 2U₁ / (2·n·m) division of exact integers — identical
    * IEEE in both engines. */
  def q254(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val perSrc = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("a"))
    val global = docs.groupBy($"n_chars").agg(count(lit(1)).as("t"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val grid = sizes.crossJoin(broadcast(global))
      .join(perSrc, Seq("source", "n_chars"), "left")
      .na.fill(0, Seq("a"))
    val w = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cb", coalesce(sum($"t").over(w), lit(0L)))
      .withColumn("rc", $"a" * (lit(2L) * $"cb" + $"t" + 1L))
      .groupBy($"source", $"n")
      .agg(sum($"rc").as("r1x2"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
      .withColumn("m", $"total" - $"n")
      .withColumn("u1x2", $"r1x2" - $"n" * ($"n" + 1L))
      .select($"source", $"n", $"m", $"u1x2",
        r6($"u1x2" / (($"n" * $"m") * lit(2.0))).as("auc"))
      .orderBy($"source")
  }

  val q254Sql: String =
    s"""WITH c AS (SELECT source, n_chars, count(*) AS a FROM documents GROUP BY 1, 2),
       |g AS (SELECT n_chars, count(*) AS t FROM documents GROUP BY 1),
       |sz AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM documents),
       |grid AS (
       |  SELECT sz.source, sz.n, g.n_chars, g.t, COALESCE(c.a, 0) AS a
       |  FROM sz CROSS JOIN g
       |  LEFT JOIN c ON c.source = sz.source AND c.n_chars = g.n_chars),
       |cum AS (
       |  SELECT source, n, a, t,
       |    CAST(COALESCE(sum(t) OVER (PARTITION BY source ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |  FROM grid),
       |r AS (
       |  SELECT source, n, CAST(sum(a * (2 * cb + t + 1)) AS BIGINT) AS r1x2
       |  FROM cum GROUP BY source, n)
       |SELECT source, n, total - n AS m, r1x2 - n * (n + 1) AS u1x2,
       |  ${sqlR6("(r1x2 - n * (n + 1)) / ((n * (total - n)) * 2.0)")} AS auc
       |FROM r CROSS JOIN tot ORDER BY source""".stripMargin

  /** q182 — Benford first-digit audit over o_totalprice (fraud/
    * synthetic-data screening). The leading digit is taken through
    * BIGINT→string (no log10, no float formatting — both engines
    * print integers identically); the expected Benford shares
    * log10(1+1/d) are 6-dp LITERALS on both sides, so the gap is
    * identical IEEE arithmetic on identical inputs. Map-side partial
    * aggregation collapses the scan to 9 rows before the shuffle. */
  def q182(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val benford = array(BenfordShares.map(lit): _*)
    // Benford's law is stated for magnitudes ≥ 1 — and a value in
    // [0, 1) would produce digit 0, which Spark's 1-based element_at
    // rejects while DuckDB list-indexes to NULL; the explicit filter
    // keeps both engines on the same 1..9 domain
    val eligible = Tables.orders(s, d).filter($"o_totalprice" >= 1.0)
    eligible
      .select(substring(floor($"o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(eligible.agg(count(lit(1)).as("total"))))
      .select($"digit", $"cnt",
        r6($"cnt" / $"total").as("obs_share"),
        element_at(benford, $"digit").as("benford_share"),
        r6($"cnt" / $"total" - element_at(benford, $"digit")).as("gap"))
      .orderBy($"digit")
  }

  /** log10(1 + 1/d), d = 1…9, rounded to 6 dp — shared literals. */
  private val BenfordShares: Seq[Double] = Seq(
    0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
    0.066947, 0.057992, 0.051153, 0.045757)

  val q182Sql: String = {
    // ::DOUBLE per literal: a bare 0.301030 parses as DECIMAL(7,6) in
    // DuckDB, which would change both the result schema and the
    // subtraction arithmetic vs Spark's double literals
    val lits = BenfordShares.map(v => f"$v%.6f::DOUBLE").mkString(", ")
    s"""WITH digits AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM orders WHERE o_totalprice >= 1),
       |counts AS (SELECT digit, count(*) AS cnt FROM digits GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM orders WHERE o_totalprice >= 1)
       |SELECT digit, cnt,
       |  ${sqlR6("cnt / total")} AS obs_share,
       |  [$lits][digit] AS benford_share,
       |  ${sqlR6(s"cnt / total - [$lits][digit]")} AS gap
       |FROM counts CROSS JOIN tot
       |ORDER BY digit""".stripMargin
  }

  /** q192 — join fan-out profile: the referential cardinality
    * histograms (how many children per parent, including zero) that
    * justify broadcast/skew decisions — a 99.9th-percentile fan-out of
    * 10⁵ is how a "harmless" join melts at 100 TB. Children aggregate
    * FIRST (parent_key → count, map-side partial), then a broadcast-
    * friendly left join fills the zero bucket; the histogram is a
    * second tiny aggregate over parent rows. All integers. */
  def q192(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def fanout(rel: String, parents: DataFrame, pk: String,
        children: DataFrame, fk: String): DataFrame = {
      val per = children.groupBy(col(fk)).agg(count(lit(1)).as("c"))
      parents.join(per, col(pk) === col(fk), "left")
        .select(coalesce($"c", lit(0L)).as("fanout"))
        .groupBy($"fanout").agg(count(lit(1)).as("n_parents"))
        .select(lit(rel).as("rel"), $"fanout", $"n_parents")
    }
    val orders = Tables.orders(s, d)
    fanout("customer->orders", Tables.customer(s, d), "c_custkey",
        orders.select($"o_custkey"), "o_custkey")
      .unionByName(fanout("orders->lineitem", orders.select($"o_orderkey"),
        "o_orderkey", Tables.lineitem(s, d).select($"l_orderkey"), "l_orderkey"))
      .orderBy($"rel", $"fanout")
  }

  val q192Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer->orders' AS rel, fanout, count(*) AS n_parents FROM (
      |    SELECT COALESCE(o.c, 0) AS fanout
      |    FROM customer LEFT JOIN (
      |      SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1) o
      |      ON c_custkey = o_custkey) t
      |  GROUP BY fanout
      |  UNION ALL
      |  SELECT 'orders->lineitem' AS rel, fanout, count(*) AS n_parents FROM (
      |    SELECT COALESCE(l.c, 0) AS fanout
      |    FROM orders LEFT JOIN (
      |      SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1) l
      |      ON o_orderkey = l_orderkey) t
      |  GROUP BY fanout) u
      |ORDER BY rel, fanout""".stripMargin

  /** q210 — l-diversity audit, the companion check to q170's
    * k-anonymity: a quasi-identifier class can be large (k-anonymous)
    * yet still leak its members' sensitive attribute if every member
    * SHARES it. Per QI class (source, 50-char length band), count
    * distinct values of the sensitive column (lang) and flag classes
    * with fewer than l = 3 — plus the homogeneous worst case. Pure
    * two-level integer aggregation, one scan. */
  def q210(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source",
        ($"n_chars" - pmod($"n_chars", lit(50))).as("len_band"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct($"lang").as("n_langs"))
      .withColumn("below_l", ($"n_langs" < 3).cast("int"))
      .withColumn("homogeneous", ($"n_langs" === 1).cast("int"))
      .orderBy($"source", $"len_band")
  }

  val q210Sql: String =
    """SELECT source, len_band, class_size, n_langs,
      |  CAST(n_langs < 3 AS INT) AS below_l,
      |  CAST(n_langs = 1 AS INT) AS homogeneous
      |FROM (
      |  SELECT source, n_chars - (n_chars % 50) AS len_band,
      |    CAST(count(*) AS BIGINT) AS class_size,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |  FROM documents GROUP BY 1, 2) t
      |ORDER BY source, len_band""".stripMargin

  // ------------------------------------------------------------------
  // q214 — revenue-concentration Gini per market segment
  // ------------------------------------------------------------------

  /** q214 — exact Gini coefficient of customer revenue within each
    * market segment — the concentration statistic behind "does 1% of
    * customers carry 50% of revenue" (and, on a training corpus, "does
    * one source dominate the token budget"). Rank-sum form over
    * ascending revenue: `G = (2·Σ r·x − (n+1)·Σx) / (n·Σx)`.
    *
    * Scale shape: revenue is summed per customer in exact BIGINT cents
    * first (2-decimal money grid), the within-segment rank comes from
    * [[Ranking.groupRanks]] — 5 segments would otherwise mean five
    * single-task windows carrying the whole customer file — and the
    * rank-weighted sums accumulate in DECIMAL(38,0) (DuckDB mirrors in
    * HUGEINT): `Σ r·x` passes 10¹⁸ once a segment holds ~10⁹
    * customers, so long accumulation would wrap exactly where the
    * engine is supposed to shine. The one double appears at the end —
    * a single division of two exactly-represented integers. */
  def q214(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = Tables.orders(s, d)
      .select($"o_custkey", floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"o_custkey").agg(sum($"c").as("cents"))
    val seg = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    val cr = cents.join(seg, $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"), $"o_custkey", $"cents")
    val ranked = Ranking.groupRanks(cr, Seq("segment"), 8,
      $"cents".asc, $"o_custkey".asc)
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    ranked.groupBy($"segment")
      .agg(count(lit(1)).as("n"),
        sum(d38($"cents")).as("sx"),
        sum(d38($"rank") * d38($"cents")).as("srx"))
      .select($"segment", $"n".as("n_custs"),
        $"sx".cast("long").as("total_cents"),
        r6((lit(2) * $"srx" - ($"n" + 1) * $"sx").cast("double") /
          (d38($"n") * $"sx").cast("double")).as("gini"))
      .orderBy($"segment")
  }

  val q214Sql: String =
    s"""WITH cr AS (
       |  SELECT c.c_mktsegment AS segment, o.o_custkey,
       |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT segment, o_custkey, cents,
       |    CAST(row_number() OVER (PARTITION BY segment
       |      ORDER BY cents, o_custkey) AS BIGINT) AS rank
       |  FROM cr),
       |a AS (
       |  SELECT segment, count(*) AS n,
       |    sum(CAST(cents AS HUGEINT)) AS sx,
       |    sum(CAST(rank AS HUGEINT) * CAST(cents AS HUGEINT)) AS srx
       |  FROM r GROUP BY 1)
       |SELECT segment, CAST(n AS BIGINT) AS n_custs,
       |  CAST(sx AS BIGINT) AS total_cents,
       |  ${sqlR6("CAST(2 * srx - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE)")} AS gini
       |FROM a ORDER BY segment""".stripMargin

  // ------------------------------------------------------------------
  // q222 — inter-annotator agreement (Cohen's kappa, exact integers)
  // ------------------------------------------------------------------

  /** q222 — Cohen's kappa between two label sources per language: how
    * much two quality raters agree BEYOND what their marginal label
    * rates would produce by chance — the standard check before
    * trusting any labeled training subset (κ=1 perfect, 0 chance-level,
    * <0 systematic disagreement). The raters here are two deterministic
    * heuristics over documents (a character-length tertile bucket and a
    * word-count tertile bucket), which correlate without coinciding —
    * exactly the regime where raw agreement overstates consistency and
    * κ corrects it.
    *
    * Exact-integer form: with N docs, A = #agreements and marginals
    * rₖ, cₖ, κ = (N·A − Σₖ rₖcₖ) / (N² − Σₖ rₖcₖ) — both observed and
    * expected agreement cross-multiplied by N² so the ONLY division is
    * the final one (r6-rounded), with the all-one-cell degenerate case
    * (denominator 0) returned as NULL on both engines. Scale shape:
    * one scan, one 3×-conditional aggregate per language — no joins,
    * no windows; a 100 TB corpus costs exactly its scan. */
  def q222(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labeled = Tables.documents(s, d).select($"lang",
      (when($"n_chars" >= 370, 2).when($"n_chars" >= 210, 1)
        .otherwise(0)).as("la"),
      (when(size(split($"text", " ")) >= 67, 2)
        .when(size(split($"text", " ")) >= 38, 1).otherwise(0)).as("lb"))
    kappaByGroup(labeled, "lang", "la", "lb", 0 to 2).orderBy($"lang")
  }

  /** Cohen's kappa per group in exact-integer form: with N rows,
    * A agreements and per-label marginals rₖ (rater a) and cₖ (rater
    * b), κ = (N·A − Σₖ rₖcₖ) / (N² − Σₖ rₖcₖ) — one r6-rounded final
    * division, NULL for the degenerate single-cell case (N² = Σrₖcₖ).
    * One scan, one conditional aggregate; `labels` is the (bounded)
    * label domain. Output: (groupCol, n, n_agree, kappa), unordered —
    * callers append their total ORDER BY. */
  def kappaByGroup(labeled: DataFrame, groupCol: String, aCol: String,
      bCol: String, labels: Seq[Int]): DataFrame = {
    def marg(c: String, k: Int) =
      sum((col(c) === k).cast("long"))
    val chance = labels.map(k => marg(aCol, k) * marg(bCol, k))
      .reduce(_ + _)
    labeled.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum((col(aCol) === col(bCol)).cast("long")).as("n_agree"),
        chance.as("chance"))
      .select(col(groupCol), col("n"), col("n_agree"),
        when(col("n") * col("n") =!= col("chance"),
          r6((col("n") * col("n_agree") - col("chance")) /
            (col("n") * col("n") - col("chance")))).as("kappa"))
  }

  val q222Sql: String =
    s"""WITH l AS (
       |  SELECT lang,
       |    CASE WHEN n_chars >= 370 THEN 2
       |         WHEN n_chars >= 210 THEN 1 ELSE 0 END AS la,
       |    CASE WHEN len(string_split(text, ' ')) >= 67 THEN 2
       |         WHEN len(string_split(text, ' ')) >= 38 THEN 1 ELSE 0
       |    END AS lb
       |  FROM documents),
       |a AS (
       |  SELECT lang, count(*) AS n,
       |    sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS n_agree,
       |    sum(CASE WHEN la = 0 THEN 1 ELSE 0 END)
       |      * sum(CASE WHEN lb = 0 THEN 1 ELSE 0 END)
       |    + sum(CASE WHEN la = 1 THEN 1 ELSE 0 END)
       |      * sum(CASE WHEN lb = 1 THEN 1 ELSE 0 END)
       |    + sum(CASE WHEN la = 2 THEN 1 ELSE 0 END)
       |      * sum(CASE WHEN lb = 2 THEN 1 ELSE 0 END) AS chance
       |  FROM l GROUP BY lang)
       |SELECT lang, CAST(n AS BIGINT) AS n, CAST(n_agree AS BIGINT) AS n_agree,
       |  CASE WHEN n * n <> chance THEN
       |    ${sqlR6("CAST(n * n_agree - chance AS DOUBLE) / CAST(n * n - chance AS DOUBLE)")}
       |  END AS kappa
       |FROM a ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // q227 — winsorized robust mean (nearest-rank p05/p95 clipping)
  // ------------------------------------------------------------------

  /** q227 — per-priority winsorized order-value statistics: the
    * nearest-rank 5th/95th percentiles of o_totalprice (in exact
    * cents), every value clamped into [p05, p95], and the winsorized
    * mean — the robust location estimate that, unlike trimming,
    * keeps n constant, and unlike the raw mean, bounds any single
    * record's influence (the standard pre-aggregation defense when
    * fat-tailed values feed a budget or an SLA).
    *
    * Scale shape: percentile selection needs within-group ranks over
    * 5 priority classes — a group-partitioned window would push the
    * whole table through 5 tasks, so ranks come from the scale-safe
    * [[Ranking.groupRanks]] (range-repartition + Tungsten ordinal +
    * broadcast offset map; exact row_number parity is spec-pinned).
    * The 5-row percentile relation broadcasts back for the clamp, and
    * every quantity is an exact long until the single final division
    * ([[Fx.r4]]). Nearest-rank, not interpolated: the percentile is a
    * value the data actually contains, and the rank inequality
    * rank·20 ≥ n (resp. 19·n) is integer-exact in both engines. */
  def q227(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    val ranked = Ranking.groupRanks(cents, Seq("o_orderpriority"), 8,
      $"cents".asc, $"o_orderkey".asc)
    // group sizes via partial-aggregating groupBy + broadcast back — a
    // count() window partitioned by the 5 priorities would funnel the
    // table through 5 tasks, the exact shape groupRanks avoids
    val ns = cents.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val pcts = ranked.join(broadcast(ns), "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(max($"n").cast("long").as("n"),
        min(when($"rank" * 20 >= $"n", $"cents")).as("p05_cents"),
        min(when($"rank" * 20 >= $"n" * 19, $"cents")).as("p95_cents"))
    cents.join(broadcast(pcts), "o_orderpriority")
      .groupBy($"o_orderpriority")
      .agg(max($"n").as("n"), max($"p05_cents").as("p05_cents"),
        max($"p95_cents").as("p95_cents"),
        sum(greatest(least($"cents", $"p95_cents"), $"p05_cents"))
          .as("wsum_cents"))
      .select($"o_orderpriority", $"n", $"p05_cents", $"p95_cents",
        $"wsum_cents",
        r4($"wsum_cents" / ($"n" * 100L)).as("wmean"))
      .orderBy($"o_orderpriority")
  }

  val q227Sql: String =
    s"""WITH c AS (
       |  SELECT o_orderkey, o_orderpriority,
       |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |r AS (
       |  SELECT o_orderpriority, cents,
       |    CAST(row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY cents, o_orderkey) AS BIGINT) AS rank,
       |    CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
       |  FROM c),
       |p AS (
       |  SELECT o_orderpriority, max(n) AS n,
       |    min(CASE WHEN rank * 20 >= n THEN cents END) AS p05_cents,
       |    min(CASE WHEN rank * 20 >= n * 19 THEN cents END) AS p95_cents
       |  FROM r GROUP BY 1)
       |SELECT c.o_orderpriority,
       |  CAST(max(p.n) AS BIGINT) AS n,
       |  max(p.p05_cents) AS p05_cents,
       |  max(p.p95_cents) AS p95_cents,
       |  CAST(sum(greatest(least(c.cents, p.p95_cents), p.p05_cents))
       |    AS BIGINT) AS wsum_cents,
       |  ${sqlR4("CAST(sum(greatest(least(c.cents, p.p95_cents), p.p05_cents)) AS BIGINT) / (max(p.n) * 100)")}
       |    AS wmean
       |FROM c JOIN p ON c.o_orderpriority = p.o_orderpriority
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q244 — subject-access report (the GDPR data map)
  // ------------------------------------------------------------------

  /** q244 — the subject-access-request (SAR) / erasure-planning scan:
    * for a requesting subject set (an md5-picked ~1% of the user
    * universe — deterministic, oracle-mirrored), report every entity
    * table that holds their data and how much: distinct subjects
    * present and row counts per table. This is the inventory a
    * DSAR response and a deleteByKey/crypto-shred erasure plan both
    * start from — and the reason subject keys must join across the
    * whole schema (events.user_id ≡ orders.o_custkey ≡
    * customer.c_custkey here).
    *
    * Scale shape: the subject set is tiny by construction →
    * broadcast semi-join against each table (no fact-table shuffle
    * anywhere), one partial-aggregating count per table, a 3-row
    * union. At 100 TB each table contributes one broadcast-pruned
    * scan — the same plan a governance sweep runs nightly. */
  def q244(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def pick(c: org.apache.spark.sql.Column) =
      Fx.md5Prefix(concat(c.cast("string"), lit("#sar")), 8) % 100L === 0L
    // materialized: the ~1%-sampled subject list broadcasts into all
    // three entity probes — without it each probe re-scans customer
    val subjects = Tables.customer(s, d)
      .select($"c_custkey".as("subject")).filter(pick($"subject"))
      .transform(Fx.materialize)
    def held(df: DataFrame, keyCol: String, entity: String) =
      df.select(col(keyCol).as("subject"))
        .join(broadcast(subjects), "subject")
        .agg(lit(entity).as("entity"),
          countDistinct($"subject").as("n_subjects"),
          count(lit(1)).as("n_rows"))
    held(Tables.customer(s, d), "c_custkey", "customer")
      .unionByName(held(Tables.orders(s, d), "o_custkey", "orders"))
      .unionByName(held(Tables.events(s, d), "user_id", "events"))
      .orderBy($"entity")
  }

  val q244Sql: String = {
    def pick(c: String) =
      s"('0x' || substr(md5(CAST($c AS VARCHAR) || '#sar'), 1, 8))::BIGINT % 100 = 0"
    def held(table: String, key: String, entity: String) =
      s"""SELECT '$entity' AS entity,
         |  CAST(count(DISTINCT $key) AS BIGINT) AS n_subjects,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM $table WHERE $key IN (SELECT c_custkey FROM customer
         |                           WHERE ${pick("c_custkey")})""".stripMargin
    s"""${held("customer", "c_custkey", "customer")}
       |UNION ALL
       |${held("orders", "o_custkey", "orders")}
       |UNION ALL
       |${held("events", "user_id", "events")}
       |ORDER BY entity""".stripMargin
  }

  /** q258 — chi-square test of independence + Cramér's V between order
    * priority and customer market segment: the categorical-association
    * audit (is the priority mix drifting BY segment?) that completes
    * the drift battery beside q181's KS (numeric, two-sample) and
    * q254's Mann-Whitney (numeric, directional). Everything through
    * χ² is exact integer arithmetic: per-cell contribution
    * (n·O − r·c)²·10⁶ ÷ (n·r·c) is an INTEGER division on
    * DECIMAL(38,0)/HUGEINT operands (the q171 micro-grid discipline),
    * so χ² accumulates as an exact BIGINT in micro-units with no
    * float summation order anywhere; Cramér's V = √(χ²/(n·min(R−1,
    * C−1))) spends the one correctly-rounded IEEE sqrt at the very
    * end (q178 precedent). Emits the full 25-cell contingency table
    * (observed, expected in micro-units, per-cell χ² contribution) —
    * the drill-down a drift alert needs — with the test statistics on
    * every row.
    *
    * Scale shape: one equi-join orders⋈customer on the customer key
    * (AQE picks broadcast vs shuffle by measured size), one groupBy
    * onto the R×C cell grid, and every window after that runs on the
    * ≤ R·C-row cell relation — metadata-sized at any corpus scale. */
  def q258(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cells = Tables.orders(s, d).select($"o_custkey", $"o_orderpriority".as("priority"))
      .join(Tables.customer(s, d).select($"c_custkey".as("o_custkey"), $"c_mktsegment".as("segment")),
        "o_custkey")
      .groupBy($"priority", $"segment")
      .agg(count(lit(1)).as("o"))
    val lvl = cells.agg(
      countDistinct($"priority").as("rr"), countDistinct($"segment").as("cc"))
    val t = cells
      .withColumn("r", sum($"o").over(Window.partitionBy($"priority")))
      .withColumn("c", sum($"o").over(Window.partitionBy($"segment")))
      .withColumn("n", sum($"o").over(Window.partitionBy(lit(1))))
      .crossJoin(broadcast(lvl))
    t.withColumn("dev", d38($"n") * d38($"o") - d38($"r") * d38($"c"))
      .withColumn("expected_micro",
        expr("CAST((CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)) * 1000000) div CAST(n AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("contrib_micro",
        expr("CAST((dev * dev * 1000000) div (CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS BIGINT)"))
      .withColumn("chi2_micro", sum($"contrib_micro").over(Window.partitionBy(lit(1))))
      .select($"priority", $"segment", $"o".as("observed"),
        $"expected_micro", $"contrib_micro", $"chi2_micro",
        (($"rr" - 1) * ($"cc" - 1)).cast("long").as("dof"),
        r6(sqrt($"chi2_micro".cast("double") / lit(1000000.0) /
          ($"n".cast("double") * least($"rr" - 1, $"cc" - 1)))).as("cramers_v"))
      .orderBy($"priority", $"segment")
  }

  val q258Sql: String =
    s"""WITH cells AS (
       |  SELECT o_orderpriority AS priority, c_mktsegment AS segment, count(*) AS o
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |lvl AS (
       |  SELECT count(DISTINCT priority) AS rr, count(DISTINCT segment) AS cc FROM cells),
       |t AS (
       |  SELECT priority, segment, o,
       |    sum(o) OVER (PARTITION BY priority) AS r,
       |    sum(o) OVER (PARTITION BY segment) AS c,
       |    sum(o) OVER () AS n
       |  FROM cells),
       |x AS (
       |  SELECT priority, segment, o, r, c, n, rr, cc,
       |    CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c AS dev
       |  FROM t CROSS JOIN lvl),
       |y AS (
       |  SELECT priority, segment, o, r, c, n, rr, cc,
       |    CAST((CAST(r AS HUGEINT) * c * 1000000) // CAST(n AS HUGEINT) AS BIGINT) AS expected_micro,
       |    CAST((dev * dev * 1000000) // (CAST(n AS HUGEINT) * r * c) AS BIGINT) AS contrib_micro
       |  FROM x)
       |SELECT priority, segment, CAST(o AS BIGINT) AS observed,
       |  expected_micro, contrib_micro,
       |  CAST(sum(contrib_micro) OVER () AS BIGINT) AS chi2_micro,
       |  CAST((rr - 1) * (cc - 1) AS BIGINT) AS dof,
       |  ${sqlR6("sqrt(CAST(sum(contrib_micro) OVER () AS DOUBLE) / 1000000.0 / (CAST(n AS DOUBLE) * least(rr - 1, cc - 1)))")} AS cramers_v
       |FROM y ORDER BY priority, segment""".stripMargin

  /** q317 — delete-one-group jackknife: the standard error of the
    * corpus mean document length under leave-one-SOURCE-out
    * resampling — the error bar that respects the clustered sampling
    * design (documents arrive by source; rows within a source are not
    * independent, so the naive SE is too small). Each leave-one-out
    * estimate is exact: θ₍ᵢ₎ = ((S − Sᵢ)·10⁶) div (n − nᵢ) on the
    * micro grid (truncating, stated); the jackknife variance
    * (g−1)/g · Σ(θ₍ᵢ₎ − θ̄)² is integer arithmetic over the g ≈ 20
    * per-source estimates, and the SE is ONE pinned sqrt at the end
    * (r6). Per-source rows expose the influence structure (which
    * source drags the mean); the global estimate and SE ride along as
    * constant columns from a broadcast 1-row summary.
    *
    * Scale shape: one groupBy(source) over the corpus (bounded
    * domain), then everything runs on g rows — the totals-minus-group
    * trick means NO second corpus pass per replicate (the whole point
    * of jackknife-by-groups at 100 TB: g replicates for one scan). */
  def q317(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("ni"), sum($"n_chars").as("si"))
      .transform(Fx.materialize)
    val tot = per.agg(sum($"ni").as("n"), sum($"si").as("s1"),
      count(lit(1)).as("g"))
    val loo = per.crossJoin(broadcast(tot))
      .withColumn("theta_loo_micro",
        expr("((cast(s1 as decimal(38,0)) - si) * 1000000) div (n - ni)"))
      .transform(Fx.materialize)
    val summ = loo.agg(max($"g").as("g"), max($"n").as("n"),
        max($"s1").as("s1"),
        sum($"theta_loo_micro").as("st"))
      .withColumn("theta_bar", expr("st div g"))
    val dev = loo.crossJoin(broadcast(summ.select($"theta_bar")))
      .agg(sum(expr(
        "(theta_loo_micro - theta_bar) * (theta_loo_micro - theta_bar)"))
        .as("ss"), max($"g").as("g2"))
      .withColumn("var_scaled", expr("((g2 - 1) * ss) div g2"))
    loo.select($"source", $"ni", $"theta_loo_micro")
      .crossJoin(broadcast(summ.select(
        expr("(cast(s1 as decimal(38,0)) * 1000000) div n")
          .as("theta_hat_micro"))))
      .crossJoin(broadcast(dev.select($"var_scaled")))
      .select($"source", $"ni", $"theta_loo_micro", $"theta_hat_micro",
        r6(sqrt($"var_scaled".cast("double"))).as("se_jack_micro"))
      .orderBy($"source")
  }

  val q317Sql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS ni,
       |    CAST(sum(n_chars) AS BIGINT) AS si
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
       |          CAST(sum(si) AS BIGINT) AS s1,
       |          CAST(count(*) AS BIGINT) AS g
       |        FROM per),
       |loo AS (
       |  SELECT source, ni,
       |    CAST(((CAST(s1 AS HUGEINT) - si) * 1000000) // (n - ni) AS BIGINT)
       |    AS theta_loo_micro
       |  FROM per CROSS JOIN tot),
       |summ AS (
       |  SELECT CAST(sum(theta_loo_micro) AS BIGINT) // max(g) AS theta_bar,
       |    max(g) AS g
       |  FROM loo CROSS JOIN tot),
       |dev AS (
       |  SELECT CAST(((max(summ.g) - 1) *
       |    sum((theta_loo_micro - theta_bar) * (theta_loo_micro - theta_bar)))
       |    // max(summ.g) AS BIGINT) AS var_scaled
       |  FROM loo CROSS JOIN summ)
       |SELECT source, ni, theta_loo_micro,
       |  CAST((CAST(tot.s1 AS HUGEINT) * 1000000) // tot.n AS BIGINT)
       |    AS theta_hat_micro,
       |  ${sqlR6("sqrt(CAST(var_scaled AS DOUBLE))")} AS se_jack_micro
       |FROM loo CROSS JOIN tot CROSS JOIN dev
       |ORDER BY source""".stripMargin

  /** q332 — t-closeness audit, completing the privacy triad with
    * q170 (k-anonymity) and q210 (l-diversity): a QI class can be
    * large AND diverse yet still leak — if its sensitive-attribute
    * distribution differs sharply from the global one, membership
    * itself reveals information. Per QI class (source, 50-char length
    * band), the total-variation distance (the categorical EMD of the
    * t-closeness paper) between the class's lang distribution and the
    * corpus's: TVD = ½ Σ_lang |p_class − p_global|, cross-multiplied
    * to |cnt_c·N − g_c·n| on DECIMAL(38,0)/HUGEINT so nothing divides
    * until one truncating micro division; flag classes with
    * TVD > t = 0.2. The class × lang grid is DENSIFIED (q283's
    * discipline) — a lang absent from a class is exactly the leak the
    * metric must see, not a dropped row.
    *
    * Scale shape: two bounded aggregates (class × lang cells, global
    * lang margins), a broadcast grid join, one rollup per class. */
  def q332(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"source", ($"n_chars" - pmod($"n_chars", lit(50))).as("len_band"),
        $"lang")
    val cells = docs.groupBy($"source", $"len_band", $"lang")
      .agg(count(lit(1)).as("c"))
    val classes = docs.groupBy($"source", $"len_band")
      .agg(count(lit(1)).as("n"))
    val global = docs.groupBy($"lang").agg(count(lit(1)).as("g"))
      .withColumnRenamed("lang", "__l")
    val tot = docs.agg(count(lit(1)).as("nn"))
    classes.crossJoin(broadcast(global)).crossJoin(broadcast(tot))
      .join(cells,
        cells("source") <=> classes("source") &&
          cells("len_band") <=> classes("len_band") &&
          cells("lang") === $"__l", "left")
      .select(classes("source"), classes("len_band"), $"n", $"nn", $"g",
        coalesce($"c", lit(0L)).as("c"))
      .withColumn("term", expr(
        "abs(cast(c as decimal(38,0)) * nn - cast(g as decimal(38,0)) * n)"))
      .groupBy($"source", $"len_band")
      .agg(max($"n").as("class_size"), sum($"term").as("s"), max($"nn").as("nn"))
      .select($"source", $"len_band", $"class_size",
        expr("(s * 1000000) div (2 * cast(class_size as decimal(38,0)) * nn)")
          .as("tvd_micro"))
      .withColumn("leaks", ($"tvd_micro" > 200000L).cast("int"))
      .orderBy($"source", $"len_band")
  }

  val q332Sql: String =
    """WITH d AS (
      |  SELECT source, n_chars - n_chars % 50 AS len_band, lang
      |  FROM documents),
      |cells AS (
      |  SELECT source, len_band, lang, CAST(count(*) AS BIGINT) AS c
      |  FROM d GROUP BY 1, 2, 3),
      |classes AS (
      |  SELECT source, len_band, CAST(count(*) AS BIGINT) AS n
      |  FROM d GROUP BY 1, 2),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS g FROM d GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
      |grid AS (
      |  SELECT cl.source, cl.len_band, cl.n, tot.nn, g.lang, g.g,
      |    COALESCE(c.c, 0) AS c
      |  FROM classes cl CROSS JOIN g CROSS JOIN tot
      |  LEFT JOIN cells c ON c.source = cl.source
      |    AND c.len_band = cl.len_band AND c.lang = g.lang),
      |tv AS (
      |  SELECT source, len_band, max(n) AS class_size, max(nn) AS nn,
      |    sum(abs(CAST(c AS HUGEINT) * nn - CAST(g AS HUGEINT) * n)) AS s
      |  FROM grid GROUP BY 1, 2)
      |SELECT source, len_band, class_size,
      |  CAST((s * 1000000) // (2 * CAST(class_size AS HUGEINT) * nn)
      |    AS BIGINT) AS tvd_micro,
      |  CAST(CAST((s * 1000000) // (2 * CAST(class_size AS HUGEINT) * nn)
      |    AS BIGINT) > 200000 AS INT) AS leaks
      |FROM tv ORDER BY source, len_band""".stripMargin

  /** q334 — Kruskal–Wallis omnibus test: do the 20 sources differ in
    * length distribution AT ALL — the one-number gate run BEFORE the
    * per-source drift lenses (q181/q254/q292/q301 say WHERE; this
    * says WHETHER, with one familywise α instead of 20). Midranks on
    * the pooled value grid are kept integer by DOUBLING
    * (R2(v) = 2·cumBefore + g_v + 1 — the q254 midrank discipline),
    * each source's H term is (3·R2_j²)/(n_j·N·(N+1)) as one
    * truncating micro division (per-source truncation stated,
    * identical both engines), and the tie-correction
    * C = 1 − Σ(t³−t)/(N³−N) rides DECIMAL(38,0)/HUGEINT. Verdict at
    * the pinned df=19 5% critical value 30.144.
    *
    * Scale shape: the corpus collapses to the value-domain grid once
    * (q181's shape); rank arithmetic, the per-source rollup and the
    * correction all run on grid/source-sized relations. */
  def q334(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d).select($"source", $"n_chars")
    val global = docs.groupBy($"n_chars").agg(count(lit(1)).as("g"))
      .withColumn("cum", sum($"g").over(Window.orderBy($"n_chars")))
      .withColumn("r2", lit(2L) * ($"cum" - $"g") + $"g" + 1L)
    val perSrc = docs.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
    val sizes = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val tot = docs.agg(count(lit(1)).as("nn"))
    val rsum = perSrc.join(global.select($"n_chars", $"r2"), "n_chars")
      .groupBy($"source").agg(sum($"c" * $"r2").as("r2j"))
    val terms = rsum.join(sizes, "source").crossJoin(broadcast(tot))
      .withColumn("term_micro", expr(
        """(3 * cast(r2j as decimal(38,0)) * r2j * 1000000)
           div (cast(n as decimal(38,0)) * nn * (nn + 1))"""))
    val h = terms.agg(sum($"term_micro").as("sum_terms"),
        count(lit(1)).as("k"), max($"nn").as("nn"))
      .withColumn("h_micro", $"sum_terms" - lit(3L) * ($"nn" + 1L) * 1000000L)
    val ties = global.agg(sum(expr(
        "cast(g as decimal(38,0)) * g * g - g")).as("st"))
    h.crossJoin(broadcast(ties))
      .withColumn("c_micro", expr(
        """1000000 - (st * 1000000)
           div (cast(nn as decimal(38,0)) * nn * nn - nn)"""))
      .select($"k", $"nn".as("n_total"), $"h_micro",
        $"c_micro",
        expr("(h_micro * 1000000) div c_micro").as("h_corrected_micro"))
      .withColumn("reject_5pct",
        ($"h_corrected_micro" > 30144000L).cast("int"))
  }

  val q334Sql: String =
    """WITH d AS (SELECT source, n_chars FROM documents),
      |g AS (
      |  SELECT n_chars, CAST(count(*) AS BIGINT) AS g,
      |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS cum
      |  FROM d GROUP BY n_chars),
      |r AS (SELECT n_chars, g, 2 * (cum - g) + g + 1 AS r2 FROM g),
      |ps AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      |       FROM d GROUP BY 1, 2),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
      |rs AS (
      |  SELECT ps.source, CAST(sum(ps.c * r.r2) AS BIGINT) AS r2j
      |  FROM ps JOIN r ON ps.n_chars = r.n_chars GROUP BY 1),
      |terms AS (
      |  SELECT rs.source,
      |    (3 * CAST(r2j AS HUGEINT) * r2j * 1000000)
      |      // (CAST(n AS HUGEINT) * nn * (nn + 1)) AS term_micro
      |  FROM rs JOIN sz ON rs.source = sz.source CROSS JOIN tot),
      |h AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(term_micro) AS HUGEINT)
      |      - 3 * (SELECT nn + 1 FROM tot) * 1000000 AS h_micro
      |  FROM terms),
      |tc AS (
      |  SELECT sum(CAST(g AS HUGEINT) * g * g - g) AS st FROM g)
      |SELECT h.k, tot.nn AS n_total,
      |  CAST(h.h_micro AS BIGINT) AS h_micro,
      |  CAST(1000000 - (tc.st * 1000000)
      |    // (CAST(tot.nn AS HUGEINT) * tot.nn * tot.nn - tot.nn)
      |    AS BIGINT) AS c_micro,
      |  CAST((h.h_micro * 1000000) //
      |    (1000000 - (tc.st * 1000000)
      |     // (CAST(tot.nn AS HUGEINT) * tot.nn * tot.nn - tot.nn))
      |    AS BIGINT) AS h_corrected_micro,
      |  CAST(CAST((h.h_micro * 1000000) //
      |    (1000000 - (tc.st * 1000000)
      |     // (CAST(tot.nn AS HUGEINT) * tot.nn * tot.nn - tot.nn))
      |    AS BIGINT) > 30144000 AS INT) AS reject_5pct
      |FROM h CROSS JOIN tc CROSS JOIN tot""".stripMargin

  /** q351 — Friedman blocked rank test: do the order priorities differ
    * in monthly revenue AFTER removing the month effect? q334 (Kruskal–
    * Wallis) pools all observations, so a seasonal trend every priority
    * shares inflates its between-group signal; Friedman ranks the k
    * priorities WITHIN each month block (the paired design — each month
    * is its own control) and asks whether the rank profile is stable.
    * Exact: the cell statistic is the month×priority revenue sum pushed
    * onto the integer cent grid (`floor(sum·100 + 0.5)` — grid-first,
    * the Fx.moneySum discipline), ranks are `row_number` with the
    * priority label as the stated tie-break (cent-grid ties across
    * DISTINCT priorities in the same month are measure-zero but the
    * order must still be total), incomplete blocks are dropped (the
    * standard complete-block requirement), and
    * Q = 12·ΣR_j²/(n·k·(k+1)) − 3·n·(k+1) is one truncating micro
    * division on DECIMAL(38,0)/HUGEINT. Verdict against the pinned
    * χ²(k−1) 5% critical value (df looked up 1..5 — data-driven k).
    *
    * Scale shape: the corpus collapses to the month×priority cell grid
    * in one aggregate; everything after (ranks, rank sums, Q) runs on
    * that ≤ months·k relation. */
  def q351(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cells = Tables.orders(s, d)
      .select(date_trunc("month", $"o_orderdate").as("mon"),
        $"o_orderpriority".as("priority"), $"o_totalprice")
      .groupBy($"mon", $"priority")
      .agg(floor(sum($"o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      .transform(graft.Fx.materialize) // k, complete-block filter, ranks
    val kdf = cells.select($"priority").distinct().agg(count(lit(1)).as("k"))
    val complete = cells.groupBy($"mon").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(kdf)).filter($"c" === $"k").select($"mon")
    val ranked = cells.join(complete, "mon")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"mon").orderBy($"cents", $"priority")))
    val rsum = ranked.groupBy($"priority")
      .agg(sum($"rk").as("rank_sum"), count(lit(1)).as("nb"))
    val stat = rsum.agg(
        sum(expr("cast(rank_sum as decimal(38,0)) * rank_sum")).as("s2"),
        max($"nb").as("n"), count(lit(1)).as("kk"))
      .withColumn("q_micro", expr(
        """(12 * s2 * 1000000)
           div (cast(n as decimal(38,0)) * kk * (kk + 1))""") -
        expr("3 * n * (kk + 1) * 1000000"))
      .withColumn("crit_micro", expr(
        """case kk - 1 when 1 then 3841459 when 2 then 5991465
           when 3 then 7814728 when 4 then 9487729
           else 11070498 end"""))
    rsum.crossJoin(broadcast(stat))
      .select($"priority", $"rank_sum", $"n".as("n_blocks"),
        $"q_micro",
        ($"q_micro" > $"crit_micro").cast("int").as("reject_5pct"))
      .orderBy($"priority")
  }

  val q351Sql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT date_trunc('month', o_orderdate) AS mon,
      |    o_orderpriority AS priority,
      |    CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |kk AS (SELECT CAST(count(DISTINCT priority) AS BIGINT) AS k FROM cells),
      |complete AS (
      |  SELECT mon FROM cells GROUP BY mon
      |  HAVING count(*) = (SELECT k FROM kk)),
      |ranked AS (
      |  SELECT c.priority,
      |    row_number() OVER (PARTITION BY c.mon ORDER BY c.cents, c.priority) AS rk
      |  FROM cells c JOIN complete USING (mon)),
      |rs AS (
      |  SELECT priority, CAST(sum(rk) AS BIGINT) AS rank_sum,
      |    CAST(count(*) AS BIGINT) AS nb
      |  FROM ranked GROUP BY 1),
      |st AS (
      |  SELECT sum(CAST(rank_sum AS HUGEINT) * rank_sum) AS s2,
      |    max(nb) AS n, CAST(count(*) AS BIGINT) AS kk2
      |  FROM rs),
      |q AS (
      |  SELECT n, kk2,
      |    CAST((12 * s2 * 1000000) // (CAST(n AS HUGEINT) * kk2 * (kk2 + 1))
      |      - 3 * CAST(n AS HUGEINT) * (kk2 + 1) * 1000000 AS BIGINT) AS q_micro,
      |    CASE kk2 - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465
      |      WHEN 3 THEN 7814728 WHEN 4 THEN 9487729
      |      ELSE 11070498 END AS crit_micro
      |  FROM st)
      |SELECT rs.priority, rs.rank_sum, q.n AS n_blocks, q.q_micro,
      |  CAST(q.q_micro > q.crit_micro AS INT) AS reject_5pct
      |FROM rs CROSS JOIN q ORDER BY rs.priority""".stripMargin

  /** q359 — Cochran–Armitage trend test: does the fulfilled-rate
    * (o_orderstatus = 'F') rise or fall MONOTONICALLY with the ordered
    * priority classes (scores w = 1..5 off the priority prefix)? The
    * ORDERED alternative the unordered battery can't ask: q258's χ²
    * spends k−1 df detecting ANY difference, q351/q334 rank whole
    * blocks; CA concentrates 1 df on the linear trend, the standard
    * dose-response test. Exact: with T = N·Σwr − R·Σwn and
    * V = N·Σnw² − (Σwn)², Z² = T²N²/(R(N−R)V); the 5% verdict avoids
    * both the overflow of 10⁴·T²·N² and any truncation-error
    * amplification via the division identity a·c > b ⟺ a > b div c
    * (integers, c > 0) — so the comparison 10⁴T²·N² > 38415·R(N−R)V
    * runs exactly inside DECIMAL(38,0)/HUGEINT at any SF. Z² itself is
    * reported as fixed-shape double arithmetic over the exact integers
    * (r6); degenerate tables (all/no successes, zero score variance)
    * degrade z2/verdict to NULL.
    *
    * Scale shape: one 5-row groupBy with map-side combine, one 1-row
    * moment rollup, broadcast back onto the 5-row report. */
  def q359(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = Tables.orders(s, d)
      .select($"o_orderpriority".as("priority"),
        substring($"o_orderpriority", 1, 1).cast("long").as("w"),
        ($"o_orderstatus" === "F").cast("long").as("f"))
      .groupBy($"priority", $"w")
      .agg(count(lit(1)).as("n"), sum($"f").as("r"))
    val tot = g.agg(sum($"n").as("nn"), sum($"r").as("rr"),
        sum(expr("cast(w as decimal(38,0)) * n")).as("swn"),
        sum(expr("cast(w as decimal(38,0)) * w * n")).as("swwn"),
        sum(expr("cast(w as decimal(38,0)) * r")).as("swr"))
      .select($"nn", $"rr",
        expr("cast(nn as decimal(38,0)) * swr - cast(rr as decimal(38,0)) * swn").as("t"),
        expr("cast(nn as decimal(38,0)) * swwn - swn * swn").as("v"))
      .select($"nn", $"rr", $"t", $"v",
        when($"rr" > 0 && $"rr" < $"nn" && $"v" > 0,
          r6(($"t".cast("double") * $"t".cast("double") *
              $"nn".cast("double") * $"nn".cast("double")) /
            ($"rr".cast("double") * ($"nn" - $"rr").cast("double") *
              $"v".cast("double")))).as("z2"),
        when($"rr" > 0 && $"rr" < $"nn" && $"v" > 0, expr(
          """cast(10000 * t * t >
               (38415 * cast(rr as decimal(38,0)) * (nn - rr) * v)
               div (cast(nn as decimal(38,0)) * nn) as int)"""))
          .as("reject_5pct"))
    g.crossJoin(broadcast(tot))
      .select($"priority", $"w", $"n".as("n_orders"), $"r".as("n_f"),
        expr("(cast(r as decimal(38,0)) * 1000000) div n").as("rate_micro"),
        $"z2", $"reject_5pct")
      .orderBy($"w")
  }

  val q359Sql: String = {
    val z2 = "CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(nn AS DOUBLE) * " +
      "CAST(nn AS DOUBLE) / (CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE) * CAST(v AS DOUBLE))"
    s"""WITH g AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS r
       |  FROM orders GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(r) AS HUGEINT) AS rr,
       |    CAST(sum(w * n) AS HUGEINT) AS swn,
       |    CAST(sum(w * w * n) AS HUGEINT) AS swwn,
       |    CAST(sum(w * r) AS HUGEINT) AS swr
       |  FROM g),
       |st AS (
       |  SELECT nn, rr, nn * swr - rr * swn AS t, nn * swwn - swn * swn AS v
       |  FROM tot),
       |fin AS (
       |  SELECT nn, rr, t, v,
       |    CASE WHEN rr > 0 AND rr < nn AND v > 0
       |      THEN ${graft.Fx.sqlR6(z2)} END AS z2,
       |    CASE WHEN rr > 0 AND rr < nn AND v > 0
       |      THEN CAST(10000 * t * t >
       |        (38415 * rr * (nn - rr) * v) // (nn * nn) AS INT) END AS reject_5pct
       |  FROM st)
       |SELECT g.priority, g.w, g.n AS n_orders, g.r AS n_f,
       |  CAST((CAST(g.r AS HUGEINT) * 1000000) // g.n AS BIGINT) AS rate_micro,
       |  fin.z2, fin.reject_5pct
       |FROM g CROSS JOIN fin ORDER BY g.w""".stripMargin
  }

  /** q373 — Levene's test (median-centered, i.e. Brown–Forsythe): do
    * the five priority classes have the same revenue SPREAD? The
    * homogeneity-of-variance gate that licenses pooled-variance
    * methods — q334/q351/q359 all compare LOCATION; none asks whether
    * the spread differs, and a location test passed under unequal
    * variances can be an artifact. W is the one-way ANOVA F on
    * z = |y − median_g|: with Z_g = Σz per class, A = Σ_g Z_g²/n_g
    * (per-class floor division, quotients summed in DECIMAL — the
    * q364 overflow discipline), B = Σz², C = Z²/N,
    * W = (N−k)(A−C) / ((k−1)(B−A)) — one truncating micro division —
    * and the 5% verdict uses the pinned large-sample F(k−1, ∞) =
    * χ²/(k−1) critical values (denominator df is ~N here, stated).
    * The class median is the stated LOWER median (first value whose
    * within-class cumulative count reaches ⌈n_g/2⌉), selected on the
    * collapsed value grid identically in both engines.
    *
    * Scale shape: collapse to the (class, cents) grid; medians via a
    * class-partitioned cumulative window over that COLLAPSED grid
    * (q334's discipline); one |y−med| pass with map-side combine;
    * scalar arithmetic after. */
  def q373(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val y = Tables.orders(s, d)
      .select($"o_orderpriority".as("g"),
        floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("v"))
      .transform(graft.Fx.materialize) // grid collapse AND deviation pass
    val grid = y.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy($"g").orderBy($"v")
    val med = grid
      .withColumn("cum", sum($"c").over(wcum))
      .withColumn("n", sum($"c").over(Window.partitionBy($"g")))
      .filter($"cum" >= expr("(n + 1) div 2"))
      .groupBy($"g").agg(min($"v").as("med"))
    val z = y.join(broadcast(med), "g").select($"g", abs($"v" - $"med").as("z"))
    val per = z.groupBy($"g").agg(count(lit(1)).as("ng"), sum($"z").as("zg"),
        sum(expr("cast(z as decimal(38,0)) * z")).as("zz"))
    per.agg(count(lit(1)).as("k"), sum($"ng").as("nn"), sum($"zg").as("ztot"),
        sum(expr(
          "cast((cast(zg as decimal(38,0)) * zg) div ng as decimal(38,0))"))
          .as("a"),
        sum($"zz").as("b"))
      .select($"k", $"nn",
        expr("a - (cast(ztot as decimal(38,0)) * ztot) div nn").as("ssb"),
        expr("b - a").as("ssw"))
      .select($"k", $"nn".as("n_total"),
        when($"ssw" > 0, expr(
          """((nn - k) * ssb * 1000000) div ((k - 1) * ssw)"""))
          .as("w_micro"),
        expr("""case k - 1 when 1 then 38415 when 2 then 29957
                when 3 then 26049 when 4 then 23719 else 22141 end""")
          .as("crit_e4"))
      .withColumn("reject_5pct",
        when($"w_micro".isNotNull,
          ($"w_micro" > $"crit_e4" * 100L).cast("int")))
  }

  val q373Sql: String =
    """WITH y AS MATERIALIZED (
      |  SELECT o_orderpriority AS g,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |grid AS (
      |  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM y GROUP BY g, v),
      |med AS (
      |  SELECT g, min(v) AS med FROM (
      |    SELECT g, v,
      |      sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
      |      sum(c) OVER (PARTITION BY g) AS n
      |    FROM grid) t
      |  WHERE cum >= (n + 1) // 2 GROUP BY g),
      |z AS (
      |  SELECT y.g, abs(y.v - med.med) AS z
      |  FROM y JOIN med ON y.g = med.g),
      |per AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS ng, CAST(sum(z) AS BIGINT) AS zg,
      |    sum(CAST(z AS HUGEINT) * z) AS zz
      |  FROM z GROUP BY g),
      |tot AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k, CAST(sum(ng) AS HUGEINT) AS nn,
      |    CAST(sum(zg) AS HUGEINT) AS ztot,
      |    CAST(sum((CAST(zg AS HUGEINT) * zg) // ng) AS HUGEINT) AS a,
      |    CAST(sum(zz) AS HUGEINT) AS b
      |  FROM per),
      |fin AS (
      |  SELECT k, nn, a - (ztot * ztot) // nn AS ssb, b - a AS ssw FROM tot)
      |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n_total,
      |  CASE WHEN ssw > 0 THEN
      |    CAST(((nn - k) * ssb * 1000000) // ((k - 1) * ssw) AS BIGINT)
      |  END AS w_micro,
      |  CASE k - 1 WHEN 1 THEN 38415 WHEN 2 THEN 29957 WHEN 3 THEN 26049
      |    WHEN 4 THEN 23719 ELSE 22141 END AS crit_e4,
      |  CASE WHEN ssw > 0 THEN
      |    CAST(CAST(((nn - k) * ssb * 1000000) // ((k - 1) * ssw) AS BIGINT)
      |      > (CASE k - 1 WHEN 1 THEN 38415 WHEN 2 THEN 29957
      |         WHEN 3 THEN 26049 WHEN 4 THEN 23719 ELSE 22141 END) * 100
      |      AS INT)
      |  END AS reject_5pct
      |FROM fin""".stripMargin

  /** q374 — Jonckheere–Terpstra ordered trend test for a CONTINUOUS
    * outcome: does order revenue shift monotonically across the
    * priority ordering 1..5? Completes the trend family — q359
    * handles an ordered BINARY outcome, q334 unordered location,
    * q351 blocked ranks; JT pools the Mann–Whitney counts of every
    * ordered class pair, concentrating power on the monotone
    * alternative. Exact: on the dense class×value grid, the DOUBLED
    * statistic JT2 = Σ_v Σ_{i<j} c_j(v)·(2·below_i(v) + c_i(v))
    * (q254's doubling absorbs tie-halves as integers) and the null
    * moments μ2 = (N² − Σn²)/2, 72·σ² = N²(2N+3) − Σn²(2n+3)
    * (untied-variance form, stated — revenue cents make ties rare)
    * are all DECIMAL(38,0) integers; z = (JT2 − μ2)/(2√(var72/72))
    * is fixed-shape double arithmetic (one sqrt, r6) and the 5%
    * verdict is one-sided each way at 1.645 → 'increasing' /
    * 'decreasing' / 'none'.
    *
    * Scale shape: one collapse to the (class, cents) grid; the dense
    * grid is |values|×k; cumulative-below is a class-partitioned
    * window over that COLLAPSED grid; the pair join fans each value
    * row to ≤ k(k−1)/2 pairs. */
  def q374(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val y = Tables.orders(s, d)
      .select(substring($"o_orderpriority", 1, 1).cast("long").as("w"),
        floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("v"))
      .transform(graft.Fx.materialize) // grid AND group sizes
    val cnt = y.groupBy($"w", $"v").agg(count(lit(1)).as("c"))
    val dense = y.select($"v").distinct()
      .crossJoin(broadcast(y.select($"w").distinct()))
      .join(cnt, Seq("w", "v"), "left_outer")
      .select($"w", $"v", coalesce($"c", lit(0L)).as("c"))
      .withColumn("below",
        sum($"c").over(Window.partitionBy($"w").orderBy($"v")) - $"c")
      .transform(graft.Fx.materialize) // both sides of the pair join
    val jt2 = dense.as("i").join(dense.as("j"),
        $"i.v" === $"j.v" && $"i.w" < $"j.w")
      .agg(sum(($"j.c".cast("decimal(38,0)") *
        (lit(2L) * $"i.below" + $"i.c"))).as("jt2"))
    val mom = y.groupBy($"w").agg(count(lit(1)).as("n"))
      .agg(sum($"n").as("nn"),
        sum(expr("cast(n as decimal(38,0)) * n")).as("sn2"),
        sum(expr("cast(n as decimal(38,0)) * n * (2 * n + 3)")).as("sn23"))
      .select($"nn",
        expr("(cast(nn as decimal(38,0)) * nn - sn2) div 2").as("mu2"),
        expr("""cast(nn as decimal(38,0)) * nn * (2 * nn + 3) - sn23""")
          .as("var72"))
    jt2.crossJoin(broadcast(mom))
      .select($"nn".as("n_total"), $"jt2".cast("long").as("jt2"),
        $"mu2".cast("long").as("mu2"),
        when($"var72" > 0, graft.Fx.r6(
          ($"jt2" - $"mu2").cast("double") /
            (lit(2.0) * sqrt($"var72".cast("double") / 72.0)))).as("z"))
      .withColumn("trend_5pct",
        when($"z".isNull, lit(null).cast("string"))
          .otherwise(when($"z" > 1.645, lit("increasing"))
            .otherwise(when($"z" < -1.645, lit("decreasing"))
              .otherwise(lit("none")))))
  }

  val q374Sql: String = {
    val z = "CAST(jt2 - mu2 AS DOUBLE) / (2.0 * sqrt(CAST(var72 AS DOUBLE) / 72.0))"
    s"""WITH y AS MATERIALIZED (
       |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
       |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
       |  FROM orders),
       |cnt AS (
       |  SELECT w, v, CAST(count(*) AS BIGINT) AS c FROM y GROUP BY w, v),
       |dense AS MATERIALIZED (
       |  SELECT g.w, vv.v, COALESCE(cnt.c, 0) AS c,
       |    sum(COALESCE(cnt.c, 0)) OVER (PARTITION BY g.w ORDER BY vv.v)
       |      - COALESCE(cnt.c, 0) AS below
       |  FROM (SELECT DISTINCT v FROM y) vv
       |  CROSS JOIN (SELECT DISTINCT w FROM y) g
       |  LEFT JOIN cnt ON cnt.w = g.w AND cnt.v = vv.v),
       |jt AS (
       |  SELECT CAST(sum(CAST(j.c AS HUGEINT) * (2 * i.below + i.c)) AS HUGEINT)
       |    AS jt2
       |  FROM dense i JOIN dense j ON i.v = j.v AND i.w < j.w),
       |mom AS (
       |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
       |    CAST((CAST(sum(n) AS HUGEINT) * sum(n)
       |      - sum(CAST(n AS HUGEINT) * n)) // 2 AS HUGEINT) AS mu2,
       |    CAST(sum(n) AS HUGEINT) * sum(n) * (2 * sum(n) + 3)
       |      - sum(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS var72
       |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS n FROM y GROUP BY w) t)
       |SELECT CAST(nn AS BIGINT) AS n_total, CAST(jt2 AS BIGINT) AS jt2,
       |  CAST(mu2 AS BIGINT) AS mu2,
       |  CASE WHEN var72 > 0 THEN ${graft.Fx.sqlR6(z)} END AS z,
       |  CASE WHEN var72 > 0 THEN
       |    CASE WHEN ${graft.Fx.sqlR6(z)} > 1.645 THEN 'increasing'
       |         WHEN ${graft.Fx.sqlR6(z)} < -1.645 THEN 'decreasing'
       |         ELSE 'none' END
       |  END AS trend_5pct
       |FROM jt CROSS JOIN mom""".stripMargin
  }

  /** q389 — Goodman–Kruskal lambda, both directions: by what fraction
    * does knowing one categorical column reduce the ERROR of guessing
    * the other (modal prediction)? λ_{Y|X} = (Σ_x max_y n_xy −
    * max_y n_y)/(N − max_y n_y) — the proportional-reduction-in-error
    * measure that answers the PREDICTIVE question q258's χ²/Cramér's V
    * (association strength) does not: a strongly associated pair can
    * still have λ = 0 when every row shares the same modal class, and
    * λ is asymmetric where V is not. Computed for priority→status and
    * status→priority over orders. Exact: all counts integers; modal
    * maxima are exact; λ is one truncating micro division; a
    * degenerate margin (max = N) degrades to NULL.
    *
    * Scale shape: one collapse to the 5×3 contingency grid; both
    * directions read off that one tiny relation. */
  def q389(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ct = Tables.orders(s, d)
      .groupBy($"o_orderpriority".as("x"), $"o_orderstatus".as("y"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Fx.materialize) // both directions
    def lambda(label: String, key: String, other: String): DataFrame = {
      val rowMax = ct.groupBy(col(key))
        .agg(max($"n").as("mx")).agg(sum($"mx").as("summax"))
      val margMax = ct.groupBy(col(other))
        .agg(sum($"n").as("m")).agg(max($"m").as("basemax"))
      val tot = ct.agg(sum($"n").as("nn"))
      rowMax.crossJoin(broadcast(margMax)).crossJoin(broadcast(tot))
        .select(lit(label).as("direction"), $"nn".as("n_orders"),
          $"basemax", $"summax",
          when($"nn" > $"basemax", expr(
            "((summax - basemax) * 1000000) div (nn - basemax)"))
            .as("lambda_micro"))
    }
    lambda("priority->status", "x", "y")
      .unionByName(lambda("status->priority", "y", "x"))
      .orderBy($"direction")
  }

  val q389Sql: String = {
    def lam(label: String, key: String, other: String): String =
      s"""SELECT '$label' AS direction,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM ct) AS n_orders,
         |  (SELECT CAST(max(m) AS BIGINT) FROM
         |     (SELECT sum(n) AS m FROM ct GROUP BY $other) t) AS basemax,
         |  (SELECT CAST(sum(mx) AS BIGINT) FROM
         |     (SELECT max(n) AS mx FROM ct GROUP BY $key) t) AS summax,
         |  CASE WHEN (SELECT sum(n) FROM ct) >
         |    (SELECT max(m) FROM (SELECT sum(n) AS m FROM ct GROUP BY $other) t)
         |  THEN CAST((((SELECT sum(mx) FROM
         |      (SELECT max(n) AS mx FROM ct GROUP BY $key) t)
         |    - (SELECT max(m) FROM (SELECT sum(n) AS m FROM ct GROUP BY $other) t))
         |    * 1000000)
         |    // ((SELECT sum(n) FROM ct)
         |    - (SELECT max(m) FROM (SELECT sum(n) AS m FROM ct GROUP BY $other) t))
         |    AS BIGINT)
         |  END AS lambda_micro""".stripMargin
    s"""WITH ct AS MATERIALIZED (
       |  SELECT o_orderpriority AS x, o_orderstatus AS y,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1, 2)
       |${lam("priority->status", "x", "y")}
       |UNION ALL
       |${lam("status->priority", "y", "x")}
       |ORDER BY direction""".stripMargin
  }

  /** q384 — Cronbach's alpha over the user×event-type count matrix:
    * treating the five event types as ITEMS of an "engagement scale"
    * and each user's per-type counts as item scores, α = k/(k−1) ·
    * (1 − Σσ²ᵢ/σ²_T) asks whether the types move together across
    * users (one underlying engagement trait) or independently (a
    * composite "activity score" would be meaningless) — the
    * internal-consistency gate any composite metric should pass
    * before it ships. Exact: the dense user×type grid zero-fills
    * absent cells (a user with no errors scores 0, not missing);
    * per-item and total-score n-scaled variances are DECIMAL(38,0)
    * forms over the SAME user population, so the n-scaling cancels
    * and α is one truncating micro division; zero total variance
    * degrades to NULL.
    *
    * Scale shape: one (user, type) collapse; the dense grid is
    * users × k with k bounded; two aggregates and scalar math. */
  def q384(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val cnt = ev.groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
    val grid = ev.select($"user_id").distinct()
      .crossJoin(broadcast(ev.select($"event_type").distinct()))
      .join(cnt, Seq("user_id", "event_type"), "left_outer")
      .select($"user_id", $"event_type", coalesce($"c", lit(0L)).as("x"))
      .transform(graft.Fx.materialize) // item variances AND total variance
    val items = grid.groupBy($"event_type")
      .agg(count(lit(1)).as("u"), sum($"x").as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .select(expr("u * sxx - cast(sx as decimal(38,0)) * sx").as("vi"))
      .agg(count(lit(1)).as("k"), sum($"vi").as("svi"))
    val tot = grid.groupBy($"user_id").agg(sum($"x").as("t"))
      .agg(count(lit(1)).as("u"), sum($"t").as("st"),
        sum(expr("cast(t as decimal(38,0)) * t")).as("stt"))
      .select($"u", expr("u * stt - cast(st as decimal(38,0)) * st").as("vt"))
    items.crossJoin(broadcast(tot))
      .select($"k", $"u".as("n_users"),
        when($"vt" > 0, expr(
          "(k * (vt - svi) * 1000000) div ((k - 1) * vt)"))
          .as("alpha_micro"))
  }

  val q384Sql: String =
    """WITH cnt AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT u.user_id, t.event_type, COALESCE(cnt.c, 0) AS x
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      |  LEFT JOIN cnt ON cnt.user_id = u.user_id
      |    AND cnt.event_type = t.event_type),
      |items AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS k, CAST(sum(vi) AS HUGEINT) AS svi
      |  FROM (
      |    SELECT CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
      |      - CAST(sum(x) AS HUGEINT) * sum(x) AS vi
      |    FROM grid GROUP BY event_type) g),
      |tot AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS u,
      |    CAST(count(*) AS HUGEINT) * sum(CAST(t AS HUGEINT) * t)
      |      - CAST(sum(t) AS HUGEINT) * sum(t) AS vt
      |  FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS t
      |        FROM grid GROUP BY user_id) s)
      |SELECT CAST(items.k AS BIGINT) AS k, CAST(tot.u AS BIGINT) AS n_users,
      |  CASE WHEN tot.vt > 0 THEN
      |    CAST((items.k * (tot.vt - items.svi) * 1000000)
      |      // ((items.k - 1) * tot.vt) AS BIGINT)
      |  END AS alpha_micro
      |FROM items CROSS JOIN tot""".stripMargin

  /** q400 — Page's trend test (Page 1963): in the brand × ship-year
    * blocked design, is brand revenue MONOTONICALLY trending across
    * years? The ordered-alternative member of the blocked-rank family:
    * q351 (Friedman) asks "do the treatments differ at all" with
    * unordered priorities; Page orders the treatments (years,
    * chronologically) and weights their rank sums by position —
    * L = Σⱼ j·Rⱼ — so a consistent drift that Friedman dilutes across
    * k−1 df concentrates into one trend statistic (the blocked twin of
    * q393's Mann–Kendall, which has no blocks). Exact: cells are
    * cent-grid revenue sums, within-block ranks are `row_number` with
    * the year as stated tie-break, incomplete blocks drop (q351's
    * complete-block rule), L and its null moments E[L] = n·k·(k+1)²/4,
    * Var[L] = n·k²·(k+1)·(k²−1)/144 are exact integers, and z is one
    * IEEE sqrt + division over them, r6-rounded.
    *
    * Scale shape: corpus → brand×year cell grid in one aggregate;
    * ranks ride a window over the ≤ brands·years grid; the verdict is
    * a broadcast scalar. */
  def q400(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .select($"l_partkey", year($"l_shipdate").cast("long").as("yr"),
        $"l_extendedprice")
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"), $"yr")
      .agg(floor(sum($"l_extendedprice") * 100 + lit(0.5)).cast("long").as("cents"))
      .transform(graft.Fx.materialize) // k, complete blocks, ranks
    val kdf = cells.select($"yr").distinct().agg(count(lit(1)).as("k"))
    val complete = cells.groupBy($"brand").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(kdf)).filter($"c" === $"k").select($"brand")
    val ranked = cells.join(complete, "brand")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"brand").orderBy($"cents", $"yr")).cast("long"))
    val yearIdx = Window.orderBy($"yr")
    val rsum = ranked.groupBy($"yr")
      .agg(sum($"rk").as("rank_sum"), count(lit(1)).as("nb"))
      .withColumn("j", row_number().over(yearIdx).cast("long"))
    val stat = rsum.agg(
        sum($"j" * $"rank_sum").as("l_stat"),
        max($"nb").as("n"), count(lit(1)).as("kk"))
      .withColumn("e_l", expr("n * kk * (kk + 1) * (kk + 1)") / lit(4.0))
      .withColumn("var_l",
        expr("cast(n as decimal(38,0)) * kk * kk * (kk + 1) * (kk * kk - 1)")
          .cast("double") / lit(144.0))
      .select($"l_stat", $"n", $"kk",
        r6(($"l_stat".cast("double") - $"e_l") / sqrt($"var_l")).as("z"))
    rsum.crossJoin(broadcast(stat))
      .select($"yr", $"j", $"rank_sum", $"n".as("n_blocks"),
        $"l_stat", $"z")
      .orderBy($"yr")
  }

  val q400Sql: String = {
    import graft.Fx.sqlR6
    s"""WITH cells AS MATERIALIZED (
       |  SELECT p.p_brand AS brand, CAST(year(l.l_shipdate) AS BIGINT) AS yr,
       |    CAST(floor(sum(l.l_extendedprice) * 100 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY 1, 2),
       |kk AS (SELECT CAST(count(DISTINCT yr) AS BIGINT) AS k FROM cells),
       |complete AS (
       |  SELECT brand FROM cells GROUP BY brand
       |  HAVING count(*) = (SELECT k FROM kk)),
       |ranked AS (
       |  SELECT c.brand, c.yr, row_number() OVER (
       |      PARTITION BY c.brand ORDER BY c.cents, c.yr) AS rk
       |  FROM cells c JOIN complete USING (brand)),
       |rsum AS (
       |  SELECT yr, CAST(sum(rk) AS BIGINT) AS rank_sum,
       |    CAST(count(*) AS BIGINT) AS nb,
       |    CAST(row_number() OVER (ORDER BY yr) AS BIGINT) AS j
       |  FROM ranked GROUP BY yr),
       |stat AS (
       |  SELECT CAST(sum(j * rank_sum) AS BIGINT) AS l_stat,
       |    CAST(max(nb) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS kk
       |  FROM rsum),
       |z AS (
       |  SELECT l_stat, n, kk,
       |    ${sqlR6("(CAST(l_stat AS DOUBLE) - " +
           "CAST(n * kk * (kk + 1) * (kk + 1) AS DOUBLE) / 4.0) / " +
           "sqrt(CAST(CAST(n AS HUGEINT) * kk * kk * (kk + 1) * (kk * kk - 1) " +
           "AS DOUBLE) / 144.0)")} AS z
       |  FROM stat)
       |SELECT r.yr, r.j, r.rank_sum, z.n AS n_blocks, z.l_stat, z.z
       |FROM rsum r CROSS JOIN z ORDER BY r.yr""".stripMargin
  }

  /** q406 — Cochran's Q test: do the k event types differ in their
    * WEEKLY REACH — the probability that an active user-week contains
    * at least one event of the type? The binary-outcome member of the
    * blocked-design family: q351 (Friedman) ranks continuous cell
    * values within blocks, q349 (McNemar) is the k = 2 special case
    * on paired flips; Cochran's Q generalizes McNemar to k matched
    * treatments on a 0/1 response. Blocks are ACTIVE user-weeks
    * (user × Monday-truncated week with ≥ 1 event of any type — the
    * matched panel), treatment j's response x_bj = 1 iff the block
    * contains an event of type j. Exact end-to-end: with column
    * totals C_j, block totals R_b and T = ΣC_j, the identity
    * Q = (k−1)·(k·ΣC_j² − T²)/(k·T − ΣR_b²) is all-integer;
    * q_micro is one truncating DECIMAL(38,0)/HUGEINT division
    * (saturated and empty blocks cancel in both sums, so keeping
    * them is the standard semantics). Verdict against the pinned
    * χ²(k−1) 5% critical value, k data-driven (q351's case table).
    *
    * Scale shape: one distinct-triple aggregate collapses the corpus
    * to (user, week, type) presence cells; block totals and column
    * totals are two more hash aggregates over that; the statistic is
    * a 1-row rollup cross-joined back (broadcast). Nothing holds
    * per-user state on the driver and nothing is quadratic. */
  def q406(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, d)
      .select($"user_id", date_trunc("week", $"ts").as("wk"),
        $"event_type".as("etype"))
      .distinct()
      .transform(Fx.materialize)
    val rows = cells.groupBy($"user_id", $"wk")
      .agg(count(lit(1)).as("rb"))
    val cols = cells.groupBy($"etype").agg(count(lit(1)).as("cj"))
    val rowAgg = rows.agg(
      sum(expr("cast(rb as decimal(38,0)) * rb")).as("sr2"),
      count(lit(1)).as("nb"))
    val colAgg = cols.agg(
      sum(expr("cast(cj as decimal(38,0)) * cj")).as("sc2"),
      sum($"cj").as("t"), count(lit(1)).as("kk"))
    val stat = colAgg.crossJoin(broadcast(rowAgg))
      .withColumn("q_micro", expr(
        """cast(((kk - 1) * (kk * sc2 - cast(t as decimal(38,0)) * t) * 1000000)
           div (kk * cast(t as decimal(38,0)) - sr2) as bigint)"""))
      .withColumn("crit_micro", expr(
        """case kk - 1 when 1 then 3841459 when 2 then 5991465
           when 3 then 7814728 when 4 then 9487729
           else 11070498 end"""))
    cols.crossJoin(broadcast(stat))
      .select($"etype", $"cj".as("c_weeks"), $"nb".as("n_blocks"),
        $"q_micro",
        ($"q_micro" > $"crit_micro").cast("int").as("reject_5pct"))
      .orderBy($"etype")
  }

  val q406Sql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk,
      |    event_type AS etype
      |  FROM events),
      |rws AS (
      |  SELECT user_id, wk, CAST(count(*) AS BIGINT) AS rb
      |  FROM cells GROUP BY 1, 2),
      |cls AS (
      |  SELECT etype, CAST(count(*) AS BIGINT) AS cj FROM cells GROUP BY 1),
      |ra AS (
      |  SELECT sum(CAST(rb AS HUGEINT) * rb) AS sr2,
      |    CAST(count(*) AS BIGINT) AS nb FROM rws),
      |ca AS (
      |  SELECT sum(CAST(cj AS HUGEINT) * cj) AS sc2,
      |    CAST(sum(cj) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS kk
      |  FROM cls),
      |st AS (
      |  SELECT nb,
      |    CAST(((kk - 1) * (kk * sc2 - CAST(t AS HUGEINT) * t) * 1000000)
      |      // (kk * CAST(t AS HUGEINT) - sr2) AS BIGINT) AS q_micro,
      |    CASE kk - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465
      |      WHEN 3 THEN 7814728 WHEN 4 THEN 9487729
      |      ELSE 11070498 END AS crit_micro
      |  FROM ca CROSS JOIN ra)
      |SELECT cls.etype, cls.cj AS c_weeks, st.nb AS n_blocks, st.q_micro,
      |  CAST(st.q_micro > st.crit_micro AS INT) AS reject_5pct
      |FROM cls CROSS JOIN st ORDER BY cls.etype""".stripMargin

  /** q411 — Benjamini–Hochberg FDR control over the per-brand
    * return-rate family: each brand's returned-line share is z-tested
    * against the pooled rate, and the 25 p-values are corrected
    * JOINTLY — the multiple-comparisons discipline the whole test
    * battery (q258/q268/q334/q351…) leaves to the reader: screening
    * 25 brands at per-test α=0.05 expects a false alarm; BH bounds the
    * FALSE DISCOVERY RATE by stepping up through sorted p-values until
    * p_(i) > α·i/m (α = 0.10 stated). Determinism: z clears all
    * denominators to integers (I = x_b·N − n_b·X over
    * √(n_b·X·(N−X)), exact counts) before ONE division; the p-value
    * is the Abramowitz–Stegun 7.1.26 erfc polynomial (max error
    * 1.5e-7 — stated as the semantic, shared 9-digit literals, Horner
    * order, one exp) so both engines branch on bit-identical doubles;
    * the step-up rank walk happens on the 25-row brand grid. The
    * uncorrected verdict ships alongside as `naive_reject` — the
    * pairs where they differ are exactly the alarms BH suppressed.
    *
    * Scale shape: one scan collapses to per-brand counts (map-side
    * combine); totals broadcast back; ranks/step-up are windows over
    * the value-domain-bounded brand relation. */
  def q411(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"))
      .agg(count(lit(1)).as("nb"),
        sum(($"l_returnflag" === "R").cast("long")).as("xb"))
      .transform(Fx.materialize)
    val tot = per.agg(sum($"nb").as("n"), sum($"xb").as("x"),
      count(lit(1)).as("m"))
    val withP = per.crossJoin(broadcast(tot))
      .withColumn("zv", expr("cast(xb * n - nb * x as double)") /
        sqrt(expr("cast(cast(nb as decimal(38,0)) * x * (n - x) as double)")))
      .withColumn("xa", abs($"zv") / lit(1.4142135623730951))
      .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.3275911) * $"xa"))
      .withColumn("p", $"t" * (lit(0.254829592) + $"t" * (lit(-0.284496736)
        + $"t" * (lit(1.421413741) + $"t" * (lit(-1.453152027)
        + $"t" * lit(1.061405429))))) * exp(-$"xa" * $"xa"))
    val ranked = withP
      .withColumn("i", row_number().over(Window.orderBy($"p", $"brand"))
        .cast("long"))
      .withColumn("thr",
        lit(0.1) * $"i".cast("double") / $"m".cast("double"))
    val kmax = ranked
      .withColumn("kmax", coalesce(
        max(when($"p" <= $"thr", $"i")).over(
          Window.partitionBy(lit(1))), lit(0L)))
    kmax.select($"brand", $"nb".as("n_lines"), $"xb".as("n_returned"),
        r6($"zv").as("z"), r6($"p").as("p_value"), $"i".as("p_rank"),
        ($"i" <= $"kmax").cast("int").as("bh_reject"),
        ($"p" <= lit(0.1)).cast("int").as("naive_reject"))
      .orderBy($"brand")
  }

  val q411Sql: String = {
    val horner = "t * (0.254829592 + t * (-0.284496736 + t * " +
      "(1.421413741 + t * (-1.453152027 + t * 1.061405429))))"
    s"""WITH per AS MATERIALIZED (
       |  SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS xb
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(nb) AS BIGINT) AS n, CAST(sum(xb) AS BIGINT) AS x,
       |    CAST(count(*) AS BIGINT) AS m
       |  FROM per),
       |z AS (
       |  SELECT brand, nb, xb, m,
       |    CAST(xb * n - nb * x AS DOUBLE)
       |      / sqrt(CAST(CAST(nb AS HUGEINT) * x * (n - x) AS DOUBLE)) AS zv
       |  FROM per CROSS JOIN tot),
       |tp AS (
       |  SELECT brand, nb, xb, m, zv,
       |    1.0 / (1.0 + 0.3275911 * (abs(zv) / 1.4142135623730951)) AS t,
       |    abs(zv) / 1.4142135623730951 AS xa
       |  FROM z),
       |pv AS (
       |  SELECT brand, nb, xb, m, zv,
       |    $horner * exp(-xa * xa) AS p
       |  FROM tp),
       |rk AS (
       |  SELECT brand, nb, xb, zv, p,
       |    CAST(row_number() OVER (ORDER BY p, brand) AS BIGINT) AS i,
       |    0.1 * CAST(row_number() OVER (ORDER BY p, brand) AS DOUBLE)
       |      / CAST(m AS DOUBLE) AS thr
       |  FROM pv),
       |km AS (
       |  SELECT COALESCE(max(CASE WHEN p <= thr THEN i END), 0) AS kmax
       |  FROM rk)
       |SELECT brand, nb AS n_lines, xb AS n_returned,
       |  ${sqlR6("zv")} AS z, ${sqlR6("p")} AS p_value, i AS p_rank,
       |  CAST(i <= kmax AS INT) AS bh_reject,
       |  CAST(p <= 0.1 AS INT) AS naive_reject
       |FROM rk CROSS JOIN km ORDER BY brand""".stripMargin
  }

  /** q434 — Cochran–Mantel–Haenszel pooled odds ratio of high
    * discount (> 0.05) → return ('R'), stratified by order month:
    * the ANSWER to q362's Simpson's-paradox audit (q362 detects the
    * reversal; CMH pools the per-stratum 2×2 tables so the
    * confounder — month mix — cannot flip the sign).
    * OR_MH = Σaᵢdᵢ/nᵢ / Σbᵢcᵢ/nᵢ with each term a stated micro
    * truncation; the CMH test compares Σaᵢ against its conditional
    * expectation with the classic ±0.5 continuity correction, exact
    * integer dev and variance terms (Vᵢ = ⌊r₁r₂c₁c₂/(nᵢ²(nᵢ−1))⌋,
    * DECIMAL-exact for nᵢ up to ~10⁹ rows per stratum, stated), one
    * final double division against the pinned χ²(1) 3.841459. Each
    * month row carries its own 2×2 plus the shared pooled verdict
    * (the q281 cell convention).
    *
    * Scale shape: one lineitem⋈orders scan collapses to the bounded
    * month grid of 2×2 cells; everything after is grid arithmetic. */
  def q434(s: SparkSession, d: String): DataFrame = {
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
      .transform(Fx.materialize) // rows + pooled rollup
    val pooled = cells
      .filter($"n" > 1L)
      .agg(
        sum(expr("(cast(a as decimal(38,0)) * d * 1000000) div n")).as("s_ad"),
        sum(expr("(cast(b as decimal(38,0)) * c * 1000000) div n")).as("s_bc"),
        sum(expr("a * 1000000 - (cast(a + b as decimal(38,0)) * (a + c) * 1000000) div n"))
          .as("dev"),
        sum(expr("""(cast(a + b as decimal(38,0)) * (c + d) * (a + c) * (b + d))
                    div (cast(n as decimal(38,0)) * n * (n - 1))""")).as("sv"))
      .select(
        when($"s_bc" > 0,
          expr("cast((s_ad * 1000000) div s_bc as bigint)"))
          .as("or_mh_micro"),
        when($"sv" > 0, r6(
          pow(abs($"dev".cast("double")) / lit(1000000.0) - lit(0.5), lit(2.0)) /
            $"sv".cast("double"))).as("cmh_chi2"),
        when($"sv" > 0,
          (pow(abs($"dev".cast("double")) / lit(1000000.0) - lit(0.5), lit(2.0)) /
            $"sv".cast("double") > lit(3.841459)).cast("int"))
          .as("reject_5pct"))
    cells.crossJoin(broadcast(pooled))
      .select($"mk", $"a", $"b", $"c", $"d",
        $"or_mh_micro", $"cmh_chi2", $"reject_5pct")
      .orderBy($"mk")
  }

  val q434Sql: String =
    s"""WITH cells AS MATERIALIZED (
       |  SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mk,
       |    CAST(sum(CASE WHEN l.l_discount > 0.05 AND l.l_returnflag = 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN l.l_discount > 0.05 AND l.l_returnflag <> 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN l.l_discount <= 0.05 AND l.l_returnflag = 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN l.l_discount <= 0.05 AND l.l_returnflag <> 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1),
       |cn AS (SELECT *, a + b + c + d AS n FROM cells),
       |pooled AS (
       |  SELECT
       |    sum((CAST(a AS HUGEINT) * d * 1000000) // n) AS s_ad,
       |    sum((CAST(b AS HUGEINT) * c * 1000000) // n) AS s_bc,
       |    sum(a * 1000000 - (CAST(a + b AS HUGEINT) * (a + c) * 1000000) // n)
       |      AS dev,
       |    sum((CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d))
       |      // (CAST(n AS HUGEINT) * n * (n - 1))) AS sv
       |  FROM cn WHERE n > 1),
       |ver AS (
       |  SELECT
       |    CASE WHEN s_bc > 0
       |      THEN CAST((s_ad * 1000000) // s_bc AS BIGINT) END AS or_mh_micro,
       |    CASE WHEN sv > 0 THEN ${Fx.sqlR6(
      "pow(abs(CAST(dev AS DOUBLE)) / 1000000.0 - 0.5, 2.0) / CAST(sv AS DOUBLE)")}
       |      END AS cmh_chi2,
       |    CASE WHEN sv > 0 THEN CAST(
       |      pow(abs(CAST(dev AS DOUBLE)) / 1000000.0 - 0.5, 2.0)
       |        / CAST(sv AS DOUBLE) > 3.841459 AS INT) END AS reject_5pct
       |  FROM pooled)
       |SELECT cn.mk, cn.a, cn.b, cn.c, cn.d,
       |  ver.or_mh_micro, ver.cmh_chi2, ver.reject_5pct
       |FROM cn CROSS JOIN ver
       |ORDER BY cn.mk""".stripMargin

  /** q440 — population stability index (PSI) of line-item price cents,
    * first calendar month (reference) vs last (current): the industry
    * drift scorecard the battery lacked — q181/q292/q301 TEST whether
    * distributions differ (p-values collapse to "yes" at scale);
    * PSI = Σ(pᵢ−qᵢ)·ln(pᵢ/qᵢ) SIZES the shift against the fielded
    * 0.1/0.25 action bands, which is what model-monitoring runbooks
    * actually gate on. Bins are the reference month's own deciles
    * (edge_k = min cents with 10·cum ≥ k·n — the integer-rank
    * convention, q209's p25 rule), binning is 9 integer comparisons,
    * shares are +1-smoothed stated micro truncations (zero bins never
    * hit ln), and the 10-term PSI pivots bins to scalars (q372's
    * discipline — never a float SUM over rows) into one fixed ln tree,
    * r6. Each bin row carries its shares plus the shared verdict.
    *
    * Scale shape: two month scans collapse to (cents, count) grids;
    * edges are 9 bounded-window selections; bins are a 10-cell
    * rollup. */
  def q440(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select((year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long")
          .as("mk"),
        floor($"l_extendedprice" * 100).cast("long").as("cents"))
      .transform(Fx.materialize) // bounds + both month slices
    val mks = li.agg(min($"mk").as("mk0"), max($"mk").as("mk1"))
    val ref = li.crossJoin(broadcast(mks)).filter($"mk" === $"mk0")
      .select($"cents").transform(Fx.materialize) // edges + binning
    val cur = li.crossJoin(broadcast(mks)).filter($"mk" === $"mk1")
      .select($"cents")
    val wCents = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = ref.groupBy($"cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(wCents))
      .crossJoin(broadcast(ref.agg(count(lit(1)).as("n"))))
    val edgeCols = (1 to 9).map(k =>
      min(when($"cum" * 10 >= $"n" * k, $"cents")).as(s"e$k"))
    val edges = grid.agg(edgeCols.head, edgeCols.tail: _*)
    def binCol = (1 to 9).map(k => ($"cents" > col(s"e$k")).cast("long"))
      .reduce(_ + _)
    def binned(side: DataFrame, nm: String): DataFrame =
      side.crossJoin(broadcast(edges))
        .groupBy(binCol.as("bin")).agg(count(lit(1)).as(nm))
    val bins = s.range(10).toDF("bin")
      .join(binned(ref, "ref_n"), Seq("bin"), "left")
      .join(binned(cur, "cur_n"), Seq("bin"), "left")
      .select($"bin", coalesce($"ref_n", lit(0L)).as("ref_n"),
        coalesce($"cur_n", lit(0L)).as("cur_n"))
      .crossJoin(broadcast(ref.agg(count(lit(1)).as("nr"))))
      .crossJoin(broadcast(cur.agg(count(lit(1)).as("nc"))))
      .select($"bin", $"ref_n", $"cur_n",
        expr("((ref_n + 1) * 1000000) div (nr + 10)").as("p_micro"),
        expr("((cur_n + 1) * 1000000) div (nc + 10)").as("q_micro"))
      .transform(Fx.materialize) // rows + pivot
    val pivCols = (0 until 10).flatMap(i => Seq(
      max(when($"bin" === i, $"p_micro")).as(s"p$i"),
      max(when($"bin" === i, $"q_micro")).as(s"q$i")))
    val piv = bins.agg(pivCols.head, pivCols.tail: _*)
    val psi = piv.select(
      r6((0 until 10).map { i =>
        (col(s"p$i") - col(s"q$i")).cast("double") / lit(1000000.0) *
          log(col(s"p$i").cast("double") / col(s"q$i").cast("double"))
      }.reduce(_ + _)).as("psi"))
      .select($"psi",
        when($"psi" > 0.25, 2).when($"psi" > 0.1, 1).otherwise(0)
          .as("shift_band"))
    bins.crossJoin(broadcast(psi))
      .select($"bin", $"ref_n", $"cur_n", $"p_micro", $"q_micro",
        $"psi", $"shift_band")
      .orderBy($"bin")
  }

  val q440Sql: String = {
    val psiTree = (0 until 10).map { i =>
      s"(CAST(p$i - q$i AS DOUBLE) / 1000000.0 * ln(CAST(p$i AS DOUBLE) / CAST(q$i AS DOUBLE)))"
    }.mkString(" + ")
    val pivCols = (0 until 10).flatMap(i => Seq(
      s"max(CASE WHEN bin = $i THEN p_micro END) AS p$i",
      s"max(CASE WHEN bin = $i THEN q_micro END) AS q$i")).mkString(", ")
    s"""WITH li AS MATERIALIZED (
       |  SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mk,
       |    CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |mks AS (SELECT min(mk) AS mk0, max(mk) AS mk1 FROM li),
       |ref AS MATERIALIZED (
       |  SELECT cents FROM li CROSS JOIN mks WHERE mk = mk0),
       |cur AS MATERIALIZED (
       |  SELECT cents FROM li CROSS JOIN mks WHERE mk = mk1),
       |grid AS (
       |  SELECT cents, count(*) AS cnt,
       |    sum(count(*)) OVER (ORDER BY cents
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM ref GROUP BY cents),
       |edges AS MATERIALIZED (
       |  SELECT ${(1 to 9).map(k =>
      s"min(CASE WHEN cum * 10 >= (SELECT count(*) FROM ref) * $k THEN cents END) AS e$k")
      .mkString(", ")}
       |  FROM grid),
       |binned AS MATERIALIZED (
       |  SELECT b.bin,
       |    COALESCE(r.c, 0) AS ref_n, COALESCE(c2.c, 0) AS cur_n
       |  FROM (SELECT unnest(generate_series(0, 9)) AS bin) b
       |  LEFT JOIN (
       |    SELECT ${(1 to 9).map(k => s"CAST(cents > e$k AS BIGINT)").mkString(" + ")} AS bin,
       |      CAST(count(*) AS BIGINT) AS c
       |    FROM ref CROSS JOIN edges GROUP BY 1) r ON r.bin = b.bin
       |  LEFT JOIN (
       |    SELECT ${(1 to 9).map(k => s"CAST(cents > e$k AS BIGINT)").mkString(" + ")} AS bin,
       |      CAST(count(*) AS BIGINT) AS c
       |    FROM cur CROSS JOIN edges GROUP BY 1) c2 ON c2.bin = b.bin),
       |shares AS MATERIALIZED (
       |  SELECT bin, ref_n, cur_n,
       |    ((ref_n + 1) * 1000000) // ((SELECT count(*) FROM ref) + 10)
       |      AS p_micro,
       |    ((cur_n + 1) * 1000000) // ((SELECT count(*) FROM cur) + 10)
       |      AS q_micro
       |  FROM binned),
       |piv AS (SELECT $pivCols FROM shares),
       |psi AS (
       |  SELECT ${Fx.sqlR6(psiTree)} AS psi FROM piv),
       |ver AS (
       |  SELECT psi, CASE WHEN psi > 0.25 THEN 2 WHEN psi > 0.1 THEN 1
       |    ELSE 0 END AS shift_band
       |  FROM psi)
       |SELECT s.bin, s.ref_n, s.cur_n, s.p_micro, s.q_micro,
       |  ver.psi, ver.shift_band
       |FROM shares s CROSS JOIN ver
       |ORDER BY s.bin""".stripMargin
  }

  /** q435 — randomized-response telemetry (Warner's local-DP
    * mechanism, the COLLECTION pipeline): each user's sensitive bit
    * (made a purchase) is reported TRUTHFULLY with probability 3/4
    * and FLIPPED with probability 1/4 — here decided by the md5 grid
    * (deterministic, the q281 assignment discipline), so the whole
    * mechanism is replayable — then the aggregate debiases the
    * observed rate: p̂ = (p_obs − q)/(1 − 2q) = 2·p_obs − 1/2 at
    * q = 1/4. The point of the operator pair (perturb, debias) is
    * that the TRUE rate is never needed row-wise downstream; emitting
    * truth beside estimate here prices the mechanism's error on real
    * data — the k-anon/l-div battery (q170/q210) audits what a table
    * LEAKS, this is the other half: collect so it never leaks. Exact:
    * flips and counts are integers, rates stated micro truncations,
    * the debias is integer arithmetic clamped to [0, 10⁶] (stated).
    *
    * Scale shape: one groupBy user_id, one 1-row rollup. */
  def q435(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bits = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(($"event_type" === "purchase").cast("long")).as("t"))
      .withColumn("flip",
        ((Fx.md5Prefix(concat($"user_id".cast("string"), lit("#rr")), 8) % 4) === 0).cast("long"))
      .withColumn("reported",
        ($"t" + $"flip") % 2) // XOR on 0/1 longs
    bits.agg(count(lit(1)).as("n_users"),
        sum($"t").as("true_n"), sum($"flip").as("n_flipped"),
        sum($"reported").as("obs_n"))
      .withColumn("true_micro", expr("(true_n * 1000000) div n_users"))
      .withColumn("obs_micro", expr("(obs_n * 1000000) div n_users"))
      .withColumn("debiased_micro",
        greatest(lit(0L), least(lit(1000000L),
          lit(2L) * $"obs_micro" - lit(500000L))))
      .select($"n_users", $"n_flipped", $"true_micro", $"obs_micro",
        $"debiased_micro",
        abs($"debiased_micro" - $"true_micro").as("abs_err_micro"))
  }

  val q435Sql: String =
    """WITH bits AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS t,
      |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#rr'), 1, 8))::BIGINT % 4 = 0
      |      THEN 1 ELSE 0 END AS flip
      |  FROM events GROUP BY user_id),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(t) AS BIGINT) AS true_n,
      |    CAST(sum(flip) AS BIGINT) AS n_flipped,
      |    CAST(sum((t + flip) % 2) AS BIGINT) AS obs_n
      |  FROM bits),
      |r AS (
      |  SELECT *, (true_n * 1000000) // n_users AS true_micro,
      |    (obs_n * 1000000) // n_users AS obs_micro
      |  FROM agg)
      |SELECT n_users, n_flipped, true_micro, obs_micro,
      |  greatest(0, least(1000000, 2 * obs_micro - 500000)) AS debiased_micro,
      |  abs(greatest(0, least(1000000, 2 * obs_micro - 500000)) - true_micro)
      |    AS abs_err_micro
      |FROM r""".stripMargin

  // ------------------------------------------------------------------
  // q458 — disparate-impact (80% rule) fairness audit by segment
  // ------------------------------------------------------------------

  /** q458 — disparate-impact audit of a selection rule across customer
    * segments: "selected" = the account ever placed a high-value
    * order (> 300k), groups = market segments, and each group's
    * selection rate is compared to the BEST group's as the
    * four-fifths (80%) rule ratio — the standard first-pass fairness
    * screen (US EEOC guideline) run before shipping any
    * customer-facing eligibility model; the same shape audits a
    * training-data selection filter for per-source / per-language
    * skew. Distinct from q268 (two-proportion z on one A/B pair —
    * significance of a difference) and q362 (Simpson's aggregation
    * reversal): this is the group-vs-reference RATIO table with the
    * regulatory threshold flag. All integer: rates and ratios are
    * truncating micro-divisions of exact counts; the reference group
    * maximizes (rate, name) — cross-multiplied comparison via the
    * micro rate, name tie-break, so the audit is deterministic.
    *
    * Scale shape: one orders→customer semi-join marks selected
    * accounts, one groupBy on the bounded segment domain; the
    * reference row is a 1-row broadcast. */
  def q458(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val selected = Tables.orders(s, d)
      .filter($"o_totalprice" > 300000.0)
      .select($"o_custkey").distinct()
    val groups = Tables.customer(s, d)
      .join(selected, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_mktsegment".as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when($"o_custkey".isNotNull, 1L).otherwise(0L)).as("sel"))
      .withColumn("rate_micro", expr("(sel * 1000000) div n"))
    val ref = groups
      .orderBy($"rate_micro".desc, $"segment")
      .limit(1)
      .select($"segment".as("ref_segment"), $"sel".as("ref_sel"),
        $"n".as("ref_n"))
    groups.crossJoin(broadcast(ref))
      .select($"segment", $"n", $"sel", $"rate_micro", $"ref_segment",
        expr("(sel * ref_n * 1000000) div (n * ref_sel)").as("di_micro"))
      .withColumn("below_four_fifths", ($"di_micro" < 800000L).cast("int"))
      .orderBy($"segment")
  }

  val q458Sql: String =
    """WITH selected AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000),
      |groups AS (
      |  SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS sel
      |  FROM customer LEFT JOIN selected ON c_custkey = o_custkey
      |  GROUP BY 1),
      |g2 AS (SELECT *, (sel * 1000000) // n AS rate_micro FROM groups),
      |ref AS (
      |  SELECT segment AS ref_segment, sel AS ref_sel, n AS ref_n
      |  FROM g2 ORDER BY rate_micro DESC, segment LIMIT 1)
      |SELECT segment, n, sel, rate_micro, ref_segment,
      |  (sel * ref_n * 1000000) // (n * ref_sel) AS di_micro,
      |  CASE WHEN (sel * ref_n * 1000000) // (n * ref_sel) < 800000
      |    THEN 1 ELSE 0 END AS below_four_fifths
      |FROM g2 CROSS JOIN ref ORDER BY segment""".stripMargin

  // ------------------------------------------------------------------
  // q550 — disparate-impact (four-fifths) audit of quality selection
  // ------------------------------------------------------------------

  /** q550 — disparate-impact audit of the corpus-curation selection
    * rule: treating "qualityMicro ≥ 500000 keeps the document for
    * training" as the decision and language as the protected
    * attribute, report each language's selection rate, its impact
    * ratio against the highest-rate group, and the EEOC four-fifths
    * flag — the fairness readout the curation battery lacks (q300's
    * funnel counts what was dropped, q527 audits SPLIT balance; no
    * query asks whether the quality gate itself systematically
    * disfavors a language — on this corpus it does: the stopword
    * feature in the score is English-only). Exactness: counts exact;
    * the reference group is selected by the stated 10⁻¹²-grid rate
    * with the lang tie-break; the impact ratio is the EXACT
    * cross-multiplied (sel_l·n_ref·10⁶) div (n_l·sel_ref) — never a
    * ratio of truncated rates; the four-fifths verdict is the pure
    * integer comparison 5·sel_l·n_ref < 4·sel_ref·n_l (DECIMAL(38,0)
    * headroom); zero-selection reference → NULL ratios (stated).
    * Scale shape: one scan → 5-row lang grid; windows over that grid
    * only. */
  def q550(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rates = Tables.documents(s, d)
      .select($"lang",
        (graft.functions.TextAnalysis.qualityMicro($"text") >= 500000L)
          .cast("long").as("sel"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"sel").as("n_selected"))
      .transform(Fx.materialize)
    val ref = rates
      .orderBy(expr(
        "(cast(n_selected as decimal(38,0)) * 1000000000000) div n_docs")
        .desc, $"lang")
      .limit(1)
      .select($"lang".as("rl"), $"n_selected".as("rs"), $"n_docs".as("rn"))
    rates.crossJoin(broadcast(ref))
      .select($"lang", $"n_docs", $"n_selected",
        expr("(n_selected * 1000000) div n_docs").as("rate_micro"),
        $"rl".as("ref_lang"),
        expr("""cast((cast(n_selected as decimal(38,0)) * rn * 1000000)
             div nullif(cast(n_docs as decimal(38,0)) * rs, 0)
             as bigint)""").as("impact_micro"),
        expr("""cast(case when 5 * cast(n_selected as decimal(38,0)) * rn
             < 4 * cast(rs as decimal(38,0)) * n_docs
             then 1 else 0 end as bigint)""").as("fails_four_fifths"))
      .orderBy($"lang")
  }

  val q550Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH rates AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN ($quality) >= 500000 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_selected
       |  FROM documents GROUP BY lang),
       |ref AS (
       |  SELECT n_selected AS rs, n_docs AS rn, lang AS rl
       |  FROM rates
       |  ORDER BY (CAST(n_selected AS HUGEINT) * 1000000000000) // n_docs
       |    DESC, lang LIMIT 1)
       |SELECT lang, n_docs, n_selected,
       |  (n_selected * 1000000) // n_docs AS rate_micro,
       |  rl AS ref_lang,
       |  CAST((CAST(n_selected AS HUGEINT) * rn * 1000000)
       |    // nullif(CAST(n_docs AS HUGEINT) * rs, 0) AS BIGINT)
       |    AS impact_micro,
       |  CAST(CASE WHEN 5 * CAST(n_selected AS HUGEINT) * rn
       |    < 4 * CAST(rs AS HUGEINT) * n_docs
       |    THEN 1 ELSE 0 END AS BIGINT) AS fails_four_fifths
       |FROM rates CROSS JOIN ref ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------------------
  // q553 — composed-pipeline retention fairness (four-fifths on the
  // kept TRAINING set after all gates compose)
  // ------------------------------------------------------------------

  /** q553 — the end-to-end counterpart of [[q550]]: q550 audits ONE
    * gate (quality) in isolation; this query asks whether the kept
    * TRAINING set still represents each language fairly after the
    * whole curation pipeline COMPOSES — exact dedup (keep the
    * smallest doc_id per md5(text) group, the q50 rule) → quality
    * gate (qualityMicro ≥ 500000, the q550 rule) → train/eval split
    * (md5(doc_id∥"#split") mod 10 ≠ 0 keeps train, the q142-family
    * hash rule). Per language: the retention waterfall (n_raw →
    * n_dedup → n_quality → n_train), the raw vs train corpus SHARES,
    * and the representation ratio share_train/share_raw as the EXACT
    * cross-multiplied (n_train·tot_raw·10⁶) div (n_raw·tot_train)
    * with the four-fifths verdict 5·n_train·tot_raw < 4·n_raw·tot_train
    * — gates that look individually fair can compose unfairly when
    * duplication, quality, and language correlate. Exactness: counts
    * exact; DECIMAL(38,0)/HUGEINT widening on every cross-product
    * (corpus-count × corpus-count × 10⁶ overflows BIGINT at ~10⁶
    * docs per side); empty train total → NULL ratios (stated).
    * Scale shape: one dedup-digest window pass over the scan, then a
    * 5-row language grid; the share windows sit on that grid only. */
  def q553(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = Tables.documents(s, d)
      .select($"doc_id", $"lang",
        ($"doc_id" === min($"doc_id").over(
          Window.partitionBy(md5_fast($"text")))).cast("long").as("keep_dedup"),
        (graft.functions.TextAnalysis.qualityMicro($"text") >= 500000L)
          .cast("long").as("keep_quality"),
        (pmod(Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#split")), 8),
          lit(10L)) =!= 0L)
          .cast("long").as("in_train"))
    staged.groupBy($"lang")
      .agg(count(lit(1)).as("n_raw"),
        sum($"keep_dedup").as("n_dedup"),
        sum($"keep_dedup" * $"keep_quality").as("n_quality"),
        sum($"keep_dedup" * $"keep_quality" * $"in_train").as("n_train"))
      .withColumn("tot_raw", sum($"n_raw").over())
      .withColumn("tot_train", sum($"n_train").over())
      .select($"lang", $"n_raw", $"n_dedup", $"n_quality", $"n_train",
        expr("cast((cast(n_raw as decimal(38,0)) * 1000000) div tot_raw" +
          " as bigint)").as("share_raw_micro"),
        expr("cast((cast(n_train as decimal(38,0)) * 1000000)" +
          " div nullif(tot_train, 0) as bigint)").as("share_train_micro"),
        expr("""cast((cast(n_train as decimal(38,0)) * tot_raw * 1000000)
             div nullif(cast(n_raw as decimal(38,0)) * tot_train, 0)
             as bigint)""").as("repr_micro"),
        expr("""cast(case when tot_train = 0 then null
             when 5 * cast(n_train as decimal(38,0)) * tot_raw
                < 4 * cast(n_raw as decimal(38,0)) * tot_train
             then 1 else 0 end as bigint)""").as("fails_four_fifths"))
      .orderBy($"lang")
  }

  val q553Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH staged AS (
       |  SELECT lang,
       |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text))
       |      THEN 1 ELSE 0 END AS keep_dedup,
       |    CASE WHEN ($quality) >= 500000 THEN 1 ELSE 0 END AS keep_quality,
       |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |        || '#split'), 1, 8))::BIGINT % 10 <> 0
       |      THEN 1 ELSE 0 END AS in_train
       |  FROM documents),
       |g AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_raw,
       |    CAST(sum(keep_dedup) AS BIGINT) AS n_dedup,
       |    CAST(sum(keep_dedup * keep_quality) AS BIGINT) AS n_quality,
       |    CAST(sum(keep_dedup * keep_quality * in_train) AS BIGINT)
       |      AS n_train
       |  FROM staged GROUP BY lang),
       |t AS (
       |  SELECT *, CAST(sum(n_raw) OVER () AS HUGEINT) AS tot_raw,
       |    CAST(sum(n_train) OVER () AS HUGEINT) AS tot_train
       |  FROM g)
       |SELECT lang, n_raw, n_dedup, n_quality, n_train,
       |  CAST((CAST(n_raw AS HUGEINT) * 1000000) // tot_raw AS BIGINT)
       |    AS share_raw_micro,
       |  CAST((CAST(n_train AS HUGEINT) * 1000000) // nullif(tot_train, 0)
       |    AS BIGINT) AS share_train_micro,
       |  CAST((CAST(n_train AS HUGEINT) * tot_raw * 1000000)
       |    // nullif(CAST(n_raw AS HUGEINT) * tot_train, 0) AS BIGINT)
       |    AS repr_micro,
       |  CAST(CASE WHEN tot_train = 0 THEN NULL
       |    WHEN 5 * CAST(n_train AS HUGEINT) * tot_raw
       |       < 4 * CAST(n_raw AS HUGEINT) * tot_train
       |    THEN 1 ELSE 0 END AS BIGINT) AS fails_four_fifths
       |FROM t ORDER BY lang""".stripMargin
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef("q553_pipeline_fairness", q553, Some(q553Sql)),
    QueryDef("q550_disparate_impact", q550, Some(q550Sql)),
    QueryDef("q411_bh_fdr", q411, Some(q411Sql)),
    QueryDef("q406_cochran_q", q406, Some(q406Sql)),
    QueryDef("q400_page_trend", q400, Some(q400Sql)),
    QueryDef("q359_cochran_armitage", q359, Some(q359Sql)),
    QueryDef("q373_levene_bf", q373, Some(q373Sql)),
    QueryDef("q374_jonckheere", q374, Some(q374Sql)),
    QueryDef("q384_cronbach_alpha", q384, Some(q384Sql)),
    QueryDef("q389_gk_lambda", q389, Some(q389Sql)),
    QueryDef("q351_friedman_test", q351, Some(q351Sql)),
    QueryDef("q334_kruskal_wallis", q334, Some(q334Sql)),
    QueryDef("q332_t_closeness", q332, Some(q332Sql)),
    QueryDef("q317_jackknife_se", q317, Some(q317Sql)),
    QueryDef("q434_cmh_pooled_odds", q434, Some(q434Sql)),
    QueryDef("q440_psi_drift", q440, Some(q440Sql)),
    QueryDef("q435_randomized_response", q435, Some(q435Sql)),
    QueryDef("q258_chi2_cramers_v", q258, Some(q258Sql)),
    QueryDef("q244_subject_access_report", q244, Some(q244Sql)),
    QueryDef("q227_winsorized_stats", q227, Some(q227Sql)),
    QueryDef("q222_cohen_kappa", q222, Some(q222Sql)),
    QueryDef("q210_l_diversity", q210, Some(q210Sql)),
    QueryDef("q214_segment_gini", q214, Some(q214Sql), bench = true),
    QueryDef("q169_json_schema_read", q169, Some(q169Sql)),
    QueryDef("q192_fanout_profile", q192, Some(q192Sql)),
    QueryDef("q181_ks_drift", q181, Some(q181Sql), bench = true),
    QueryDef("q292_cvm_drift", q292, Some(q292Sql)),
    QueryDef("q301_wasserstein_drift", q301, Some(q301Sql)),
    QueryDef("q308_drift_leaderboard", q308, Some(q308Sql)),
    QueryDef("q254_mann_whitney_drift", q254, Some(q254Sql)),
    QueryDef("q182_benford_audit", q182, Some(q182Sql)),
    QueryDef("q458_disparate_impact", q458, Some(q458Sql)),
    QueryDef("q170_k_anonymity", q170, Some(q170Sql)),
    QueryDef("q171_equidepth_hist", q171, Some(q171Sql)),
    QueryDef("q175_sliding_window_agg", q175, Some(q175Sql), bench = true),
    QueryDef("q176_merkle_buckets", q176, Some(q176Sql)),
    QueryDef("q179_dq_constraints", q179, Some(q179Sql)))
}
