package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation as a DataFrame LOOP (the pattern for
  * fixed-point algorithms when GraphX's Pregel is more machinery than
  * the job needs): damped PageRank, 2 iterations, over the
  * same-language adjacent-id chain graph of `documents`.
  *
  * Cross-engine determinism for iterative double math: every per-edge
  * contribution and every new rank is re-rounded onto the 1e-6 grid
  * (`Fx.r6`) BEFORE the next step consumes it. Per-node in-degree here
  * is ≤ 2, so grid-value sums stay exact in doubles and both engines
  * walk identical numbers through every iteration — un-rounded
  * iteration would accumulate engine-specific ulps that compound.
  *
  * 100 TB shape: each iteration is one join (ranks ⋈ edges, both
  * hash-partitioned by node id) + one aggregation — the same
  * partitioning reused every round; no driver-side state.
  */
object GraphQueries {
  import Fx._

  private val damp = 0.85
  private val iters = 2

  def q91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val und = docs.select($"doc_id".as("a"), $"lang")
      .join(docs.select(($"doc_id" - 1).as("a"), $"doc_id".as("b"), $"lang".as("lang_b")),
        Seq("a"))
      .filter($"lang" === $"lang_b")
      .select($"a", $"b")
    val edges = und.union(und.select($"b".as("a"), $"a".as("b"))).cache()
    val deg = edges.groupBy($"a".as("id")).agg(count(lit(1)).as("d"))
    val nDocs = docs.count().toDouble
    var rank = docs.select($"doc_id".as("id"), r6(lit(1.0) / nDocs).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(rank.withColumnRenamed("id", "a"), "a")
        .join(deg.withColumnRenamed("id", "a"), "a")
        .select($"b".as("id"), r6($"rank" / $"d").as("contrib"))
        .groupBy($"id").agg(sum($"contrib").as("c"))
      rank = docs.select($"doc_id".as("id"))
        .join(contrib, Seq("id"), "left_outer")
        .select($"id",
          r6(lit(0.15) / nDocs + lit(damp) * coalesce($"c", lit(0.0))).as("rank"))
    }
    rank.orderBy($"id")
  }

  val q91Sql: String =
    """WITH und AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
      |edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |deg AS (SELECT a AS id, count(*) AS d FROM edges GROUP BY a),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM documents),
      |r0 AS (SELECT doc_id AS id, floor(1.0 / cnt * 1000000 + 0.5) / 1000000 AS rank
      |       FROM documents CROSS JOIN n),
      |c1 AS (SELECT e.b AS id, sum(floor(r0.rank / deg.d * 1000000 + 0.5) / 1000000) AS c
      |       FROM edges e JOIN r0 ON e.a = r0.id JOIN deg ON deg.id = e.a GROUP BY e.b),
      |r1 AS (SELECT d.doc_id AS id,
      |         floor((0.15 / cnt + 0.85 * coalesce(c1.c, 0)) * 1000000 + 0.5) / 1000000 AS rank
      |       FROM documents d CROSS JOIN n LEFT JOIN c1 ON c1.id = d.doc_id),
      |c2 AS (SELECT e.b AS id, sum(floor(r1.rank / deg.d * 1000000 + 0.5) / 1000000) AS c
      |       FROM edges e JOIN r1 ON e.a = r1.id JOIN deg ON deg.id = e.a GROUP BY e.b),
      |r2 AS (SELECT d.doc_id AS id,
      |         floor((0.15 / cnt + 0.85 * coalesce(c2.c, 0)) * 1000000 + 0.5) / 1000000 AS rank
      |       FROM documents d CROSS JOIN n LEFT JOIN c2 ON c2.id = d.doc_id)
      |SELECT id, rank FROM r2 ORDER BY id""".stripMargin

  /** q418 — HITS hubs & authorities on the customer→brand purchase
    * bipartite graph (Kleinberg): authority(brand) = Σ hub(customer)
    * over its buyers, hub(customer) = Σ authority(brand) over their
    * brands, two full mutually-reinforcing rounds with max-
    * normalization per half-step — the DUAL-score ranking q91's
    * PageRank (one score, one directed chain) cannot express: round 1
    * makes authority ∝ degree, round 2 already separates brands whose
    * buyers are themselves broad hubs from equally-popular brands
    * with narrow buyers. Exact end-to-end: scores live on the integer
    * micro grid, every contribution sum is an exact BIGINT aggregate
    * (order-free — the float-PageRank regrid trick is not needed),
    * each normalization is one stated truncation (score·10⁶ div max);
    * the oracle unrolls the identical two rounds as CTEs (the q91
    * fixed-iteration precedent). At 100 TB the raw sums stay within
    * DECIMAL(38,0) by construction (≤ 10⁶·|customers| per brand).
    *
    * Scale shape: one orders⋈lineitem equi-join builds distinct
    * (customer, brand) edges; each half-step is one groupBy on the
    * edge partitioning plus a broadcast 1-row max — no driver state,
    * rounds fixed at 2. */
  def q418(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.orders(s, d)
      .select($"o_custkey".as("u"), $"o_orderkey".as("ok"))
      .join(Tables.lineitem(s, d).select($"l_orderkey".as("ok"), $"l_partkey"),
        "ok")
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"u", $"p_brand".as("b")).distinct()
      .transform(graft.Fx.materialize)
    val aRaw1 = e.groupBy($"b").agg((count(lit(1)) * 1000000L).as("ar"))
    val a1 = aRaw1.crossJoin(broadcast(aRaw1.agg(max($"ar").as("am"))))
      .select($"b", expr("(cast(ar as decimal(38,0)) * 1000000) div am")
        .as("a"))
    val hRaw1 = e.join(a1, "b").groupBy($"u").agg(sum($"a").as("hr"))
    val h1 = hRaw1.crossJoin(broadcast(hRaw1.agg(max($"hr").as("hm"))))
      .select($"u", expr("(cast(hr as decimal(38,0)) * 1000000) div hm")
        .as("h"))
    val aRaw2 = e.join(h1, "u").groupBy($"b").agg(sum($"h").as("ar2"),
      count(lit(1)).as("n_buyers"))
    aRaw2.crossJoin(broadcast(aRaw2.agg(max($"ar2").as("am2"))))
      .select($"b".as("brand"), $"n_buyers",
        expr("(cast(ar2 as decimal(38,0)) * 1000000) div am2")
          .as("authority_micro"))
      .orderBy($"authority_micro".desc, $"brand")
  }

  val q418Sql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey AS u, p.p_brand AS b
      |  FROM orders o
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey),
      |ar1 AS (SELECT b, CAST(count(*) AS BIGINT) * 1000000 AS ar
      |        FROM e GROUP BY b),
      |a1 AS (SELECT b, (CAST(ar AS HUGEINT) * 1000000)
      |         // (SELECT max(ar) FROM ar1) AS a
      |       FROM ar1),
      |hr1 AS (SELECT e.u, CAST(sum(a1.a) AS BIGINT) AS hr
      |        FROM e JOIN a1 ON e.b = a1.b GROUP BY e.u),
      |h1 AS (SELECT u, (CAST(hr AS HUGEINT) * 1000000)
      |         // (SELECT max(hr) FROM hr1) AS h
      |       FROM hr1),
      |ar2 AS (SELECT e.b, CAST(sum(h1.h) AS BIGINT) AS ar2,
      |          CAST(count(*) AS BIGINT) AS n_buyers
      |        FROM e JOIN h1 ON e.u = h1.u GROUP BY e.b)
      |SELECT b AS brand, n_buyers,
      |  CAST((CAST(ar2 AS HUGEINT) * 1000000)
      |    // (SELECT max(ar2) FROM ar2) AS BIGINT) AS authority_micro
      |FROM ar2 ORDER BY authority_micro DESC, brand""".stripMargin

  /** q209 — k-core peeling (onion decomposition) of the part
    * co-purchase graph: nodes are parts, edges are part pairs bought
    * together in ≥ 1 order, k is the nearest-rank p25 of the initial
    * degree distribution (4·cum ≥ n rule — quantile built by OUR
    * integer-rank definition on both engines, never an engine
    * quantile builtin), and each node is labeled with the ROUND the
    * peel removed it (1..6) or 0 if it survives all six. Labeling by
    * peel round — not bare core membership — keeps the output total
    * and informative even when the graph sits near its percolation
    * threshold and the core itself collapses (this one does).
    *
    * Semantics per round i: a node alive after round i−1 is removed
    * when its degree over the surviving edge set is < k (absent from
    * the degree relation = degree 0); edges survive only with both
    * endpoints alive. Fixed 6 rounds — at convergence further rounds
    * are no-ops, so the fixed bound is exact on converged components
    * (the q91 fixed-iteration precedent).
    *
    * 100 TB shape: edges come from the bounded per-order set explode
    * (q200/q204 discipline — never a row self-join), each round is
    * degree-agg + two semi-joins on the node id's partitioning, and
    * the rounds are data-parallel peels — no driver-side graph. Each
    * round's edge/survivor frames are EAGERLY localCheckpoint-ed:
    * every frame is consumed twice (degree + filter), so uncut
    * lineage doubles per round — 2^6 copies of the base subtree blows
    * the ANALYZER'S heap before a row moves (cache alone doesn't cut
    * the logical plan; checkpointing is the iterative-algorithm
    * discipline Pregel applies internally). */
  def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rounds = 6
    val lp = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val e0 = lp.groupBy($"ok")
      .agg(sort_array(collect_list($"p")).as("ps"))
      .select(explode(filter(
        flatten(transform($"ps",
          a => transform($"ps", b => struct(a.as("a"), b.as("b"))))),
        pr => pr("a") < pr("b"))).as("e"))
      .select($"e.a".as("a"), $"e.b".as("b"))
      .distinct()
      .transform(graft.Fx.materialize)
    def degrees(edges: DataFrame): DataFrame =
      edges.select($"a".as("n")).unionAll(edges.select($"b".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
    val deg0 = degrees(e0).transform(graft.Fx.materialize)
    // nearest-rank p25 of the initial degrees: min d with 4·cum ≥ n
    val cells = deg0.groupBy($"deg").agg(count(lit(1)).as("c"))
    val cum = org.apache.spark.sql.expressions.Window.orderBy($"deg")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kDf = cells
      .withColumn("cc", sum($"c").over(cum))
      .withColumn("tot", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter($"cc" * 4 >= $"tot")
      .agg(min($"deg").as("k"))
    var alive = deg0.select($"n") // universe: nodes with ≥ 1 edge
    var edges = e0
    var labels = alive.select($"n", lit(0).as("peel_round"))
    for (i <- 1 to rounds) {
      val dg = degrees(edges)
      val survivors = alive.join(dg, Seq("n"), "left")
        .crossJoin(broadcast(kDf))
        .filter(coalesce($"deg", lit(0L)) >= $"k")
        .select($"n").transform(graft.Fx.materialize)
      val removed = alive.join(survivors, Seq("n"), "left_anti")
      labels = labels.join(removed.withColumn("r", lit(i)), Seq("n"), "left")
        .select($"n",
          when($"peel_round" === 0 && $"r".isNotNull, $"r")
            .otherwise($"peel_round").as("peel_round"))
        .transform(graft.Fx.materialize)
      edges = edges
        .join(survivors.select($"n".as("a")), Seq("a"), "left_semi")
        .join(survivors.select($"n".as("b")), Seq("b"), "left_semi")
        .transform(graft.Fx.materialize)
      alive = survivors
    }
    labels.select($"n".as("part"), $"peel_round").orderBy($"part")
  }

  val q209Sql: String = {
    val rounds = 6
    def deg(e: String) =
      s"(SELECT n, count(*) AS deg FROM (SELECT a AS n FROM $e UNION ALL SELECT b FROM $e) t GROUP BY n)"
    // MATERIALIZED: DuckDB inlines plain CTEs, so the 6-generation
    // chain would expand e0 exponentially (and re-open the parquet
    // until the fd limit dies); materialization evaluates each
    // generation once — the oracle-side analogue of the Spark loop's
    // localCheckpoint.
    val gens = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.n FROM s${i - 1} s
         |  LEFT JOIN ${deg(s"e${i - 1}")} dg ON s.n = dg.n CROSS JOIN kk
         |  WHERE coalesce(dg.deg, 0) >= kk.k),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM s$i) AND b IN (SELECT n FROM s$i))""".stripMargin
    }.mkString(",\n")
    val label = (1 to rounds).map(i =>
      s"WHEN s0.n NOT IN (SELECT n FROM s$i) THEN $i").mkString(" ")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
       |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
       |s0 AS MATERIALIZED (SELECT n FROM ${deg("e0")} t0),
       |cells AS (SELECT deg, count(*) AS c FROM ${deg("e0")} t1 GROUP BY deg),
       |kk AS (
       |  SELECT min(deg) AS k FROM (
       |    SELECT deg,
       |      sum(c) OVER (ORDER BY deg ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND CURRENT ROW) AS cc,
       |      sum(c) OVER () AS tot
       |    FROM cells) u
       |  WHERE cc * 4 >= tot),
       |$gens
       |SELECT s0.n AS part,
       |  CASE $label ELSE 0 END AS peel_round
       |FROM s0 ORDER BY part""".stripMargin
  }

  /** q323 — label-propagation community detection (synchronous LPA,
    * Raghavan et al. 2007) on the co-purchase part graph (q209's edge
    * set): every node starts as its own label; each round it adopts
    * the most frequent label among its NEIGHBORS, ties broken to the
    * smallest label — the deterministic synchronous variant (the
    * async/random classic is not hash-checkable; sync + min-tie is,
    * and is what GraphFrames' LPA also runs). Three rounds, stopping
    * early stated (like q265's value iteration); output is the
    * community size table. Communities differ from q256's connected
    * components exactly where the graph is dense-with-bridges: LPA
    * splits what CC merges.
    *
    * Scale shape: each round is ONE edges ⋈ labels equi-join +
    * a (node, label) count + an argmax window partitioned by node
    * (high cardinality, frames bounded by degree); generations are
    * materialized so round r's plan does not nest r−1 prior joins —
    * the q209/BPE iterative discipline. */
  /** Three synchronous LPA rounds (min-label tie-break) over a
    * symmetric edge list `und(a, b)` → (id, lbl). Shared by q323 (the
    * community readout) and q365 (modularity of those communities). */
  private def lpaLabels(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"id").orderBy($"c".desc, $"lbl".asc)
    var labels = und.select($"a".as("id")).distinct()
      .select($"id", $"id".as("lbl"))
      .transform(graft.Fx.materialize)
    for (_ <- 1 to 3) {
      labels = und
        .join(labels.select($"id".as("b"), $"lbl"), "b")
        .groupBy($"a".as("id"), $"lbl")
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"id", $"lbl")
        .transform(graft.Fx.materialize)
    }
    labels
  }

  def q323(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d)
    val und = e0.union(e0.select($"b".as("a"), $"a".as("b")))
      .transform(graft.Fx.materialize)
    lpaLabels(und).groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), min($"id").as("min_member"))
      .orderBy($"community")
  }

  val q323Sql: String = {
    val gens = (1 to 3).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT e.a AS id, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.a
         |        ORDER BY count(*) DESC, l.lbl) AS rk
         |    FROM und e JOIN l${i - 1} l ON e.b = l.id
         |    GROUP BY e.a, l.lbl) t
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
       |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS id, a AS lbl FROM und),
       |$gens
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  min(id) AS min_member
       |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q350 — degree assortativity of the co-purchase graph: the
    * Pearson correlation of endpoint degrees over the edge list
    * (Newman 2002) — do popular parts co-sell with other popular
    * parts (assortative, r > 0, retail-bundle structure) or with
    * niche ones (disassortative, r < 0, hub-and-spoke)? The ONE
    * scalar that separates those regimes, and none of the existing
    * graph readouts (triangles q109, PageRank q91, k-core q209, CC,
    * LPA q323) measures it. Exact: degrees are integers off one edge
    * pass; both edge directions contribute (the standard symmetric
    * treatment); the five moment sums ride DECIMAL(38,0) and r is
    * q178's one-sqrt pinned shape (IEEE sqrt is correctly rounded —
    * the only float op in the query).
    *
    * Scale shape: edges are per-order part pairs (≤ lines² per order,
    * order-bounded by the document-model argument); one edge shuffle
    * for degrees, one broadcast-degree join back, one scalar
    * aggregate. */
  /** Distinct undirected co-purchase edges (a < b): part pairs that
    * share an order. Per-order fanout is ≤ lines² — bounded by the
    * order-size bound, the same document-model argument q350 makes —
    * and the result is materialized once because every caller feeds it
    * to ≥ 2 consumers (degrees + a second pass). */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
      .groupBy($"ok")
      .agg(sort_array(collect_list($"p")).as("ps"))
      .select(explode(filter(
        flatten(transform($"ps",
          a => transform($"ps", b => struct(a.as("a"), b.as("b"))))),
        pr => pr("a") < pr("b"))).as("e"))
      .select($"e.a".as("a"), $"e.b".as("b"))
      .distinct()
      .transform(graft.Fx.materialize)
  }

  /** q420 — diameter lower bound of the co-purchase graph by the
    * classic DOUBLE-SWEEP BFS: sweep 1 from the smallest node id
    * (stated deterministic seed) finds its eccentricity and farthest
    * node (ties to the smallest id); sweep 2 from that periphery node
    * gives ecc₂ ≥ the true radius-anchored bound, the standard cheap
    * diameter estimate (Magnien et al.) — the DISTANCE-scale readout
    * the existing graph battery (density q350/q399, cohesion q209,
    * flow q91/q418) never measures. Both sweeps are capped at 6
    * rounds (stated horizon; a converged BFS makes further rounds
    * no-ops — the q209 fixed-round precedent, and a small-world
    * co-purchase graph converges well inside it). Exact: distances
    * are integers by construction; every frontier is a distinct
    * anti-joined set; the oracle unrolls the identical 6+6 rounds.
    *
    * Scale shape: edges from the bounded per-order explode (never a
    * row self-join); each round is one frontier⋈edges join + one
    * anti-join on the node-id partitioning; frontiers are eagerly
    * localCheckpoint-ed (the q209 lineage discipline). */
  def q420(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d)
    val edges = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
      .transform(graft.Fx.materialize)
    def bfs(seed: DataFrame): DataFrame = {
      var dist = seed.select($"id", lit(0L).as("dist")).localCheckpoint()
      var frontier = dist.select($"id")
      for (r <- 1 to 6) {
        val next = frontier.join(edges, frontier("id") === edges("a"))
          .select(edges("b").as("id")).distinct()
          .join(dist.select($"id".as("seen")), $"id" === $"seen", "left_anti")
          .select($"id").localCheckpoint()
        dist = dist.unionAll(next.select($"id", lit(r.toLong).as("dist")))
          .localCheckpoint()
        frontier = next
      }
      dist
    }
    val d1 = bfs(edges.agg(min($"a").as("id")))
    val far = d1.orderBy($"dist".desc, $"id").limit(1)
      .select($"id", $"dist".as("ecc1"))
      .transform(graft.Fx.materialize)
    val d2 = bfs(far.select($"id"))
    val s1 = d1.agg(min(when($"dist" === 0L, $"id")).as("seed1"),
      count(lit(1)).as("n_reached1"))
    val s2 = d2.agg(max($"dist").as("diameter_lb"), count(lit(1)).as("n_reached2"))
    s1.crossJoin(broadcast(far.select($"id".as("seed2"), $"ecc1")))
      .crossJoin(broadcast(s2))
      .select($"seed1", $"n_reached1", $"ecc1", $"seed2",
        $"diameter_lb", $"n_reached2")
  }

  val q420Sql: String = {
    // every round CTE is MATERIALIZED: each dK/fK is referenced twice,
    // so inlining doubles the subtree per round (2^12 blowup — the
    // DuckDB twin of the Spark lineage problem localCheckpoint solves)
    def sweep(p: String, seedSel: String): String = {
      val rounds = (1 to 6).map { r =>
        s"""${p}f$r AS MATERIALIZED (
           |  SELECT DISTINCT e.b AS id FROM e JOIN ${p}f${r - 1} f
           |    ON e.a = f.id
           |  WHERE e.b NOT IN (SELECT id FROM ${p}d${r - 1})),
           |${p}d$r AS MATERIALIZED (SELECT * FROM ${p}d${r - 1}
           |  UNION ALL SELECT id, $r FROM ${p}f$r)""".stripMargin
      }.mkString(",\n")
      s"""${p}f0 AS MATERIALIZED ($seedSel),
         |${p}d0 AS MATERIALIZED (SELECT id, 0 AS dist FROM ${p}f0),
         |$rounds""".stripMargin
    }
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
       |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |${sweep("x", "SELECT min(a) AS id FROM e")},
       |far AS (SELECT id, dist AS ecc1 FROM xd6
       |        ORDER BY dist DESC, id LIMIT 1),
       |${sweep("y", "SELECT id FROM far")}
       |SELECT
       |  (SELECT min(id) FROM xd0) AS seed1,
       |  (SELECT CAST(count(*) AS BIGINT) FROM xd6) AS n_reached1,
       |  (SELECT CAST(ecc1 AS BIGINT) FROM far) AS ecc1,
       |  (SELECT id FROM far) AS seed2,
       |  (SELECT CAST(max(dist) AS BIGINT) FROM yd6) AS diameter_lb,
       |  (SELECT CAST(count(*) AS BIGINT) FROM yd6) AS n_reached2""".stripMargin
  }

  def q350(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d) // materialized: degrees AND the moment pass
    val deg = e0.select($"a".as("n")).unionAll(e0.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val both = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
      .join(deg.select($"n".as("a"), $"deg".as("x")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("y")), "b")
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = both.agg(count(lit(1)).as("k"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum(d38($"x") * $"y").as("sxy"),
      sum(d38($"x") * $"x").as("sxx"), sum(d38($"y") * $"y").as("syy"))
    m.select($"k",
        (d38($"k") * $"sxy" - d38($"sx") * $"sy").as("cov_n"),
        (d38($"k") * $"sxx" - d38($"sx") * $"sx").as("vx_n"),
        (d38($"k") * $"syy" - d38($"sy") * $"sy").as("vy_n"))
      .filter($"vx_n" > 0 && $"vy_n" > 0)
      .select(expr("cast(k div 2 as bigint)").as("n_edges"),
        graft.Fx.r6($"cov_n".cast("double") /
          sqrt($"vx_n".cast("double") * $"vy_n".cast("double")))
          .as("assortativity"))
  }

  val q350Sql: String = {
    val r = "CAST(k * sxy - sx * sy AS DOUBLE) / " +
      "sqrt(CAST(k * sxx - sx * sx AS DOUBLE) * CAST(k * syy - sy * sy AS DOUBLE))"
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.p AS a, b.p AS b
       |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
       |  GROUP BY n),
       |ends AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) e
       |  JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS k,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(y AS HUGEINT) * y) AS syy
       |  FROM ends)
       |SELECT CAST(k // 2 AS BIGINT) AS n_edges,
       |  ${graft.Fx.sqlR6(r)} AS assortativity
       |FROM m
       |WHERE k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0""".stripMargin
  }

  /** q352 — link prediction on the co-purchase graph by the
    * resource-allocation index (Zhou/Lü/Zhang 2009): for a NON-adjacent
    * part pair (a,b), RA(a,b) = Σ_z 1/deg(z) over common neighbors z —
    * "which parts that never sold together are most likely to next?",
    * the complement of q204's lift over OBSERVED pairs. Two exactness /
    * scale moves: (1) the reciprocal is fixed-point `1000000 div deg`
    * (integer division, identical both engines) so scores sum exactly —
    * no float accumulation; (2) only intermediaries with deg(z) ≤ 64
    * generate wedges (a stated semantic, the minhash bucket-cap
    * discipline of Dedup.scala) — a hub that co-sells with everything
    * carries ≈ no RA signal but would alone contribute deg² wedge
    * pairs, so the cap turns Σ deg(z)² into ≤ 64·Σ deg = O(E).
    *
    * Scale shape: one edge shuffle for degrees, one capped self-join
    * keyed by the intermediary, one (a,b) aggregate, an anti-join
    * against the edge list, and a driver-side top-20
    * (TakeOrderedAndProject — per-partition heaps, no global sort). */
  def q352(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d) // materialized: degrees, wedges, anti-join
    val deg = e0.select($"a".as("n")).unionAll(e0.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val nb = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
      .select($"a".as("z"), $"b".as("m"))
      .join(deg.select($"n".as("z"), $"deg".as("zdeg")), "z")
      .filter($"zdeg" <= 64L)
    val wedges = nb.as("x").join(nb.as("y"), Seq("z"))
      .filter($"x.m" < $"y.m")
      .select($"x.m".as("a"), $"y.m".as("b"), $"x.zdeg".as("zdeg"))
    wedges.groupBy($"a", $"b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div zdeg")).as("ra_micro"))
      .join(e0, Seq("a", "b"), "left_anti")
      .orderBy($"ra_micro".desc, $"common_neighbors".desc, $"a", $"b")
      .limit(20)
  }

  val q352Sql: String =
    """WITH lp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.p AS a, b.p AS b
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
      |  GROUP BY n),
      |nb AS (
      |  SELECT e.a AS z, e.b AS m, deg.deg AS zdeg
      |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) e
      |  JOIN deg ON e.a = deg.n
      |  WHERE deg.deg <= 64),
      |w AS (
      |  SELECT x.m AS a, y.m AS b, x.zdeg
      |  FROM nb x JOIN nb y ON x.z = y.z AND x.m < y.m),
      |sc AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
      |    CAST(sum(1000000 // zdeg) AS BIGINT) AS ra_micro
      |  FROM w GROUP BY a, b)
      |SELECT sc.a, sc.b, sc.common_neighbors, sc.ra_micro
      |FROM sc LEFT JOIN e0 ON sc.a = e0.a AND sc.b = e0.b
      |WHERE e0.a IS NULL
      |ORDER BY sc.ra_micro DESC, sc.common_neighbors DESC, sc.a, sc.b
      |LIMIT 20""".stripMargin

  /** Per-hour activity cap of the shared co-activity edge builder.
    * 16 binds at sf0.01 (hours peak at 28 active users there), so the
    * driver oracle exercises the capped path, not just the pass-through. */
  val CoactivityCap = 16

  /** Shared CAPPED co-activity edge builder (q109 / q353 / q360):
    * users active in the same calendar hour are connected, but each
    * hour contributes at most [[CoactivityCap]] users — the bottom-k
    * by the salted md5 grid (hash asc, user_id tie-break), a STATED
    * sampling semantic the DuckDB oracle mirrors row-for-row
    * ([[coactivitySqlCtes]]).
    *
    * Why the cap is load-bearing: users-per-hour U_h grows linearly
    * with corpus volume while the hour count stays fixed, so the
    * uncapped `active ⋈_hr active` emits Σ_h U_h²/2 pairs — 100× the
    * data means 10,000× the join output, the quadratic-block hazard
    * class ScaleSmoke's `wedgecap`/`coactcap` sweeps measure (123× at
    * hub degree 16k). Capped, per-hour join work is ≤ cap²/2 pairs
    * regardless of U_h, and the selection itself runs through the
    * native bounded-heap TopKPerGroup — O(n log cap) per partition,
    * no per-hour sort, no straggler task. The md5 grid makes the
    * sample uniform per hour and deterministic across engines (the
    * q26/q243 salted-hash discipline; salt `#coact` keeps it
    * independent of every other hash assignment in the registry). */
  def coactivityEdges(s: SparkSession, d: String, cap: Int = CoactivityCap): DataFrame = {
    import s.implicits._
    coactivityEdgesFrom(
      Tables.events(s, d)
        .select(date_trunc("hour", $"ts").as("hr"), $"user_id").distinct(),
      cap)
  }

  /** Core of [[coactivityEdges]] over an arbitrary distinct
    * (`hr`, `user_id`) activity frame (ScaleSmoke's `coactcap` sweep
    * feeds a synthetic dense hour through exactly this path). */
  def coactivityEdgesFrom(active: DataFrame, cap: Int = CoactivityCap): DataFrame = {
    val s = active.sparkSession
    import s.implicits._
    val hashed = active.withColumn("__h",
      Fx.md5Prefix(concat($"user_id".cast("string"), lit("#coact")), 8))
    val kept = graft.plans.TopK.perGroup(hashed, cap, Seq("hr"),
        Seq(graft.plans.TopK.asc("__h"), graft.plans.TopK.asc("user_id")))
      .drop("__h")
    kept.as("x").join(kept.as("y"), Seq("hr"))
      .filter($"x.user_id" < $"y.user_id")
      .select($"x.user_id".as("a"), $"y.user_id".as("b"))
      .distinct()
  }

  /** DuckDB mirror of [[coactivityEdges]]: CTEs `coact_active`,
    * `coact_kept`, and `$edgeCte` (the ordered a<b edge list). */
  def coactivitySqlCtes(edgeCte: String, materialized: Boolean = false,
      cap: Int = CoactivityCap): String = {
    val mat = if (materialized) " MATERIALIZED" else ""
    s"""coact_active AS (
       |  SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, user_id
       |  FROM events),
       |coact_kept AS (
       |  SELECT hr, user_id FROM (
       |    SELECT hr, user_id,
       |      row_number() OVER (PARTITION BY hr ORDER BY
       |        ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#coact'), 1, 8))::BIGINT,
       |        user_id) AS rn
       |    FROM coact_active) t
       |  WHERE rn <= $cap),
       |$edgeCte AS$mat (
       |  SELECT DISTINCT x.user_id AS a, y.user_id AS b
       |  FROM coact_kept x JOIN coact_kept y ON x.hr = y.hr AND x.user_id < y.user_id)""".stripMargin
  }

  /** q353 — clustering spectrum c(k) of the hourly co-activity user
    * graph: per degree class k, the mean local clustering coefficient
    * 2·tri(v) / (k·(k−1)) over the n_k nodes of that degree — the
    * degree-RESOLVED version of q109's one global triangle count
    * (a falling c(k) ~ k^−1 is the hierarchical-network signature;
    * flat c(k) says triangles spread evenly). Exact: per-node triangle
    * counts come from the same a<b<c oriented triple join as q109,
    * each triangle crediting its three corners; within a degree class
    * the coefficient denominator is constant, so c(k) collapses to the
    * single division (2·Σtri) / (n_k·k·(k−1)) of two exact integers —
    * one correctly-rounded IEEE op, bit-identical both engines, then
    * grid-rounded r6.
    *
    * Scale shape: q109's orientation bounds the triple-join
    * intermediate; the per-node credit is three projections of the
    * triangle list + one shuffle on node id; the spectrum is a
    * degree-keyed aggregate over |V| rows. */
  def q353(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = coactivityEdges(s, d)
      .transform(graft.Fx.materialize) // triangles AND degrees
    val tri = edges.as("e1")
      .join(edges.as("e2"), $"e1.b" === $"e2.a")
      .join(edges.as("e3"), $"e2.b" === $"e3.b" && $"e1.a" === $"e3.a")
      .select($"e1.a".as("a"), $"e1.b".as("b"), $"e2.b".as("c"))
    val triPerNode = tri.select($"a".as("n"))
      .unionAll(tri.select($"b".as("n"))).unionAll(tri.select($"c".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("t"))
    val deg = edges.select($"a".as("n")).unionAll(edges.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    deg.join(triPerNode, Seq("n"), "left_outer")
      .select($"deg", coalesce($"t", lit(0L)).as("t"))
      .filter($"deg" >= 2L)
      .groupBy($"deg")
      .agg(count(lit(1)).as("n_nodes"), sum($"t").as("tri_sum"))
      .select($"deg", $"n_nodes", $"tri_sum",
        r6((lit(2L) * $"tri_sum").cast("double") /
          ($"n_nodes" * $"deg" * ($"deg" - 1L)).cast("double")).as("c_of_k"))
      .orderBy($"deg")
  }

  val q353Sql: String =
    s"""WITH ${coactivitySqlCtes("edges", materialized = true)},
      |tri AS (
      |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b = e2.a
      |  JOIN edges e3 ON e2.b = e3.b AND e1.a = e3.a),
      |tv AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS t
      |  FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
      |        UNION ALL SELECT c FROM tri)
      |  GROUP BY n),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
      |  GROUP BY n),
      |nd AS (
      |  SELECT deg.deg, COALESCE(tv.t, 0) AS t
      |  FROM deg LEFT JOIN tv ON deg.n = tv.n
      |  WHERE deg.deg >= 2)
      |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(sum(t) AS BIGINT) AS tri_sum,
      |  floor(CAST(2 * sum(t) AS DOUBLE)
      |    / CAST(count(*) * deg * (deg - 1) AS DOUBLE) * 1000000 + 0.5)
      |    / 1000000 AS c_of_k
      |FROM nd GROUP BY deg ORDER BY deg""".stripMargin

  /** q360 — attack robustness of the co-activity graph: summarize the
    * component structure BEFORE and AFTER deleting the top-10 hubs
    * (degree desc, user id as the stated tie-break) — the
    * Albert/Jeong/Barabási targeted-attack readout. Scale-free graphs
    * shatter under hub removal while random graphs barely notice; the
    * full-vs-attacked delta in (components, largest CC) is that
    * diagnostic, and it composes two operators the engine already
    * trusts — q109's co-activity edge builder and the alternating-star
    * CC loop (Dedup.ccAlternatingStar, differential-tested by
    * q57/q256) — into a what-if the component queries never ask.
    * Counts are integers; a node counts only while it has ≥ 1 edge
    * (isolated survivors leave the graph, stated).
    *
    * Scale shape: one edge materialization feeding degrees; hub
    * selection is a 10-row TakeOrdered; the attacked edge set is two
    * broadcast anti-joins; each summary is the O(log² n)-round star
    * loop plus component-sized aggregates. */
  def q360(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = coactivityEdges(s, d)
      .transform(graft.Fx.materialize) // degrees, both summaries
    val deg = edges.select($"a".as("n")).unionAll(edges.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy($"deg".desc, $"n").limit(10).select($"n")
      .transform(graft.Fx.materialize) // two anti-join probes
    val attacked = edges
      .join(broadcast(hubs.select($"n".as("a"))), Seq("a"), "left_anti")
      .join(broadcast(hubs.select($"n".as("b"))), Seq("b"), "left_anti")
      .select($"a", $"b")
    def summarize(label: String, e: DataFrame): DataFrame = {
      val sizes = graft.operators.Dedup.ccAlternatingStar(e)
        .groupBy($"component").agg(count(lit(1)).as("sz"))
      sizes.agg(
          coalesce(sum($"sz"), lit(0L)).as("n_nodes"),
          count(lit(1)).as("n_components"),
          coalesce(max($"sz"), lit(0L)).as("largest_cc"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(label).as("graph"), $"n_nodes", $"n_edges",
          $"n_components", $"largest_cc")
    }
    summarize("attacked", attacked).unionByName(summarize("full", edges))
      .orderBy($"graph")
  }

  val q360Sql: String = {
    def cc(edgeCte: String, tag: String): String =
      s"""u$tag AS (SELECT a, b FROM $edgeCte UNION SELECT b, a FROM $edgeCte),
         |reach$tag(src, dst) AS (
         |  SELECT a, b FROM u$tag
         |  UNION
         |  SELECT r.src, e.b FROM reach$tag r JOIN u$tag e ON r.dst = e.a),
         |comp$tag AS (
         |  SELECT src, least(src, min(dst)) AS c FROM reach$tag GROUP BY src),
         |sz$tag AS (SELECT c, CAST(count(*) AS BIGINT) AS sz
         |           FROM comp$tag GROUP BY c)""".stripMargin
    s"""WITH RECURSIVE ${coactivitySqlCtes("e0", materialized = true)},
       |deg AS (
       |  SELECT n, count(*) AS deg
       |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
       |hubs AS (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 10),
       |ea AS MATERIALIZED (
       |  SELECT a, b FROM e0
       |  WHERE a NOT IN (SELECT n FROM hubs) AND b NOT IN (SELECT n FROM hubs)),
       |${cc("e0", "f")},
       |${cc("ea", "a")}
       |SELECT 'attacked' AS graph,
       |  (SELECT COALESCE(CAST(sum(sz) AS BIGINT), 0) FROM sza) AS n_nodes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ea) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM sza) AS n_components,
       |  (SELECT COALESCE(CAST(max(sz) AS BIGINT), 0) FROM sza) AS largest_cc
       |UNION ALL
       |SELECT 'full',
       |  (SELECT COALESCE(CAST(sum(sz) AS BIGINT), 0) FROM szf),
       |  (SELECT CAST(count(*) AS BIGINT) FROM e0),
       |  (SELECT CAST(count(*) AS BIGINT) FROM szf),
       |  (SELECT COALESCE(CAST(max(sz) AS BIGINT), 0) FROM szf)
       |ORDER BY graph""".stripMargin
  }

  /** q365 — Newman modularity of the LPA communities: Q = Σ_c [m_c/m
    * − (d_c/2m)²] over q323's label assignment — the QUALITY score for
    * the partition q323 only enumerates (Q ≈ 0: no better than random
    * given degrees; the standard accept/reject gate for a community
    * structure). Exact: per community the contribution is
    * (4·m·m_c − d_c²)·10⁶ div (4·m²) — one truncating micro division
    * of exact integers per community (negative for hub-heavy
    * communities; toward-zero truncation both engines, q361's
    * precedent) — and the global Q is the exact integer sum of those
    * stated per-community truncations.
    *
    * Scale shape: LPA's per-round join + the two label joins are all
    * node/edge-shuffles; the modularity rollup is community-sized.
    * Top-20 communities by size are reported with the global Q
    * constant alongside. */
  def q365(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d)
    val und = e0.union(e0.select($"b".as("a"), $"a".as("b")))
      .transform(graft.Fx.materialize)
    val labels = lpaLabels(und).transform(graft.Fx.materialize)
    val m = e0.agg(count(lit(1)).as("m"))
    val intra = e0
      .join(labels.select($"id".as("a"), $"lbl".as("la")), "a")
      .join(labels.select($"id".as("b"), $"lbl".as("lb")), "b")
      .filter($"la" === $"lb")
      .groupBy($"la".as("lbl")).agg(count(lit(1)).as("mc"))
    val dc = und.join(labels.select($"id".as("a"), $"lbl"), "a")
      .groupBy($"lbl").agg(count(lit(1)).as("dc"))
    val per = labels.groupBy($"lbl").agg(count(lit(1)).as("n_members"))
      .join(intra, Seq("lbl"), "left_outer")
      .join(dc, Seq("lbl"), "left_outer")
      .crossJoin(broadcast(m))
      .select($"lbl".as("community"), $"n_members",
        coalesce($"mc", lit(0L)).as("m_intra"),
        coalesce($"dc", lit(0L)).as("d_total"),
        expr("""cast(((4 * cast(m as decimal(38,0)) * coalesce(mc, 0)
               - cast(coalesce(dc, 0) as decimal(38,0)) * coalesce(dc, 0))
               * 1000000) div (4 * cast(m as decimal(38,0)) * m) as bigint)""")
          .as("contrib_micro"))
      .transform(graft.Fx.materialize) // global sum + top rows
    per.crossJoin(broadcast(
        per.agg(sum($"contrib_micro").as("q_micro"))))
      .orderBy($"n_members".desc, $"community")
      .limit(20)
  }

  val q365Sql: String = {
    val gens = (1 to 3).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, lbl FROM (
         |    SELECT e.a AS id, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.a
         |        ORDER BY count(*) DESC, l.lbl) AS rk
         |    FROM und e JOIN l${i - 1} l ON e.b = l.id
         |    GROUP BY e.a, l.lbl) t
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
       |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS id, a AS lbl FROM und),
       |$gens,
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
       |intra AS (
       |  SELECT x.lbl, CAST(count(*) AS BIGINT) AS mc
       |  FROM e0 JOIN l3 x ON e0.a = x.id JOIN l3 y ON e0.b = y.id
       |  WHERE x.lbl = y.lbl GROUP BY 1),
       |dcs AS (
       |  SELECT l3.lbl, CAST(count(*) AS BIGINT) AS dc
       |  FROM und JOIN l3 ON und.a = l3.id GROUP BY 1),
       |per AS MATERIALIZED (
       |  SELECT s.lbl AS community, s.n_members,
       |    COALESCE(i.mc, 0) AS m_intra, COALESCE(dd.dc, 0) AS d_total,
       |    CAST(((4 * m.m * COALESCE(i.mc, 0)
       |      - CAST(COALESCE(dd.dc, 0) AS HUGEINT) * COALESCE(dd.dc, 0))
       |      * 1000000) // (4 * m.m * m.m) AS BIGINT) AS contrib_micro
       |  FROM (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
       |        FROM l3 GROUP BY 1) s
       |  LEFT JOIN intra i ON s.lbl = i.lbl
       |  LEFT JOIN dcs dd ON s.lbl = dd.lbl
       |  CROSS JOIN m)
       |SELECT per.*, (SELECT CAST(sum(contrib_micro) AS BIGINT) FROM per)
       |  AS q_micro
       |FROM per ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  /** q385 — brand homophily of the co-purchase graph: Newman's
    * ATTRIBUTE assortativity r = (Σe_bb − Σa_b²)/(1 − Σa_b²) with
    * parts labeled by brand — do same-brand parts co-sell (brand-
    * loyal baskets, r > 0) or do baskets mix brands (r ≈ 0, the
    * label carries no basket signal)? The categorical companion to
    * q350 (DEGREE assortativity — same r machinery, different
    * attribute) and the mixing-quality question q365's modularity
    * asks about DISCOVERED communities, here asked about a GIVEN
    * labeling. Exact: over the doubled edge list of M rows,
    * r = (M·same − Σdeg_b²)/(M² − Σdeg_b²) — all DECIMAL(38,0)
    * integers, one truncating micro division; the degenerate
    * single-brand graph (denominator 0) degrades to NULL.
    *
    * Scale shape: one edge materialization; two broadcast label
    * joins; a brand-keyed degree rollup (bounded domain) and one
    * scalar aggregate. */
  def q385(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = copurchaseEdges(s, d)
    val bl = Tables.part(s, d).select($"p_partkey", $"p_brand")
    val ends = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
      .join(broadcast(bl.select($"p_partkey".as("a"), $"p_brand".as("ba"))), "a")
      .join(broadcast(bl.select($"p_partkey".as("b"), $"p_brand".as("bb"))), "b")
      .transform(graft.Fx.materialize) // counts AND brand-degree mass
    val m = ends.agg(count(lit(1)).as("mm"),
      sum(($"ba" === $"bb").cast("long")).as("same"))
    val ab = ends.groupBy($"ba").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("cast(deg as decimal(38,0)) * deg")).as("sa2"))
    m.crossJoin(broadcast(ab))
      .select(expr("cast(mm div 2 as bigint)").as("n_edges"),
        expr("(cast(same as decimal(38,0)) * 1000000) div mm")
          .as("same_brand_micro"),
        when(expr("cast(mm as decimal(38,0)) * mm - sa2") > 0, expr(
          """((cast(mm as decimal(38,0)) * same - sa2) * 1000000)
             div (cast(mm as decimal(38,0)) * mm - sa2)"""))
          .as("assortativity_micro"))
  }

  val q385Sql: String =
    """WITH lp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.p AS a, b.p AS b
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |ends AS MATERIALIZED (
      |  SELECT pa.p_brand AS ba, pb.p_brand AS bb
      |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) e
      |  JOIN part pa ON e.a = pa.p_partkey
      |  JOIN part pb ON e.b = pb.p_partkey),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS mm,
      |    CAST(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END) AS HUGEINT) AS same
      |  FROM ends),
      |ab AS (
      |  SELECT CAST(sum(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS sa2
      |  FROM (SELECT ba, CAST(count(*) AS BIGINT) AS deg
      |        FROM ends GROUP BY ba) g)
      |SELECT CAST(mm // 2 AS BIGINT) AS n_edges,
      |  CAST((same * 1000000) // mm AS BIGINT) AS same_brand_micro,
      |  CASE WHEN mm * mm - sa2 > 0 THEN
      |    CAST(((mm * same - sa2) * 1000000) // (mm * mm - sa2) AS BIGINT)
      |  END AS assortativity_micro
      |FROM m CROSS JOIN ab""".stripMargin

  /** q399 — rich-club coefficient φ(k) of the co-purchase graph: over
    * the nodes of degree > k, the realized fraction of possible edges
    * φ(k) = 2·E_k / (N_k·(N_k−1)) — "do the hubs preferentially trade
    * with each other?" (φ rising in k = a rich club; the
    * assortativity scalar q350 summarizes, this RESOLVES by degree
    * like q353 resolves clustering). Exact: both curves come from two
    * histograms — nodes by degree, edges by min(deg(a), deg(b)) —
    * with exclusive reverse cumulative sums giving N_k and E_k for
    * every k in the observed degree grid in one pass; φ is the stated
    * micro truncation 2·E_k·1e6 div (N_k·(N_k−1)) (q352's div
    * discipline). Rows with N_k < 2 are dropped (φ undefined).
    *
    * Scale shape: one degree aggregate, one 3-way broadcast-joinable
    * histogram pair over the bounded degree domain, windows over that
    * grid only — the edge list is scanned twice, never joined to
    * itself. */
  def q399(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e0 = copurchaseEdges(s, d)
    val deg = e0.select($"a".as("n")).unionAll(e0.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
      .transform(graft.Fx.materialize) // node histogram + edge join
    val nodeHist = deg.groupBy($"deg".as("k")).agg(count(lit(1)).as("cn"))
    val edgeHist = e0
      .join(deg.select($"n".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("db")), "b")
      .select(least($"da", $"db").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("ce"))
    val wExcl = Window.orderBy($"k".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    nodeHist.join(edgeHist, Seq("k"), "full_outer")
      .select($"k", coalesce($"cn", lit(0L)).as("cn"),
        coalesce($"ce", lit(0L)).as("ce"))
      .withColumn("n_nodes", coalesce(sum($"cn").over(wExcl), lit(0L)))
      .withColumn("n_edges", coalesce(sum($"ce").over(wExcl), lit(0L)))
      .filter($"n_nodes" >= 2L)
      .select($"k", $"n_nodes", $"n_edges",
        expr("""cast((2 * cast(n_edges as decimal(38,0)) * 1000000)
               div (cast(n_nodes as decimal(38,0)) * (n_nodes - 1)) as bigint)""")
          .as("phi_micro"))
      .orderBy($"k")
  }

  val q399Sql: String =
    """WITH lp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
      |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
      |deg AS MATERIALIZED (
      |  SELECT n, CAST(count(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
      |  GROUP BY n),
      |nh AS (SELECT deg AS k, CAST(count(*) AS BIGINT) AS cn
      |       FROM deg GROUP BY deg),
      |eh AS (
      |  SELECT least(da.deg, db.deg) AS k, CAST(count(*) AS BIGINT) AS ce
      |  FROM e0
      |  JOIN deg da ON e0.a = da.n
      |  JOIN deg db ON e0.b = db.n
      |  GROUP BY 1),
      |grid AS (
      |  SELECT COALESCE(nh.k, eh.k) AS k, COALESCE(cn, 0) AS cn,
      |    COALESCE(ce, 0) AS ce
      |  FROM nh FULL OUTER JOIN eh ON nh.k = eh.k),
      |cum AS (
      |  SELECT k,
      |    COALESCE(sum(cn) OVER (ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_nodes,
      |    COALESCE(sum(ce) OVER (ORDER BY k DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_edges
      |  FROM grid)
      |SELECT k, CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(n_edges AS BIGINT) AS n_edges,
      |  CAST((2 * CAST(n_edges AS HUGEINT) * 1000000)
      |    // (CAST(n_nodes AS HUGEINT) * (n_nodes - 1)) AS BIGINT) AS phi_micro
      |FROM cum WHERE n_nodes >= 2 ORDER BY k""".stripMargin

  /** q407 — Moran's I spatial autocorrelation: do nations in the SAME
    * region have correlated average customer balances? The
    * graph-weighted cousin of plain correlation the spatial-stats
    * shelf lacked: q350 (assortativity) correlates DEGREES across
    * edges of a behavioral graph, q385 measures label homophily;
    * Moran's I correlates a numeric ATTRIBUTE across a fixed spatial
    * adjacency — here the binary same-region weight matrix (w_ij = 1
    * iff i ≠ j share a region), the canonical contiguity choice.
    * Exact end-to-end: the nation attribute is the per-nation mean
    * customer balance pushed to the 0.01-cent grid by one truncating
    * div (m_i = 100·S_i div c_i over exact cent sums — q363's div
    * discipline); deviations are cleared of the 1/n by the scaling
    * d_i = n·m_i − Σm (all-integer); the same-region cross-sum uses
    * the identity Σ_{i≠j∈r} d_i d_j = (Σ_r d)² − Σ_r d², so
    * I_micro = (10⁶·n·Σ_r[(Σd)²−Σd²]) div (W·Σd²) is one truncating
    * DECIMAL(38,0) division with W = Σ_r c_r(c_r−1) ordered pairs.
    * Expected value under the null E[I] = −1/(n−1) reported on the
    * same micro grid; significance is omitted (stated — the
    * randomization variance needs the b₂ kurtosis machinery).
    *
    * Scale shape: customers collapse to the 25-row nation relation in
    * one aggregate; everything after (region sums, the statistic) runs
    * on that value-domain-bounded grid with broadcast cross-joins.
    * The "pair join" never materializes — the region identity
    * replaces it with two per-region aggregates. */
  def q407(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nat = Tables.customer(s, d)
      .groupBy($"c_nationkey")
      .agg(sum(floor($"c_acctbal" * 100 + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
      .select($"n_nationkey".as("nk"), $"n_name".as("nation"),
        $"n_regionkey".as("rk"),
        expr("(100 * cast(s as decimal(38,0))) div c").as("m"))
      .transform(Fx.materialize)
    val tot = nat.agg(sum($"m").as("sm"), count(lit(1)).as("n"))
    val dev = nat.crossJoin(broadcast(tot))
      .withColumn("dd", expr("cast(n as decimal(38,0)) * m - sm"))
    val reg = dev.groupBy($"rk")
      .agg(sum($"dd").as("sd"), sum(expr("dd * dd")).as("sd2"),
        count(lit(1)).as("cr"))
      .withColumn("cross_r", expr("sd * sd - sd2"))
      .withColumn("w_r", expr("cast(cr as decimal(38,0)) * (cr - 1)"))
    val stat = reg.agg(sum($"cross_r").as("num"), sum($"w_r").as("w"),
        sum($"sd2").as("den"))
      .crossJoin(broadcast(tot))
      .select(
        $"n".as("n_nations"), expr("cast(w as bigint)").as("w_pairs"),
        expr("cast((1000000 * cast(n as decimal(38,0)) * num) div (w * den) as bigint)")
          .as("i_micro"),
        expr("cast((-1000000) div (n - 1) as bigint)").as("e_i_micro"))
    reg.select($"rk".as("regionkey"), expr("cast(cr as bigint)").as("n_in_region"),
        expr("cast(cross_r div 1000000 as bigint)").as("cross_sum_m"))
      .crossJoin(broadcast(stat))
      .withColumn("positive_autocorr",
        ($"i_micro" > $"e_i_micro").cast("int"))
      .orderBy($"regionkey")
  }

  val q407Sql: String =
    """WITH nat AS MATERIALIZED (
      |  SELECT n.n_nationkey AS nk, n.n_regionkey AS rk,
      |    (100 * CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
      |      AS HUGEINT)) // count(*) AS m
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(sum(m) AS HUGEINT) AS sm, CAST(count(*) AS BIGINT) AS n
      |  FROM nat),
      |dev AS (
      |  SELECT nat.rk, CAST(tot.n AS HUGEINT) * nat.m - tot.sm AS dd
      |  FROM nat CROSS JOIN tot),
      |reg AS (
      |  SELECT rk, sum(dd) * sum(dd) - sum(dd * dd) AS cross_r,
      |    sum(dd * dd) AS sd2,
      |    CAST(count(*) AS HUGEINT) * (count(*) - 1) AS w_r,
      |    CAST(count(*) AS BIGINT) AS cr
      |  FROM dev GROUP BY rk),
      |st AS (
      |  SELECT tot.n AS n_nations, CAST(sum(w_r) AS BIGINT) AS w_pairs,
      |    CAST((1000000 * CAST(tot.n AS HUGEINT) * sum(cross_r))
      |      // (sum(w_r) * sum(sd2)) AS BIGINT) AS i_micro,
      |    CAST((-1000000) // (tot.n - 1) AS BIGINT) AS e_i_micro
      |  FROM reg CROSS JOIN tot GROUP BY tot.n)
      |SELECT reg.rk AS regionkey, reg.cr AS n_in_region,
      |  CAST(reg.cross_r // 1000000 AS BIGINT) AS cross_sum_m,
      |  st.n_nations, st.w_pairs, st.i_micro, st.e_i_micro,
      |  CAST(st.i_micro > st.e_i_micro AS INT) AS positive_autocorr
      |FROM reg CROSS JOIN st ORDER BY regionkey""".stripMargin

  /** q428 — 4-truss peeling of the co-purchase part graph: the
    * EDGE-level cohesion ladder beside q209's node-level k-core. An
    * edge survives a round when it closes ≥ 2 triangles WITHIN the
    * surviving edge set (truss support k−2 for k=4); dropping weak
    * edges lowers neighbors' support, so peeling CASCADES — trusses
    * are strictly stronger than cores (every 4-truss edge sits in a
    * 3-core, not vice versa) and are the standard community-core
    * primitive triangle counts (q109 global, q353 spectrum) only
    * describe statically. Fixed 3 rounds (stated horizon — the
    * q209/q91 fixed-iteration precedent; a converged peel makes
    * further rounds no-ops). Per round the output row carries
    * edges-in, triangle count, and edges-kept — all exact integers.
    *
    * 100 TB shape: edges come from the bounded per-order set explode
    * (never a row self-join); each round's triangle enumeration is
    * the a<b<c oriented double join (q109/q353 discipline — the
    * intermediate is bounded by oriented wedge counts, not degree²);
    * support is three projections of the triangle list + one shuffle
    * on the edge key; each generation is localCheckpoint-ed (lineage
    * doubles per round otherwise). Round stats reach the driver as
    * three scalar counts per round — never data rows. */
  def q428(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rounds = 3
    val lp = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    var edges = lp.groupBy($"ok")
      .agg(sort_array(collect_list($"p")).as("ps"))
      .select(explode(filter(
        flatten(transform($"ps",
          a => transform($"ps", b => struct(a.as("a"), b.as("b"))))),
        pr => pr("a") < pr("b"))).as("e"))
      .select($"e.a".as("a"), $"e.b".as("b"))
      .distinct()
      .transform(graft.Fx.materialize)
    val stats = (1 to rounds).map { i =>
      val edgesIn = edges.count()
      val tri = edges.as("e1")
        .join(edges.as("e2"), $"e1.b" === $"e2.a")
        .join(edges.as("e3"), $"e2.b" === $"e3.b" && $"e1.a" === $"e3.a")
        .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
        .transform(graft.Fx.materialize) // consumed 4x: count + 3 edge projections
      val nTri = tri.count()
      val support = tri.select($"x".as("a"), $"y".as("b"))
        .unionAll(tri.select($"x".as("a"), $"z".as("b")))
        .unionAll(tri.select($"y".as("a"), $"z".as("b")))
        .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
      edges = edges.join(support, Seq("a", "b"), "left")
        .filter(coalesce($"sup", lit(0L)) >= 2L)
        .select($"a", $"b")
        .transform(graft.Fx.materialize)
      (i, edgesIn, nTri, edges.count())
    }
    s.createDataFrame(stats)
      .toDF("round", "edges_in", "n_triangles", "edges_kept")
      .orderBy($"round")
  }

  val q428Sql: String = {
    val rounds = 3
    val gens = (1 to rounds).map { i =>
      s"""tri_$i AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e${i - 1} e1
         |  JOIN e${i - 1} e2 ON e1.b = e2.a
         |  JOIN e${i - 1} e3 ON e1.a = e3.a AND e2.b = e3.b),
         |sup_$i AS MATERIALIZED (
         |  SELECT a, b, count(*) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tri_$i
         |    UNION ALL SELECT x, z FROM tri_$i
         |    UNION ALL SELECT y, z FROM tri_$i) t
         |  GROUP BY a, b),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  LEFT JOIN sup_$i s ON e.a = s.a AND e.b = s.b
         |  WHERE coalesce(s.sup, 0) >= 2)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to rounds).map(i =>
      s"""SELECT $i AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e${i - 1}) AS edges_in,
         |  (SELECT CAST(count(*) AS BIGINT) FROM tri_$i) AS n_triangles,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$i) AS edges_kept""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b FROM lp a JOIN lp b
       |  ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2),
       |$gens
       |SELECT * FROM ($rows) u ORDER BY round""".stripMargin
  }

  /** q444 — NODF nestedness of the customer×brand bipartite graph,
    * brand side: are small brands' customer bases SUBSETS of big
    * brands' (a nested market — every niche buyer is also a
    * mass-market buyer) or their own islands? For every brand pair
    * with deg_i > deg_j the paired overlap is |N_i ∩ N_j|/deg_j
    * (ties contribute 0 — the standard NODF rule), and NODF is the
    * mean over ALL unordered pairs. 10⁶ = perfectly nested, 0 =
    * disjoint tiers — community structure q365's modularity and
    * q385's homophily measure by DENSITY, not CONTAINMENT. Exact:
    * overlaps and degrees are distinct-counts, each paired overlap
    * one stated micro truncation, NODF one integer division over the
    * k(k−1)/2 pair grid. Each brand row carries degree, rank, and the
    * shared index (the q281 cell convention).
    *
    * Scale shape: one distinct-collapse to (customer, brand) edges;
    * pair overlaps come from the BOUNDED per-customer brand-set
    * explode (≤ brands² pairs per customer, never a row self-join);
    * everything after lives on the brands² grid. */
  def q444(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val cb = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"o_custkey".as("cust"), $"p_brand".as("brand"))
      .distinct()
      .transform(graft.Fx.materialize) // degrees + pair explode
    val deg = cb.groupBy($"brand").agg(count(lit(1)).as("deg"))
      .transform(graft.Fx.materialize) // joined twice + output
    val ov = cb.groupBy($"cust")
      .agg(sort_array(collect_list($"brand")).as("bs"))
      .select(explode(filter(
        flatten(transform($"bs",
          a => transform($"bs", b => struct(a.as("ba"), b.as("bb"))))),
        pr => pr("ba") =!= pr("bb"))).as("e"))
      .select($"e.ba".as("ba"), $"e.bb".as("bb"))
      .groupBy($"ba", $"bb").agg(count(lit(1)).as("ov"))
    val contrib = ov
      .join(deg.select($"brand".as("ba"), $"deg".as("da")), "ba")
      .join(deg.select($"brand".as("bb"), $"deg".as("db")), "bb")
      .filter($"da" > $"db")
      .select(expr("(ov * 1000000) div db").as("c"))
    val k = deg.agg(count(lit(1)).as("k"), sum($"deg").as("n_edges"))
    val nodf = contrib.agg(coalesce(sum($"c"), lit(0L)).as("sc"),
        count(lit(1)).as("n_contributing"))
      .crossJoin(broadcast(k))
      .select($"k", $"n_edges", $"n_contributing",
        when($"k" > 1L, expr("sc div ((k * (k - 1)) div 2)"))
          .as("nodf_micro"))
    deg.withColumn("rank", row_number().over(
        Window.orderBy($"deg".desc, $"brand")))
      .crossJoin(broadcast(nodf))
      .select($"brand", $"deg".as("degree"), $"rank",
        $"n_contributing", $"nodf_micro")
      .orderBy($"brand")
  }

  val q444Sql: String =
    """WITH cb AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      |  FROM orders o
      |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey),
      |deg AS MATERIALIZED (
      |  SELECT brand, CAST(count(*) AS BIGINT) AS deg FROM cb GROUP BY 1),
      |ov AS MATERIALIZED (
      |  SELECT a.brand AS ba, b.brand AS bb, CAST(count(*) AS BIGINT) AS ov
      |  FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand <> b.brand
      |  GROUP BY 1, 2),
      |contrib AS (
      |  SELECT (ov.ov * 1000000) // db.deg AS c
      |  FROM ov
      |  JOIN deg da ON da.brand = ov.ba
      |  JOIN deg db ON db.brand = ov.bb
      |  WHERE da.deg > db.deg),
      |kk AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(deg) AS BIGINT) AS n_edges FROM deg),
      |nodf AS (
      |  SELECT kk.k, kk.n_edges,
      |    (SELECT CAST(count(*) AS BIGINT) FROM contrib) AS n_contributing,
      |    CASE WHEN kk.k > 1 THEN
      |      (SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) FROM contrib)
      |        // ((kk.k * (kk.k - 1)) // 2) END AS nodf_micro
      |  FROM kk)
      |SELECT d.brand, d.deg AS degree,
      |  CAST(row_number() OVER (ORDER BY d.deg DESC, d.brand) AS INT)
      |    AS rank,
      |  nodf.n_contributing, nodf.nodf_micro
      |FROM deg d CROSS JOIN nodf
      |ORDER BY d.brand""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q444_brand_nestedness", q444, Some(q444Sql)),
    QueryDef("q428_ktruss_peel", q428, Some(q428Sql)),
    QueryDef("q407_morans_i", q407, Some(q407Sql)),
    QueryDef("q418_hits_authority", q418, Some(q418Sql)),
    QueryDef("q420_double_sweep_diameter", q420, Some(q420Sql)),
    QueryDef("q350_degree_assortativity", q350, Some(q350Sql)),
    QueryDef("q399_rich_club", q399, Some(q399Sql)),
    QueryDef("q360_attack_robustness", q360, Some(q360Sql)),
    QueryDef("q365_lpa_modularity", q365, Some(q365Sql)),
    QueryDef("q385_brand_homophily", q385, Some(q385Sql)),
    QueryDef("q352_ra_link_prediction", q352, Some(q352Sql)),
    QueryDef("q353_clustering_spectrum", q353, Some(q353Sql)),
    QueryDef("q91_pagerank_iterative", q91, Some(q91Sql)),
    QueryDef("q209_kcore_peel", q209, Some(q209Sql)),
    QueryDef("q323_label_propagation", q323, Some(q323Sql)))
}
