package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked similarity-search queries over `embeddings`
  * (64-dim float vectors): brute-force cosine top-k, label centroids,
  * and IVF-style sign-bucketed ANN.
  */
object SimilarityQueries {
  import Fx._

  private def queriesDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
  }

  /** Brute-force cosine top-10 per query vector. */
  def q60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Similarity.bruteForceTopK(queriesDf(s, d), Tables.embeddings(s, d), k = 10)
      .select($"q_id", $"vec_id", r6($"sim").as("sim"), $"rn".cast("long").as("rn"))
      .orderBy($"q_id", $"rn")
  }

  private val cosSql =
    "list_dot_product(q_vec, t_vec) / (sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(t_vec, t_vec)))"

  val q60Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims)
       |SELECT q_id, vec_id, ${sqlR6("sim")} AS sim, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** Per-label centroids of the leading dims + vector counts. */
  def q61(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    e.groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        r6(avg(element_at($"embedding", 1).cast("double"))).as("c1"),
        r6(avg(element_at($"embedding", 2).cast("double"))).as("c2"),
        r6(avg(element_at($"embedding", 3).cast("double"))).as("c3"),
        r6(avg(element_at($"embedding", 4).cast("double"))).as("c4"))
      .orderBy($"label")
  }

  val q61Sql: String =
    s"""SELECT label, count(*) AS n_vecs,
       |${sqlR6("avg(CAST(embedding[1] AS DOUBLE))")} AS c1,
       |${sqlR6("avg(CAST(embedding[2] AS DOUBLE))")} AS c2,
       |${sqlR6("avg(CAST(embedding[3] AS DOUBLE))")} AS c3,
       |${sqlR6("avg(CAST(embedding[4] AS DOUBLE))")} AS c4
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  private val ivfBits = 4

  /** IVF-style ANN: sign-bucket equi-join + per-bucket top-5. */
  def q62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Similarity.ivfTopK(queriesDf(s, d), Tables.embeddings(s, d), k = 5, bits = ivfBits)
      .select($"q_id", $"vec_id", r6($"sim").as("sim"), $"rn".cast("long").as("rn"))
      .orderBy($"q_id", $"rn")
  }

  val q62Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", ivfBits)
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS bucket
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS bucket FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t JOIN q ON t.bucket = q.bucket AND vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims)
       |SELECT q_id, vec_id, ${sqlR6("sim")} AS sim, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** q252 — FILTERED ANN: top-5 neighbors among vectors satisfying a
    * metadata predicate (`label = 2`), with the predicate pushed INTO
    * the candidate side BEFORE bucketing — the retrieval user's second
    * query is always "nearest to x WHERE lang = 'en'". Post-filtering
    * an unfiltered top-k under-fills (with ~25% selectivity an
    * unfiltered top-5 keeps ~1 matching row); pushing the predicate
    * fills all k slots from matching vectors AND reaches the parquet
    * scan as a PushedFilter, so non-matching vectors are never decoded
    * (PlanSpec-style assertion in IvfIndexSpec for the trained-KMeans
    * twin, IvfIndex.search(predicate=...)). Deterministic sign-bucket
    * cells (the q62 mechanism) keep the whole semantics
    * SQL-expressible, so the oracle restates bucket + filter + rank
    * exactly. */
  def q252(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val filtered = Tables.embeddings(s, d).filter($"label" === 2)
    Similarity.ivfTopK(queriesDf(s, d), filtered, k = 5, bits = ivfBits)
      .select($"q_id", $"vec_id", r6($"sim").as("sim"), $"rn".cast("long").as("rn"))
      .orderBy($"q_id", $"rn")
  }

  val q252Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", ivfBits)
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS bucket
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS bucket FROM embeddings WHERE label = 2),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t JOIN q ON t.bucket = q.bucket AND vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims)
       |SELECT q_id, vec_id, ${sqlR6("sim")} AS sim, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** q255 — reciprocal-rank fusion of two retrieval rankings (the
    * standard hybrid-search combiner): each query's cosine top-10 and
    * dot-product top-10 (similarity vs magnitude-sensitive relevance —
    * the embedding analogue of dense + sparse) fuse by
    * RRF(d) = Σ_lists 1/(60 + rank_list(d)), and the fused top-5 is
    * returned. Determinism without float summation: each contribution
    * is the INTEGER floor(10⁹/(60+rank)) — integer div both engines —
    * so the fused score is an exact BIGINT sum, order-free, and the
    * fused ranking breaks ties by vec_id.
    *
    * Scale shape: one candidate pass computes both similarities
    * (queries broadcast), each list reduces through the bounded-heap
    * TopKPerGroup, and everything after the union is ≤ 2k rows per
    * query (windows sit above aggregates/TopK — guard-clean). */
  def q255(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val k = 10
    val t = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val pairs = t.crossJoin(broadcast(queriesDf(s, d)))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", Similarity.cosineNative(
        Similarity.toDoubleArr($"q_vec"), Similarity.toDoubleArr($"embedding")))
      .withColumn("dp", Similarity.dot(
        Similarity.toDoubleArr($"q_vec"), Similarity.toDoubleArr($"embedding")))
    def listContrib(score: String): DataFrame = {
      val top = graft.plans.TopK.perGroup(pairs, k, Seq("q_id"),
        Seq(graft.plans.TopK.desc(score), graft.plans.TopK.asc("vec_id")))
      top.withColumn("rn", row_number().over(
          Window.partitionBy($"q_id").orderBy(col(score).desc, $"vec_id")))
        .select($"q_id", $"vec_id", expr("1000000000 div (60 + rn)").as("contrib"))
    }
    listContrib("cos").unionByName(listContrib("dp"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"contrib").as("rrf"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"rrf".desc, $"vec_id")))
      .filter($"rn" <= 5)
      .select($"q_id", $"vec_id", $"rrf", $"rn".cast("long").as("rn"))
      .orderBy($"q_id", $"rn")
  }

  val q255Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS cos,
       |    list_dot_product(q_vec, t_vec) AS dp
       |  FROM t, q WHERE vec_id <> q_id),
       |rc AS (SELECT q_id, vec_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |       FROM sims),
       |rd AS (SELECT q_id, vec_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dp DESC, vec_id) AS rn
       |       FROM sims),
       |u AS (
       |  SELECT q_id, vec_id, CAST(1000000000 // (60 + rn) AS BIGINT) AS contrib
       |  FROM rc WHERE rn <= 10
       |  UNION ALL
       |  SELECT q_id, vec_id, CAST(1000000000 // (60 + rn) AS BIGINT) AS contrib
       |  FROM rd WHERE rn <= 10),
       |f AS (SELECT q_id, vec_id, CAST(sum(contrib) AS BIGINT) AS rrf
       |      FROM u GROUP BY 1, 2),
       |r AS (SELECT q_id, vec_id, rrf,
       |        row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS rn
       |      FROM f)
       |SELECT q_id, vec_id, rrf, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** Full-64-dim per-label centroids via the typed VectorCentroid
    * Aggregator (two-phase partial/merge), exploded to long format
    * `(label, dim, n_vecs, c)` so every dimension is a scalar column —
    * driver-hashable and mirrored in DuckDB by a per-dim average. */
  def q63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val centroid = graft.functions.VectorCentroid.centroid(64)
    Tables.embeddings(s, d)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"), centroid($"embedding").as("centroid"))
      .select($"label", $"n_vecs", posexplode($"centroid"))
      .select($"label", ($"pos" + 1).cast("long").as("dim"), $"n_vecs",
        r6($"col").as("c"))
      .orderBy($"label", $"dim")
  }

  val q63Sql: String =
    s"""SELECT e.label, CAST(d.dim AS BIGINT) AS dim, count(*) AS n_vecs,
       |  ${sqlR6("avg(CAST(e.embedding[d.dim] AS DOUBLE))")} AS c
       |FROM embeddings e, (SELECT unnest(range(1, 65)) AS dim) d
       |GROUP BY e.label, d.dim
       |ORDER BY label, dim""".stripMargin

  /** q127 — SQ8 scalar-quantized ANN with an exact-recall audit: each
    * embedding dimension is linearly quantized to an 8-bit code against
    * the corpus per-dim min/max (the FAISS "SQ8" scheme — 4× smaller
    * than float32, decoded at scan speed), queries rank the
    * RECONSTRUCTED vectors (asymmetric distance: exact query side,
    * quantized target side), and every result row carries an
    * `in_exact` flag marking whether it also appears in the exact
    * float top-10 — the per-query recall audit, inline.
    *
    * Scale: the 64-row min/max stats broadcast back to a per-row
    * codec expression (no shuffle on the corpus side); both rankings
    * reduce through the native bounded-heap TopKPerGroup.
    * Determinism: quantize/reconstruct arithmetic is written in the
    * same operator shape in both engines over identical doubles, and
    * cosine is the same sequential fold as q60. */
  def q127(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val recon = Similarity.sq8Reconstructed(e, "vec_id", "embedding", 64)
    val qd = queriesDf(s, d)
    val quant = Similarity.bruteForceTopK(qd, recon, k = 10, tVec = "recon")
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id".as("eq_id"), $"vec_id".as("e_vec"), lit(1).as("hit"))
    quant.join(exact, $"q_id" === $"eq_id" && $"vec_id" === $"e_vec", "left")
      .select($"q_id", $"rn".cast("long").as("rn"), $"vec_id",
        r6($"sim").as("sim_q"), coalesce($"hit", lit(0)).as("in_exact"))
      .orderBy($"q_id", $"rn")
  }

  val q127Sql: String = {
    val codec = "mn[i] + ((CASE WHEN (mx[i] - mn[i]) = 0 THEN 0.0 " +
      "ELSE least(floor((CAST(embedding[i] AS DOUBLE) - mn[i]) * 255.0 / (mx[i] - mn[i])), 255.0) " +
      "END) + 0.5) * (mx[i] - mn[i]) / 255.0"
    s"""WITH st AS (
       |  SELECT d.i AS dim, min(CAST(e.embedding[d.i] AS DOUBLE)) AS mn,
       |         max(CAST(e.embedding[d.i] AS DOUBLE)) AS mx
       |  FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) d
       |  GROUP BY d.i),
       |arr AS (SELECT list(mn ORDER BY dim) AS mn, list(mx ORDER BY dim) AS mx
       |        FROM st),
       |t AS (
       |  SELECT vec_id, list_transform(range(1, 65), i -> $codec) AS t_vec
       |  FROM embeddings CROSS JOIN arr),
       |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |      FROM embeddings WHERE vec_id < 5),
       |simq AS (SELECT q_id, vec_id, $cosSql AS sim
       |         FROM t, q WHERE vec_id <> q_id),
       |rq AS (SELECT q_id, vec_id, sim,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |       FROM simq),
       |te AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sime AS (SELECT q_id, vec_id, $cosSql AS sim
       |         FROM te t, q WHERE vec_id <> q_id),
       |re AS (SELECT q_id, vec_id,
       |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |       FROM sime)
       |SELECT rq.q_id, CAST(rq.rn AS BIGINT) AS rn, rq.vec_id,
       |  ${sqlR6("rq.sim")} AS sim_q,
       |  CAST(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_exact
       |FROM rq LEFT JOIN (SELECT q_id, vec_id FROM re WHERE rn <= 10) x
       |  ON rq.q_id = x.q_id AND rq.vec_id = x.vec_id
       |WHERE rq.rn <= 10
       |ORDER BY rq.q_id, rq.rn""".stripMargin
  }

  /** q186 — MMR diversified rerank (k=5 of the top-20, λ=0.7): the
    * greedy selection itself is oracle-checked, not just the candidate
    * set. The DuckDB mirror UNROLLS the k greedy steps as chained
    * window CTEs (each step joins the previous 1-row-per-query picks
    * and takes the arg-max of λ·rel − (1−λ)·greatest(pairwise cos)
    * with vec_id tie-break) — every cosine is the same sequential
    * fold on both sides, λ appears only as shared literals, and the
    * diversity weight is written `1 − 0.7` in BOTH engines (0.3 as a
    * literal would be a DIFFERENT double than the computed 1−λ). */
  def q186(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Similarity.mmrRerank(queriesDf(s, d), Tables.embeddings(s, d),
      k = 5, c = 20, lambda = 0.7)
      .select($"q_id", $"vec_id", $"mmr_rank",
        r6($"rel").as("rel"), r6($"mmr").as("mmr"))
      .orderBy($"q_id", $"mmr_rank")
  }

  val q186Sql: String = {
    def cosPair(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val k = 5
    val steps = (1 to k).map { n =>
      val prev = 1 until n
      val score =
        if (prev.isEmpty) "0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * 0::DOUBLE"
        else {
          val sims = prev.map(i => cosPair("c.t_vec", s"s$i.t_vec")).mkString(", ")
          s"0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * greatest($sims)"
        }
      val joins = prev.map(i => s"JOIN s$i ON s$i.q_id = c.q_id").mkString(" ")
      val excl = prev.map(i => s"c.vec_id <> s$i.vec_id").mkString(" AND ")
      val where = if (prev.isEmpty) "" else s"WHERE $excl"
      s"""s$n AS (
         |  SELECT q_id, vec_id, t_vec, rel, mmr FROM (
         |    SELECT c.q_id, c.vec_id, c.t_vec, c.rel, $score AS mmr,
         |      row_number() OVER (PARTITION BY c.q_id
         |        ORDER BY $score DESC, c.vec_id) AS pick
         |    FROM cand c $joins $where) z
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(n =>
      s"SELECT q_id, vec_id, CAST($n AS BIGINT) AS mmr_rank, ${sqlR6("rel")} AS rel, ${sqlR6("mmr")} AS mmr FROM s$n")
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, t_vec, $cosSql AS rel
       |  FROM t, q WHERE vec_id <> q_id),
       |cand AS (
       |  SELECT q_id, vec_id, t_vec, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
       |    FROM sims) r WHERE rn <= 20),
       |$steps
       |$out
       |ORDER BY q_id, mmr_rank""".stripMargin
  }

  /** q187 — hard-negative mining for contrastive training: for each
    * anchor, the most-similar vector of a DIFFERENT label (the hard
    * negative), the most-similar of the SAME label (the positive), and
    * the triplet margin pos−neg (negative margin ⇒ the anchor's
    * nearest neighbor crosses the label boundary — the examples a
    * contrastive batch builder wants). One broadcast-anchor pass over
    * the corpus; both arg-maxes reduce through the native bounded heap
    * (k=1), never a window over the full candidate set. */
  def q187(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val anchors = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("a_id"), $"embedding".as("a_vec"),
        $"label".as("a_label"))
    val joined = emb.crossJoin(broadcast(anchors))
      .filter($"a_id" =!= $"vec_id")
      .withColumn("sim", Similarity.cosineNative(
        Similarity.toDoubleArr($"a_vec"), Similarity.toDoubleArr($"embedding")))
    def best(cands: DataFrame, idAs: String, simAs: String): DataFrame =
      graft.plans.TopK.perGroup(cands, 1, Seq("a_id"),
        Seq(graft.plans.TopK.desc("sim"), graft.plans.TopK.asc("vec_id")))
        .select($"a_id", $"a_label", $"vec_id".as(idAs), $"sim".as(simAs))
    val pos = best(joined.filter($"label" === $"a_label"), "pos_id", "pos_sim")
    val neg = best(joined.filter($"label" =!= $"a_label"), "neg_id", "neg_sim")
      .drop("a_label")
    // both sides are |anchors| rows — broadcast so the final join never
    // plans a sort-merge exchange on the tiny frames
    pos.join(broadcast(neg), "a_id")
      .select($"a_id", $"a_label".cast("int").as("a_label"),
        $"pos_id", r6($"pos_sim").as("pos_sim"),
        $"neg_id", r6($"neg_sim").as("neg_sim"),
        r6($"pos_sim" - $"neg_sim").as("margin"))
      .orderBy($"a_id")
  }

  val q187Sql: String =
    s"""WITH a AS (SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  label AS a_label
       |           FROM embeddings WHERE vec_id < 8),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec, label
       |      FROM embeddings),
       |sims AS (
       |  SELECT a_id, a_label, vec_id, label, $cosSql AS sim
       |  FROM t, a WHERE vec_id <> a_id),
       |pos AS (
       |  SELECT a_id, a_label, vec_id AS pos_id, sim AS pos_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM sims WHERE label = a_label) p WHERE rn = 1),
       |neg AS (
       |  SELECT a_id, vec_id AS neg_id, sim AS neg_sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM sims WHERE label <> a_label) n WHERE rn = 1)
       |SELECT pos.a_id AS a_id, CAST(a_label AS INT) AS a_label,
       |  pos_id, ${sqlR6("pos_sim")} AS pos_sim,
       |  neg_id, ${sqlR6("neg_sim")} AS neg_sim,
       |  ${sqlR6("pos_sim - neg_sim")} AS margin
       |FROM pos JOIN neg ON pos.a_id = neg.a_id
       |ORDER BY a_id""".stripMargin

  /** q190 — retrieval-quality evaluation of the ANN path against the
    * exact ranking, as a QUERY (the eval harness a production ANN
    * rollout gates on): per query, overlap@10, recall@10, the ANN rank
    * of the exact top-1 neighbor, and its reciprocal rank. Every
    * metric is a RATIONAL of small integers (counts and 1/rank) — the
    * reason nDCG, whose log2 discount is a libm transcendental, is
    * not in the oracle set. Rank-0 encodes "exact top-1 not retrieved"
    * (stated; NULL would hash differently across engines). */
  def q190(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = queriesDf(s, d)
    val e = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id", $"vec_id", $"rn".as("e_rn"))
    val approx = Similarity.ivfTopK(qd, e, k = 10, bits = ivfBits)
      .select($"q_id".as("aq_id"), $"vec_id".as("a_vec"), $"rn".as("a_rn"))
    val joined = exact.join(broadcast(approx),
      $"q_id" === $"aq_id" && $"vec_id" === $"a_vec", "left")
    val perQ = joined.groupBy($"q_id")
      .agg(
        count($"a_rn").as("n_overlap"),
        min(when($"e_rn" === 1, coalesce($"a_rn", lit(0L)))).as("top1_rank"))
    perQ.select($"q_id", $"n_overlap",
        r6($"n_overlap" / lit(10L)).as("recall_at_10"),
        $"top1_rank".cast("long").as("top1_rank"),
        r6(when($"top1_rank" > 0, lit(1.0) / $"top1_rank").otherwise(lit(0.0)))
          .as("top1_rr"))
      .orderBy($"q_id")
  }

  val q190Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", ivfBits)
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS bucket
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS bucket FROM embeddings),
       |e10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cosSql AS sim
       |          FROM t, q WHERE vec_id <> q_id) s) r WHERE rn <= 10),
       |a10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cosSql AS sim
       |          FROM t, q WHERE vec_id <> q_id AND t.bucket = q.bucket) s) r
       |  WHERE rn <= 10),
       |j AS (
       |  SELECT e10.q_id, e10.rn AS e_rn, a10.rn AS a_rn
       |  FROM e10 LEFT JOIN a10
       |    ON e10.q_id = a10.q_id AND e10.vec_id = a10.vec_id)
       |SELECT q_id, count(a_rn) AS n_overlap,
       |  ${sqlR6("count(a_rn) / 10")} AS recall_at_10,
       |  CAST(min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) AS BIGINT) AS top1_rank,
       |  ${sqlR6("CASE WHEN min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) > 0 THEN 1::DOUBLE / min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) ELSE 0::DOUBLE END")} AS top1_rr
       |FROM j GROUP BY q_id
       |ORDER BY q_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q224 — corpus-level retrieval eval (exact-integer MRR / hit@k)
  // ------------------------------------------------------------------

  /** q224 — the corpus-level retrieval scorecard for the IVF index
    * against exact brute-force ground truth: one row with hit@1 /
    * hit@5 / hit@10 counts (does the true nearest neighbor appear in
    * the approximate top-k?), macro recall@10, and the mean reciprocal
    * rank — q190's per-query diagnostics rolled up into the number a
    * training pipeline actually gates an index build on.
    *
    * MRR is a sum of 1/rank terms, which are NOT exactly representable
    * as doubles (1/3, 1/7…), so summing them would reintroduce
    * accumulation-order noise. Instead each reciprocal is scaled by
    * lcm(1..10) = 2520: `2520 div rank` is EXACT for every rank ≤ 10,
    * the sum accumulates as a plain long, and the single final
    * division by 2520·n_q is one r6-rounded IEEE op — the same
    * grid-first discipline as [[graft.Fx.moneySum]], transplanted to
    * harmonic weights. Scale shape: identical to q190 (broadcast query
    * side, one shuffle to per-query groups), plus a single-row final
    * aggregate. */
  def q224(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qd = queriesDf(s, d)
    val e = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(qd, e, k = 10)
      .select($"q_id", $"vec_id", $"rn".as("e_rn"))
    val approx = Similarity.ivfTopK(qd, e, k = 10, bits = ivfBits)
      .select($"q_id".as("aq_id"), $"vec_id".as("a_vec"), $"rn".as("a_rn"))
    val perQ = exact.join(broadcast(approx),
        $"q_id" === $"aq_id" && $"vec_id" === $"a_vec", "left")
      .groupBy($"q_id")
      .agg(count($"a_rn").as("n_overlap"),
        min(when($"e_rn" === 1, coalesce($"a_rn", lit(0L)))).as("t1"))
    perQ.agg(
        count(lit(1)).as("n_q"),
        sum(($"t1" === 1).cast("long")).as("n_hit1"),
        sum(($"t1" >= 1 && $"t1" <= 5).cast("long")).as("n_hit5"),
        sum(($"t1" >= 1).cast("long")).as("n_hit10"),
        sum(when($"t1" > 0, expr("2520 div t1")).otherwise(lit(0L)))
          .as("srr"),
        sum($"n_overlap").as("sov"))
      .select($"n_q", $"n_hit1", $"n_hit5", $"n_hit10",
        r6($"srr" / ($"n_q" * 2520L)).as("mrr"),
        r6($"sov" / ($"n_q" * 10L)).as("recall_at_10"))
      .orderBy($"n_q")
  }

  val q224Sql: String = {
    val qb = Similarity.sqlSignBucket("embedding", ivfBits)
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |                  $qb AS bucket
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec,
       |             $qb AS bucket FROM embeddings),
       |e10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cosSql AS sim
       |          FROM t, q WHERE vec_id <> q_id) s) r WHERE rn <= 10),
       |a10 AS (
       |  SELECT q_id, vec_id, rn FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, $cosSql AS sim
       |          FROM t, q WHERE vec_id <> q_id AND t.bucket = q.bucket) s) r
       |  WHERE rn <= 10),
       |j AS (
       |  SELECT e10.q_id, e10.rn AS e_rn, a10.rn AS a_rn
       |  FROM e10 LEFT JOIN a10
       |    ON e10.q_id = a10.q_id AND e10.vec_id = a10.vec_id),
       |perq AS (
       |  SELECT q_id, count(a_rn) AS n_overlap,
       |    min(CASE WHEN e_rn = 1 THEN COALESCE(a_rn, 0) END) AS t1
       |  FROM j GROUP BY q_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_q,
       |  CAST(sum(CASE WHEN t1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
       |  CAST(sum(CASE WHEN t1 BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hit5,
       |  CAST(sum(CASE WHEN t1 >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit10,
       |  ${sqlR6("CAST(sum(CASE WHEN t1 > 0 THEN 2520 // t1 ELSE 0 END) AS BIGINT) / (count(*) * 2520)")}
       |    AS mrr,
       |  ${sqlR6("CAST(sum(n_overlap) AS BIGINT) / (count(*) * 10)")}
       |    AS recall_at_10
       |FROM perq ORDER BY n_q""".stripMargin
  }

  // ------------------------------------------------------------------
  // q232 — embedding-table health audit (norms and degeneracy)
  // ------------------------------------------------------------------

  /** q232 — the pre-ANN health gate on an embedding column: per
    * label, vector count, degenerate rows (zero / near-zero norm —
    * cosine is undefined on them, and an encoder emitting them is
    * broken), unnormalized rows (a mixed-normalization table silently
    * biases inner-product search toward long vectors), and the exact
    * min/max norms. Every production index build runs this before
    * spending cluster-days on the index; it belongs beside q190/q224
    * as the INPUT-side check of the retrieval loop.
    *
    * Determinism: the norm is sqrt of the sequential elementwise
    * dot-product fold (exactly [[Similarity.dot]]'s shape, which
    * q60's oracle already hash-matches) — sqrt is correctly-rounded
    * IEEE, min/max are selections not accumulations, and the
    * threshold comparisons are on exact shared literals. One scan,
    * one partial-aggregating shuffle onto the |labels|-row relation. */
  def q232(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Similarity.toDoubleArr($"embedding")
    val norm = sqrt(Similarity.dot(v, v))
    Tables.embeddings(s, d)
      .select($"label", norm.as("nrm"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(($"nrm" < 1e-6).cast("long")).as("n_degenerate"),
        sum((abs($"nrm" - 1.0) > 0.01).cast("long")).as("n_unnormalized"),
        r6(min($"nrm")).as("min_norm"),
        r6(max($"nrm")).as("max_norm"))
      .orderBy($"label")
  }

  val q232Sql: String =
    s"""WITH n AS (
       |  SELECT label, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings) t)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_degenerate,
       |  CAST(sum(CASE WHEN abs(nrm - 1.0) > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unnormalized,
       |  ${sqlR6("min(nrm)")} AS min_norm,
       |  ${sqlR6("max(nrm)")} AS max_norm
       |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** q277 — DBSCAN density clustering, grid-blocked: the density
    * clusterer that finds arbitrary-shape clusters and labels sparse
    * points NOISE (k-means can do neither; its centroids live in
    * IvfIndex). Semantics are textbook: a point with ≥ minPts−1
    * neighbors within eps (plus itself) is CORE; core points within
    * eps of each other share a cluster (connected components over
    * core-core edges — the repo's own alternating-star CC, min-id
    * labels); a non-core point within eps of a core is BORDER,
    * attached to its minimum-labeled core neighbor (the classic
    * "first-come" ambiguity made deterministic); the rest is noise.
    * All geometry is exact: coordinates land on the 1e-6 integer grid
    * (float→double promotion is exact, floor pins it), and the eps
    * test is integer squared distance — no sqrt anywhere.
    *
    * Scale shape: the neighbor join never goes all-pairs — points
    * block by eps-sized grid cell (truncating div is cell-consistent
    * cross-engine; any pair within eps lands in adjacent cells, so
    * the 9-cell stencil is lossless), giving an equi-join on
    * (cell_x, cell_y) whose bucket width is the local density, and
    * the CC loop runs on the core-core EDGE set, not the corpus. The
    * oracle states the same semantics with the O(n²) join + recursive
    * CTE it is allowed at sf0.01. */
  def q277(s: SparkSession, d: String): DataFrame =
    dbscanAssign(s, d).orderBy(col("vec_id"))

  /** Shared core of q277/q293: (vec_id, n_nbrs, role, cluster). */
  def dbscanAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val eps = 15000L; val minPts = 4
    val pts = Tables.embeddings(s, d).select($"vec_id",
        floor(element_at($"embedding", 1).cast("double") * 1000000L)
          .cast("long").as("xi"),
        floor(element_at($"embedding", 2).cast("double") * 1000000L)
          .cast("long").as("yi"))
      .withColumn("cx", expr(s"xi div $eps"))
      .withColumn("cy", expr(s"yi div $eps"))
      .transform(Fx.materialize)
    val stencil = pts.select($"vec_id".as("b"), $"xi".as("xb"), $"yi".as("yb"),
        $"cx".as("cxb"), $"cy".as("cyb"))
    val offs = Seq(-1L, 0L, 1L)
    val probes = pts.withColumn("dx", explode(array(offs.map(lit): _*)))
      .withColumn("dy", explode(array(offs.map(lit): _*)))
    val nbrs = probes.join(stencil,
        probes("cx") + $"dx" === $"cxb" && probes("cy") + $"dy" === $"cyb")
      .filter($"vec_id" =!= $"b" &&
        ($"xi" - $"xb") * ($"xi" - $"xb") + ($"yi" - $"yb") * ($"yi" - $"yb")
          <= eps * eps)
      .select($"vec_id".as("a"), $"b")
      .transform(Fx.materialize)
    val counts = nbrs.groupBy($"a").agg(count(lit(1)).as("n_nbrs"))
    val roles = pts.join(counts, $"vec_id" === $"a", "left")
      .select($"vec_id", coalesce($"n_nbrs", lit(0L)).as("n_nbrs"))
      .withColumn("is_core", ($"n_nbrs" >= minPts - 1).cast("int"))
      .transform(Fx.materialize)
    val coreIds = roles.filter($"is_core" === 1).select($"vec_id".as("c"))
    val coreEdges = nbrs
      .join(coreIds.withColumnRenamed("c", "__ca"), $"a" === $"__ca")
      .join(coreIds.withColumnRenamed("c", "__cb"), $"b" === $"__cb")
      .select($"a", $"b")
    val comp = Dedup.ccAlternatingStar(coreEdges)
      .withColumnRenamed("doc_id", "__cid")
    // isolated cores (no core neighbor, only border ones) label as
    // their own singleton cluster
    val coreLabel = coreIds.join(comp, $"c" === $"__cid", "left")
      .select($"c", coalesce($"component", $"c").as("cluster"))
      .transform(Fx.materialize)
    val borderLabel = nbrs
      .join(coreLabel.withColumnRenamed("c", "__bc"), $"b" === $"__bc")
      .groupBy($"a").agg(min($"cluster").as("b_cluster"))
    roles
      .join(coreLabel, $"vec_id" === $"c", "left")
      .join(borderLabel, $"vec_id" === $"a", "left")
      .select($"vec_id", $"n_nbrs",
        when($"is_core" === 1, "core")
          .when($"b_cluster".isNotNull, "border")
          .otherwise("noise").as("role"),
        when($"is_core" === 1, $"cluster")
          .otherwise($"b_cluster").as("cluster"))
  }

  /** Shared DBSCAN oracle CTE chain (q277/q293). */
  private val dbscanCtes: String =
    """p AS (
      |  SELECT vec_id,
      |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS xi,
      |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS yi
      |  FROM embeddings),
      |nb AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM p a JOIN p b ON a.vec_id <> b.vec_id
      |    AND (a.xi - b.xi) * (a.xi - b.xi)
      |      + (a.yi - b.yi) * (a.yi - b.yi) <= 15000 * 15000),
      |n AS (SELECT a AS vec_id, count(*) AS n_nbrs FROM nb GROUP BY 1),
      |roles AS (
      |  SELECT p.vec_id, COALESCE(n.n_nbrs, 0) AS n_nbrs,
      |    CASE WHEN COALESCE(n.n_nbrs, 0) >= 3 THEN 1 ELSE 0 END AS is_core
      |  FROM p LEFT JOIN n USING (vec_id)),
      |ce AS (
      |  SELECT nb.a, nb.b FROM nb
      |  JOIN roles ra ON nb.a = ra.vec_id AND ra.is_core = 1
      |  JOIN roles rb ON nb.b = rb.vec_id AND rb.is_core = 1),
      |reach(src, dst) AS (
      |  SELECT a, b FROM ce
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN ce e ON r.dst = e.a),
      |comp AS (
      |  SELECT src AS vec_id, least(src, min(dst)) AS component
      |  FROM reach GROUP BY src),
      |core_label AS (
      |  SELECT r.vec_id, COALESCE(c.component, r.vec_id) AS cluster
      |  FROM roles r LEFT JOIN comp c USING (vec_id)
      |  WHERE r.is_core = 1),
      |border_label AS (
      |  SELECT nb.a AS vec_id, min(cl.cluster) AS b_cluster
      |  FROM nb JOIN core_label cl ON nb.b = cl.vec_id
      |  GROUP BY 1),
      |assign AS (
      |  SELECT r.vec_id, r.n_nbrs, r.is_core,
      |    CASE WHEN r.is_core = 1 THEN 'core'
      |         WHEN bl.b_cluster IS NOT NULL THEN 'border'
      |         ELSE 'noise' END AS role,
      |    CASE WHEN r.is_core = 1 THEN cl.cluster ELSE bl.b_cluster END AS cluster
      |  FROM roles r
      |  LEFT JOIN core_label cl ON r.vec_id = cl.vec_id
      |  LEFT JOIN border_label bl ON r.vec_id = bl.vec_id)""".stripMargin

  val q277Sql: String =
    s"""WITH RECURSIVE $dbscanCtes
       |SELECT vec_id, CAST(n_nbrs AS BIGINT) AS n_nbrs, role, cluster
       |FROM assign ORDER BY vec_id""".stripMargin

  /** q285 — kNN classification scorecard: hold out every fifth
    * vector (vec_id % 5 = 0 — deterministic, no salt needed), predict
    * its label by majority vote among its 10 nearest training
    * neighbors (cosine; ties in the vote break to the smallest
    * label — stated), and emit the confusion matrix in exact counts
    * plus per-true-label accuracy as one r6 division. This is the
    * standard embedding-quality probe: if labels aren't linearly-ish
    * separable in the space, retrieval won't be either (the knob
    * that decides between q60's brute force and q62's IVF).
    *
    * Scale shape: an EVAL harness — the hold-out set is bounded by
    * design (eval sets are curated, not corpus-sized), so the
    * broadcast in bruteForceTopK is the right plan; the vote and
    * argmax windows partition by q_id (high cardinality, ≤10-row
    * frames). */
  def q285(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val test = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("true_label"))
    val train = emb.filter($"vec_id" % 5 =!= 0)
      .transform(Fx.materialize)
    val topk = Similarity.bruteForceTopK(
      test.select($"q_id", $"q_vec"), train, k = 10)
    val labels = train.select($"vec_id".as("t_vid"), $"label".as("t_label"))
    val votes = topk.join(labels, $"vec_id" === $"t_vid")
      .groupBy($"q_id", $"t_label".as("label")).agg(count(lit(1)).as("v"))
    val pred = votes.withColumn("rk",
        row_number().over(Window.partitionBy($"q_id")
          .orderBy($"v".desc, $"label".asc)))
      .filter($"rk" === 1)
      .select($"q_id", $"label".as("pred_label"))
    val conf = test.select($"q_id", $"true_label").join(pred, "q_id")
      .groupBy($"true_label", $"pred_label")
      .agg(count(lit(1)).as("n"))
      .transform(Fx.materialize)
    val totals = conf.groupBy($"true_label").agg(sum($"n").as("n_true"))
      .withColumnRenamed("true_label", "__t")
    val hits = conf.filter($"true_label" === $"pred_label")
      .select($"true_label".as("__h"), $"n".as("n_hit"))
    conf.join(broadcast(totals), $"true_label" === $"__t")
      .join(broadcast(hits), $"true_label" === $"__h", "left")
      .select($"true_label", $"pred_label", $"n", $"n_true",
        r6(coalesce($"n_hit", lit(0L)).cast("double") / $"n_true")
          .as("class_accuracy"))
      .orderBy($"true_label", $"pred_label")
  }

  val q285Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |    label AS true_label
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec, label
       |      FROM embeddings WHERE vec_id % 5 <> 0),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims),
       |votes AS (
       |  SELECT r.q_id, t.label, count(*) AS v
       |  FROM ranked r JOIN t ON r.vec_id = t.vec_id
       |  WHERE r.rn <= 10 GROUP BY 1, 2),
       |pred AS (
       |  SELECT q_id, label AS pred_label FROM (
       |    SELECT q_id, label,
       |      row_number() OVER (PARTITION BY q_id ORDER BY v DESC, label) AS rk
       |    FROM votes) x WHERE rk = 1),
       |conf AS (
       |  SELECT q.true_label, p.pred_label, CAST(count(*) AS BIGINT) AS n
       |  FROM q JOIN pred p ON q.q_id = p.q_id
       |  GROUP BY 1, 2),
       |tot AS (
       |  SELECT true_label, CAST(sum(n) AS BIGINT) AS n_true
       |  FROM conf GROUP BY 1),
       |hits AS (
       |  SELECT true_label, n AS n_hit FROM conf
       |  WHERE true_label = pred_label)
       |SELECT c.true_label, c.pred_label, c.n, t.n_true,
       |  ${sqlR6("CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_true")}
       |    AS class_accuracy
       |FROM conf c
       |JOIN tot t ON c.true_label = t.true_label
       |LEFT JOIN hits h ON c.true_label = h.true_label
       |ORDER BY c.true_label, c.pred_label""".stripMargin

  /** q286 — EXACT-integer PCA: the dominant principal component of
    * the 64-dim embedding covariance by power iteration, with not one
    * float in the pipeline. Coordinates land on the milli grid; the
    * mean-centered covariance uses the n·Σxy − Σx·Σy identity so
    * centering never divides; five power iterations scale by the
    * INFINITY norm instead of the L2 norm (v' = w div (max|w| div
    * 10⁶), floor-guarded) — max is exact where sqrt is not, and
    * ∞-norm scaling converges to the same dominant eigenvector. All
    * products ride DECIMAL(38,0)/HUGEINT (the n²-scaled covariance
    * times a 10⁶-scale vector times 64 terms overflows BIGINT at
    * corpus n — stated, with headroom to n ≈ 10¹¹ rows). Output: the
    * 64 eigenvector coordinates at 10⁶ scale, sign pinned by the
    * e₁ start.
    *
    * Scale shape: ONE distributed pass builds the 64²-cell moment
    * grid (the dim² fan-out is the honest cost of dense covariance;
    * 4096 accumulators); every iteration is a broadcast-v join over
    * that bounded grid with a 64-row collect — driver traffic is 64
    * numbers per round, never data. */
  def q286(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dims = 64
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 1000).cast("long")).as("xm"))
    val cells = emb.select(posexplode($"xm")).toDF("i0", "xi")
      .groupBy($"i0")
      .agg(count(lit(1)).as("n"), sum($"xi").as("sx"))
    val pairs = emb
      .select(posexplode($"xm"), $"xm").toDF("i0", "xi", "xm")
      .select($"i0", $"xi", posexplode($"xm")).toDF("i0", "xi", "j0", "xj")
      .groupBy($"i0", $"j0")
      .agg(sum($"xi".cast("decimal(38,0)") * $"xj").as("sxy"))
    val si = cells.select($"i0".as("__i"), $"n", $"sx".as("sxi"))
    val sj = cells.select($"i0".as("__j"), $"sx".as("sxj"))
    val cov = pairs
      .join(broadcast(si), $"i0" === $"__i")
      .join(broadcast(sj), $"j0" === $"__j")
      .select($"i0".as("i"), $"j0".as("j"),
        ($"n".cast("decimal(38,0)") * $"sxy" -
          $"sxi".cast("decimal(38,0)") * $"sxj").as("c"))
      .transform(Fx.materialize)
    var v: Array[BigInt] =
      Array.tabulate(dims)(i => if (i == 0) BigInt(1000000) else BigInt(0))
    for (_ <- 1 to 5) {
      val vMap = map((0 until dims).flatMap(i =>
        Seq(lit(i), lit(v(i).bigInteger.toString).cast("decimal(38,0)"))): _*)
      val w = cov
        .select($"i", ($"c" * element_at(vMap, $"j")).as("t"))
        .groupBy($"i").agg(sum($"t").as("w"))
        .collect().map(r => r.getInt(0) ->
          BigInt(r.getDecimal(1).toBigInteger)).toMap
      val wArr = Array.tabulate(dims)(i => w.getOrElse(i, BigInt(0)))
      val m = (wArr.map(_.abs).max / BigInt(1000000)).max(BigInt(1))
      v = wArr.map(_ / m) // BigInt / truncates toward zero == div == //
    }
    val rows = (0 until dims).map(i => (i, v(i).toLong))
    s.createDataFrame(rows).toDF("dim", "v_micro").orderBy($"dim")
  }

  val q286Sql: String = {
    val steps = (1 to 5).map { k =>
      s"""w$k AS (
         |  SELECT c.i, CAST(sum(c.c * v${k - 1}.v) AS HUGEINT) AS w
         |  FROM cov c JOIN v${k - 1} ON c.j = v${k - 1}.i GROUP BY 1),
         |m$k AS (SELECT greatest(max(abs(w)) // 1000000, 1) AS m FROM w$k),
         |v$k AS (SELECT i, w // m AS v FROM w$k CROSS JOIN m$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH xm AS (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
       |  FROM embeddings,
       |    LATERAL (SELECT unnest(range(1, 65)) AS i) t),
       |cells AS (
       |  SELECT i, count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx
       |  FROM xm GROUP BY i),
       |sxy AS (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS sxy
       |  FROM xm a JOIN xm b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |cov AS (
       |  SELECT s.i - 1 AS i, s.j - 1 AS j,
       |    CAST(ci.n AS HUGEINT) * s.sxy - ci.sx * cj.sx AS c
       |  FROM sxy s
       |  JOIN cells ci ON s.i = ci.i
       |  JOIN cells cj ON s.j = cj.i),
       |v0 AS (
       |  SELECT i - 1 AS i,
       |    CAST(CASE WHEN i = 1 THEN 1000000 ELSE 0 END AS HUGEINT) AS v
       |  FROM (SELECT unnest(range(1, 65)) AS i) t),
       |$steps
       |SELECT i AS dim, CAST(v AS BIGINT) AS v_micro
       |FROM v5 ORDER BY dim""".stripMargin
  }

  /** q293 — Adjusted Rand Index of the q277 DBSCAN clustering against
    * the embedding labels: the external-validity score that answers
    * "did density clustering recover the label structure, beyond
    * chance?". Noise points count as one cluster (stated — dropping
    * them would flatter the score). The classic ARI is a ratio of
    * rationals; multiplying through by 2·C(n,2) makes BOTH sides
    * integers: ari = (2·C₂·P − 2·A·B) / (C₂·(A+B) − 2·A·B) with
    * P/A/B the pair-count sums nᵢⱼ(nᵢⱼ−1) over the contingency
    * cells/margins and C₂ = n(n−1) — every term DECIMAL(38,0)/
    * HUGEINT (pair counts hit n² scale), the emitted index one
    * micro-grid division (null if the denominator degenerates).
    *
    * Scale shape: everything beyond the q277 assignment is a
    * contingency rollup (bounded: clusters × labels) and
    * broadcast-size arithmetic. */
  def q293(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assign = dbscanAssign(s, d)
      .select($"vec_id", coalesce($"cluster", lit(-1L)).as("cl"))
    val withLabel = assign
      .join(Tables.embeddings(s, d).select($"vec_id", $"label"), "vec_id")
    val cells = withLabel.groupBy($"cl", $"label")
      .agg(count(lit(1)).as("nij"))
      .transform(Fx.materialize)
    val p = cells.agg(
      sum(expr("cast(nij as decimal(38,0)) * (nij - 1)")).as("p2"),
      sum($"nij").as("n"),
      countDistinct($"cl").as("n_clusters"),
      countDistinct($"label").as("n_labels"))
    val a = cells.groupBy($"cl").agg(sum($"nij").as("ai"))
      .agg(sum(expr("cast(ai as decimal(38,0)) * (ai - 1)")).as("a2"))
    val b = cells.groupBy($"label").agg(sum($"nij").as("bj"))
      .agg(sum(expr("cast(bj as decimal(38,0)) * (bj - 1)")).as("b2"))
    p.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .withColumn("c2", expr("cast(n as decimal(38,0)) * (n - 1)"))
      .withColumn("num", expr("2 * c2 * p2 - 2 * a2 * b2"))
      .withColumn("den", expr("c2 * (a2 + b2) - 2 * a2 * b2"))
      .select($"n", $"n_clusters", $"n_labels",
        $"p2".cast("long").as("pair_same_both2"),
        $"a2".cast("long").as("pair_same_cluster2"),
        $"b2".cast("long").as("pair_same_label2"),
        when($"den" =!= 0, expr("(num * 1000000) div den"))
          .as("ari_micro"))
  }

  val q293Sql: String =
    s"""WITH RECURSIVE $dbscanCtes,
       |wl AS (
       |  SELECT a.vec_id, COALESCE(a.cluster, -1) AS cl, e.label
       |  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id),
       |cells AS (
       |  SELECT cl, label, CAST(count(*) AS BIGINT) AS nij
       |  FROM wl GROUP BY 1, 2),
       |pp AS (
       |  SELECT CAST(sum(CAST(nij AS HUGEINT) * (nij - 1)) AS HUGEINT) AS p2,
       |    CAST(sum(nij) AS BIGINT) AS n,
       |    CAST(count(DISTINCT cl) AS BIGINT) AS n_clusters,
       |    CAST(count(DISTINCT label) AS BIGINT) AS n_labels
       |  FROM cells),
       |aa AS (
       |  SELECT CAST(sum(CAST(ai AS HUGEINT) * (ai - 1)) AS HUGEINT) AS a2
       |  FROM (SELECT cl, CAST(sum(nij) AS BIGINT) AS ai
       |        FROM cells GROUP BY cl) t),
       |bb AS (
       |  SELECT CAST(sum(CAST(bj AS HUGEINT) * (bj - 1)) AS HUGEINT) AS b2
       |  FROM (SELECT label, CAST(sum(nij) AS BIGINT) AS bj
       |        FROM cells GROUP BY label) t)
       |SELECT n, n_clusters, n_labels,
       |  CAST(p2 AS BIGINT) AS pair_same_both2,
       |  CAST(a2 AS BIGINT) AS pair_same_cluster2,
       |  CAST(b2 AS BIGINT) AS pair_same_label2,
       |  CASE WHEN CAST(n AS HUGEINT) * (n - 1) * (a2 + b2) - 2 * a2 * b2 <> 0
       |    THEN CAST(((2 * CAST(n AS HUGEINT) * (n - 1) * p2 - 2 * a2 * b2) * 1000000)
       |         // (CAST(n AS HUGEINT) * (n - 1) * (a2 + b2) - 2 * a2 * b2) AS BIGINT)
       |  END AS ari_micro
       |FROM pp CROSS JOIN aa CROSS JOIN bb""".stripMargin

  /** q303 — trustworthiness of the 2-D projection: when q277/q293
    * cluster on the first two embedding dims, how much neighborhood
    * structure did that projection keep? The sklearn-standard metric
    * T(k) = 1 − 2/(n·k·(2n−3k−1)) Σᵢ Σ_{j∈Uᵢ} (r(i,j) − k), where Uᵢ
    * is the points inside i's k-NN in the PROJECTION but outside it
    * in the full 64-dim space, and r is the full-space rank. Here it
    * is EXACT: both distance fields are integer squared Euclidean
    * (64-dim on the milli grid, 2-D on the micro grid), ranks break
    * ties by vec_id, the penalty is a BIGINT sum and T lands on the
    * micro grid in one division. T ≈ 1 ⇒ the cheap 2-D density
    * clustering is trustworthy; T low ⇒ q277's clusters are
    * projection artifacts. k = 10.
    *
    * Scale shape: an EVAL harness over the bounded embedding sample
    * (all-pairs by design, like every trustworthiness
    * implementation); corpus-scale neighbor search stays in
    * IVF/PQ. */
  def q303(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val k = 10
    val pts = Tables.embeddings(s, d).select($"vec_id",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("hm"),
        floor(element_at($"embedding", 1).cast("double") * 1000000L)
          .cast("long").as("xi"),
        floor(element_at($"embedding", 2).cast("double") * 1000000L)
          .cast("long").as("yi"))
      .transform(Fx.materialize)
    val b = pts.select($"vec_id".as("j"), $"hm".as("hmb"),
      $"xi".as("xb"), $"yi".as("yb"))
    val pairs = pts.crossJoin(broadcast(b)).filter($"vec_id" =!= $"j")
      .withColumn("d_high",
        expr("aggregate(zip_with(hm, hmb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("d_low",
        ($"xi" - $"xb") * ($"xi" - $"xb") + ($"yi" - $"yb") * ($"yi" - $"yb"))
      .select($"vec_id".as("i"), $"j", $"d_high", $"d_low")
    val ranked = pairs
      .withColumn("r_high", row_number().over(
        Window.partitionBy($"i").orderBy($"d_high", $"j")))
      .withColumn("r_low", row_number().over(
        Window.partitionBy($"i").orderBy($"d_low", $"j")))
    val pen = ranked.filter($"r_low" <= k && $"r_high" > k)
      .agg(count(lit(1)).as("n_violations"),
        sum($"r_high" - lit(k)).as("penalty_sum"))
    val n = pts.count()
    val denom = n * k * (2 * n - 3 * k - 1)
    pen.select(lit(n).as("n"), lit(k).as("k"),
        coalesce($"n_violations", lit(0L)).as("n_violations"),
        coalesce($"penalty_sum", lit(0L)).as("penalty_sum"),
        (lit(1000000L) -
          expr(s"(2 * coalesce(penalty_sum, 0) * 1000000) div ${denom}L"))
          .as("trust_micro"))
  }

  val q303Sql: String =
    """WITH p AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS hm,
      |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS xi,
      |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS yi
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |    list_sum(list_transform(range(1, len(a.hm) + 1),
      |      t -> (a.hm[t] - b.hm[t]) * (a.hm[t] - b.hm[t]))) AS d_high,
      |    (a.xi - b.xi) * (a.xi - b.xi) + (a.yi - b.yi) * (a.yi - b.yi) AS d_low
      |  FROM p a JOIN p b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT i, j,
      |    row_number() OVER (PARTITION BY i ORDER BY d_high, j) AS r_high,
      |    row_number() OVER (PARTITION BY i ORDER BY d_low, j) AS r_low
      |  FROM pairs),
      |pen AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_violations,
      |    CAST(COALESCE(sum(r_high - 10), 0) AS BIGINT) AS penalty_sum
      |  FROM ranked WHERE r_low <= 10 AND r_high > 10),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
      |SELECT nn.n, CAST(10 AS INT) AS k, pen.n_violations, pen.penalty_sum,
      |  1000000 - CAST((2 * pen.penalty_sum * 1000000)
      |       // (nn.n * 10 * (2 * nn.n - 31)) AS BIGINT) AS trust_micro
      |FROM pen CROSS JOIN nn""".stripMargin

  /** q314 — MAP@10 retrieval scorecard: mean average precision of the
    * cosine kNN retrieval with LABEL relevance (a retrieved neighbor is
    * relevant iff it shares the query's label) — the ranking-quality
    * companion to q285's classification confusion matrix and q190's
    * vs-exact-ranking overlap (relevance there is "the exact engine
    * agreed"; here it is ground truth). EXACT rationals throughout:
    * AP@10 = (1/10)·Σ_{hits} hits@p/p is scaled by 2520 = lcm(1..10)
    * so every per-hit term (2520·h div p) is an exact BIGINT, each
    * query's AP lands on the micro grid by one truncating division,
    * and per-label MAP is a truncating mean of those micro values
    * (stated). No log-discount metric (nDCG) here — libm exclusion.
    *
    * Scale shape: eval harness — the hold-out query side is bounded
    * by design, so bruteForceTopK's broadcast is the right plan; the
    * running-hit window partitions by q_id (high cardinality, ≤10-row
    * frames). */
  def q314(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val test = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"),
        $"label".as("true_label"))
    val train = emb.filter($"vec_id" % 5 =!= 0)
      .transform(Fx.materialize)
    // bruteForceTopK's output carries every TRAIN column, so the
    // neighbor's label is already present — no second catalog join
    val topk = Similarity.bruteForceTopK(
      test.select($"q_id", $"q_vec"), train, k = 10)
    val hits = topk
      .join(broadcast(test.select($"q_id", $"true_label")), "q_id")
      .withColumn("is_hit", ($"label" === $"true_label").cast("long"))
      .withColumn("h", sum($"is_hit").over(
        Window.partitionBy($"q_id").orderBy($"rn")))
    val ap = hits.groupBy($"q_id", $"true_label")
      .agg(sum(when($"is_hit" === 1L, expr("(2520 * h) div rn"))
        .otherwise(0L)).as("ap_scaled"))
    ap.groupBy($"true_label")
      .agg(count(lit(1)).as("n_queries"),
        sum(expr("(ap_scaled * 1000000) div 25200")).as("__sum_ap"))
      .select($"true_label".as("label"), $"n_queries",
        expr("__sum_ap div n_queries").as("map_micro"))
      .orderBy($"label")
  }

  val q314Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
       |    label AS true_label
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec, label
       |      FROM embeddings WHERE vec_id % 5 <> 0),
       |sims AS (
       |  SELECT q_id, true_label, vec_id, label, $cosSql AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, true_label, label,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims),
       |top AS (SELECT * FROM ranked WHERE rn <= 10),
       |hits AS (
       |  SELECT q_id, true_label, rn,
       |    CASE WHEN label = true_label THEN 1 ELSE 0 END AS is_hit,
       |    sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY q_id ORDER BY rn) AS h
       |  FROM top),
       |ap AS (
       |  SELECT q_id, true_label,
       |    CAST(sum(CASE WHEN is_hit = 1 THEN (2520 * h) // rn ELSE 0 END)
       |      AS BIGINT) AS ap_scaled
       |  FROM hits GROUP BY 1, 2)
       |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum((ap_scaled * 1000000) // 25200) // count(*) AS BIGINT)
       |    AS map_micro
       |FROM ap GROUP BY 1 ORDER BY 1""".stripMargin

  /** q315 — embedding centroid drift per label between the two
    * vec_id-parity halves of the corpus: the embedding-space
    * counterpart of the value-distribution drift family
    * (KS/CvM/W1/AUC read scalar columns; THIS reads the geometry —
    * "did the meaning of label 3 move between snapshots"). Count-free
    * cosine: the cosine of two mean vectors equals the cosine of the
    * two SUM vectors (the 1/n scalars cancel), so the per-(label,
    * half) sums of milli-grid coordinates (exact BIGINTs, the
    * q286/q303 grid) are compared directly — dot and norms on
    * DECIMAL(38,0)/HUGEINT, then ONE pinned double shape
    * (dot/(√na·√nb), r6) since both engines cast the same exact
    * integers and IEEE sqrt/division are correctly rounded.
    *
    * Scale shape: one distributed aggregate over (label, half, dim)
    * cells (bounded: labels × 2 × 64); the cosine join runs on the
    * cell grid, never the corpus. */
  def q315(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"label", ($"vec_id" % 2).as("half"),
        transform($"embedding",
          x => floor(x.cast("double") * 1000).cast("long")).as("xm"))
    val cells = emb
      .select($"label", $"half", posexplode($"xm").as(Seq("dim", "x")))
      .groupBy($"label", $"half", $"dim")
      .agg(sum($"x").as("sx"))
    val ns = emb.groupBy($"label", $"half").agg(count(lit(1)).as("n"))
    val a = cells.filter($"half" === 0)
      .select($"label", $"dim", $"sx".as("sa"))
    val b = cells.filter($"half" === 1)
      .select($"label", $"dim", $"sx".as("sb"))
    val geo = a.join(b, Seq("label", "dim"))
      .groupBy($"label")
      .agg(sum(expr("cast(sa as decimal(38,0)) * sb")).as("dot"),
        sum(expr("cast(sa as decimal(38,0)) * sa")).as("na2"),
        sum(expr("cast(sb as decimal(38,0)) * sb")).as("nb2"))
    val na = ns.filter($"half" === 0).select($"label", $"n".as("n_a"))
    val nb = ns.filter($"half" === 1).select($"label", $"n".as("n_b"))
    geo.join(broadcast(na), "label").join(broadcast(nb), "label")
      .select($"label", $"n_a", $"n_b",
        r6($"dot".cast("double") /
          (sqrt($"na2".cast("double")) * sqrt($"nb2".cast("double"))))
          .as("centroid_cos"))
      .orderBy($"label")
  }

  val q315Sql: String =
    s"""WITH e AS (
       |  SELECT label, vec_id % 2 AS half,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000) AS BIGINT)) AS xm
       |  FROM embeddings),
       |cells AS (
       |  SELECT label, half, i - 1 AS dim, CAST(sum(xm[i]) AS BIGINT) AS sx
       |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY 1, 2, 3),
       |ns AS (SELECT label, half, CAST(count(*) AS BIGINT) AS n
       |       FROM e GROUP BY 1, 2),
       |geo AS (
       |  SELECT a.label,
       |    sum(CAST(a.sx AS HUGEINT) * b.sx) AS dot,
       |    sum(CAST(a.sx AS HUGEINT) * a.sx) AS na2,
       |    sum(CAST(b.sx AS HUGEINT) * b.sx) AS nb2
       |  FROM cells a JOIN cells b ON a.label = b.label AND a.dim = b.dim
       |  WHERE a.half = 0 AND b.half = 1
       |  GROUP BY 1)
       |SELECT geo.label AS label, na.n AS n_a, nb.n AS n_b,
       |  ${sqlR6("CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))")}
       |    AS centroid_cos
       |FROM geo
       |JOIN ns na ON geo.label = na.label AND na.half = 0
       |JOIN ns nb ON geo.label = nb.label AND nb.half = 1
       |ORDER BY label""".stripMargin

  /** q336 — retrieval exposure concentration: when the q314 eval
    * queries each pull their cosine top-10, how is that exposure
    * spread across the index — catalog coverage (what fraction of
    * train items are ever retrieved), the exposure Gini (0 = every
    * item surfaces equally, →1 = a head hoards the slots) and the
    * top-decile share. The recsys-fairness/index-health readout: a
    * high Gini means most of the catalog is dead weight the ANN index
    * pays to store but never serves. NEVER-retrieved items are in the
    * Gini population (left join, zero-filled) — dropping them is the
    * classic way this metric lies. Ranks ride [[Ranking.seqIds]]
    * (no global window over the catalog); the Gini is q214's exact
    * integer form with one r6 shape.
    *
    * Scale shape: the eval fan-out is bounded (q314's harness); the
    * exposure relation is catalog-sized but touched only by the
    * two-phase rank and one moment aggregate. */
  def q336(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val test = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val train = emb.filter($"vec_id" % 5 =!= 0)
      .transform(Fx.materialize)
    val topk = Similarity.bruteForceTopK(test, train, k = 10)
    val counts = topk.groupBy($"vec_id".as("t_vid"))
      .agg(count(lit(1)).as("x"))
    val exposure = train.select($"vec_id")
      .join(counts, $"vec_id" === $"t_vid", "left")
      .select($"vec_id", coalesce($"x", lit(0L)).as("x"))
    val ranked = Ranking.seqIds(exposure, 8, $"x".asc, $"vec_id".asc)
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    ranked.agg(count(lit(1)).as("n"),
        sum(($"x" > 0L).cast("long")).as("n_retrieved"),
        sum(d38($"x")).as("sx"),
        sum(d38($"seq_id") * d38($"x")).as("srx"))
      .select($"n".as("n_train"), $"n_retrieved",
        expr("(n_retrieved * 1000000) div n").as("coverage_micro"),
        r6((lit(2) * $"srx" - ($"n" + 1) * $"sx").cast("double") /
          (d38($"n") * $"sx").cast("double")).as("gini"))
  }

  val q336Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec
       |      FROM embeddings WHERE vec_id % 5 <> 0),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims),
       |counts AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS x
       |  FROM ranked WHERE rn <= 10 GROUP BY 1),
       |exposure AS (
       |  SELECT t.vec_id, COALESCE(c.x, 0) AS x
       |  FROM t LEFT JOIN counts c ON t.vec_id = c.vec_id),
       |rk AS (
       |  SELECT x, row_number() OVER (ORDER BY x, vec_id) AS r
       |  FROM exposure),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_retrieved,
       |    CAST(sum(x) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(r AS HUGEINT) * x) AS HUGEINT) AS srx
       |  FROM rk)
       |SELECT n AS n_train, n_retrieved,
       |  (n_retrieved * 1000000) // n AS coverage_micro,
       |  ${sqlR6("CAST(2 * srx - (n + 1) * sx AS DOUBLE) / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE)")}
       |    AS gini
       |FROM m""".stripMargin

  /** q382 — hubness diagnostic: the skewness of the k-occurrence
    * distribution (how often each vector appears in other vectors'
    * cosine top-10). High-dimensional spaces grow HUBS — points that
    * turn up in everyone's neighbor list — and antihubs that appear
    * in none; a right-skewed k-occurrence distribution is THE
    * curse-of-dimensionality warning for every kNN consumer here
    * (q60/q62/q285/q303 report quality; hubness explains WHY it
    * degrades and whether reranking will help). Exact: occurrences
    * are integers off the existing brute-force top-k (zero-occurrence
    * vectors re-enter via the id-list left join — dropping them
    * UNDERSTATES skew); skewness g1 = M3/M2^{3/2} on the n-scaled
    * central moment integers with the only float ops a division and
    * one sqrt (r6); a hub is stated as k-occurrence ≥ 2× the exact
    * mean (c·n ≥ 2·Q·k, integer cross-multiplication).
    *
    * Scale shape: every-vector-as-query is exact at this corpus size
    * and the stated estimator subsamples queries at scale (hubness is
    * a distributional property — a uniform query sample estimates it
    * stably); the moment rollup is one pass over n counts. */
  def q382(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val qs = e.select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val occ = Similarity.bruteForceTopK(qs, e, k = 10)
      .groupBy($"vec_id").agg(count(lit(1)).as("c"))
    val counts = e.select($"vec_id").join(occ, Seq("vec_id"), "left_outer")
      .select(coalesce($"c", lit(0L)).as("c"))
    counts.agg(count(lit(1)).as("n"), sum($"c").as("sc"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("s2"),
        sum(expr("cast(c as decimal(38,0)) * c * c")).as("s3"),
        max($"c").as("max_occ"),
        sum(($"c" === 0L).cast("long")).as("n_antihubs"),
        // with every vector as a query the exact mean occurrence is
        // k = 10, so the 2x-mean hub rule is the integer c >= 20
        sum(($"c" >= 20L).cast("long")).as("n_hubs"))
      .select($"n".as("n_points"), $"sc", $"s2", $"s3", $"max_occ",
        $"n_antihubs", $"n_hubs",
        expr("cast(n as decimal(38,0)) * s2 - cast(sc as decimal(38,0)) * sc")
          .as("m2"),
        expr("""cast(n as decimal(38,0)) * n * s3
             - 3 * cast(n as decimal(38,0)) * sc * s2
             + 2 * cast(sc as decimal(38,0)) * sc * sc""").as("m3"))
      .select($"n_points", $"max_occ", $"n_antihubs", $"n_hubs",
        when($"m2" > 0, r6($"m3".cast("double") /
          ($"m2".cast("double") * sqrt($"m2".cast("double")))))
          .as("skewness"))
  }

  val q382Sql: String = {
    val cos = "list_dot_product(q_vec, t_vec) / " +
      "(sqrt(list_dot_product(q_vec, q_vec)) * sqrt(list_dot_product(t_vec, t_vec)))"
    val g1 = "CAST(m3 AS DOUBLE) / (CAST(m2 AS DOUBLE) * sqrt(CAST(m2 AS DOUBLE)))"
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec
       |      FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, $cos AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims),
       |occ AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS c
       |  FROM ranked WHERE rn <= 10 GROUP BY vec_id),
       |counts AS (
       |  SELECT COALESCE(occ.c, 0) AS c
       |  FROM embeddings e LEFT JOIN occ ON e.vec_id = occ.vec_id),
       |mo AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(c) AS HUGEINT) AS sc,
       |    sum(CAST(c AS HUGEINT) * c) AS s2,
       |    sum(CAST(c AS HUGEINT) * c * c) AS s3,
       |    CAST(max(c) AS BIGINT) AS max_occ,
       |    CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_antihubs,
       |    CAST(sum(CASE WHEN c >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_hubs
       |  FROM counts),
       |cm AS (
       |  SELECT CAST(n AS BIGINT) AS n_points, max_occ, n_antihubs, n_hubs,
       |    n * s2 - sc * sc AS m2,
       |    n * n * s3 - 3 * n * sc * s2 + 2 * sc * sc * sc AS m3
       |  FROM mo)
       |SELECT n_points, max_occ, n_antihubs, n_hubs,
       |  CASE WHEN m2 > 0 THEN ${sqlR6(g1)} END AS skewness
       |FROM cm""".stripMargin
  }

  /** q410 — simplified (centroid) silhouette per label: for each
    * vector, a = Euclidean distance to its OWN label centroid, b = the
    * nearest OTHER centroid, s = (b−a)/max(a,b) — the INTERNAL
    * cluster-quality index the eval shelf lacked: q293's ARI needs a
    * second labeling to agree with, q285/q303 score neighbor retrieval;
    * silhouette asks whether the labels carve the space at all, and
    * `n_misplaced` (s < 0 — a vector closer to a rival centroid) is
    * the actionable relabel queue. The centroid form is the stated
    * scale semantics: O(n·k) against k broadcast centroids, never the
    * O(n²) pairwise silhouette. Determinism: centroids are pinned to
    * the r6 grid per dimension FIRST (the q61 precedent), then every
    * distance is the bit-identical sequential fold decomposition
    * √(x·x − 2·x·c + c·c) ([[Similarity.dot]] ≡ list_dot_product), so
    * the a/b argmin and the s<0 branch see identical doubles in both
    * engines; only the final per-label mean is r6-masked.
    *
    * Scale shape: one centroid aggregate (k rows, broadcast back),
    * one corpus pass against k centroids, one grouped rollup — no
    * vector-vector join anywhere. */
  def q410(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", Similarity.toDoubleArr($"embedding").as("x"))
    val centroid = graft.functions.VectorCentroid.centroid(64)
    val cents = Tables.embeddings(s, d)
      .groupBy($"label".as("c_label"))
      .agg(centroid($"embedding").as("craw"))
      .select($"c_label", transform($"craw", c => r6(c)).as("cvec"))
      .transform(Fx.materialize)
    val withCc = cents.select($"c_label", $"cvec",
      Similarity.dot($"cvec", $"cvec").as("cc"))
    val dists = e.crossJoin(broadcast(withCc))
      .select($"vec_id", $"label", $"c_label",
        sqrt(Similarity.dot($"x", $"x") - lit(2.0) * Similarity.dot($"x", $"cvec")
          + $"cc").as("dist"))
    dists.groupBy($"vec_id", $"label")
      .agg(max(when($"c_label" === $"label", $"dist")).as("a"),
        min(when($"c_label" =!= $"label", $"dist")).as("b"))
      .withColumn("sil", ($"b" - $"a") / greatest($"a", $"b"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        r6(avg($"sil")).as("mean_silhouette"),
        sum(($"sil" < 0.0).cast("long")).as("n_misplaced"))
      .orderBy($"label")
  }

  val q410Sql: String =
    s"""WITH dims AS (SELECT unnest(range(1, 65)) AS dim),
       |cell AS (
       |  SELECT e.label AS c_label, d.dim,
       |    ${sqlR6("avg(CAST(e.embedding[d.dim] AS DOUBLE))")} AS c
       |  FROM embeddings e, dims d GROUP BY 1, 2),
       |cents AS (
       |  SELECT c_label, list(c ORDER BY dim) AS cvec FROM cell GROUP BY 1),
       |cc AS (SELECT c_label, cvec, list_dot_product(cvec, cvec) AS cc
       |       FROM cents),
       |dd AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    sqrt(list_dot_product(e.x, e.x)
       |      - 2.0 * list_dot_product(e.x, c.cvec) + c.cc) AS dist
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
       |        FROM embeddings) e
       |  CROSS JOIN cc c),
       |ab AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN c_label = label THEN dist END) AS a,
       |    min(CASE WHEN c_label <> label THEN dist END) AS b
       |  FROM dd GROUP BY 1, 2),
       |sil AS (SELECT label, (b - a) / greatest(a, b) AS sil FROM ab)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  ${sqlR6("avg(sil)")} AS mean_silhouette,
       |  CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_misplaced
       |FROM sil GROUP BY label ORDER BY label""".stripMargin

  /** q425 — TwoNN intrinsic dimensionality (Facco et al. 2017): the
    * MLE d̂ = m / Σ ln(μᵢ) from the ratio μᵢ = d₂/d₁ of each probe's
    * second- to first-nearest-neighbor cosine distance — how many
    * degrees of freedom the embeddings ACTUALLY use, independent of
    * the ambient 64 (the curse-of-dimensionality readout that
    * explains q382's hubness and q62's IVF recall: both degrade in
    * the INTRINSIC dimension, which q286's single top eigenvector
    * can't summarize). Probes: the stated vec_id < 64 panel (the q60
    * convention); duplicate-vector probes (d₁ = 0) are excluded,
    * stated. Determinism: every distance is the bit-identical native
    * cosine, the NN ranks are q60's (sim, vec_id) total order, ln
    * runs on identical doubles; the m-term sum is engine-ordered
    * 1e-15 noise under r6.
    *
    * Scale shape: 64 broadcast probes × one corpus pass through the
    * native bounded-heap top-2 — no vector-vector shuffle. */
  def q425(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val probes = Tables.embeddings(s, d).filter($"vec_id" < 64)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val nn = Similarity.bruteForceTopK(probes, Tables.embeddings(s, d), k = 2)
    val mu = nn.groupBy($"q_id")
      .agg(max(when($"rn" === 1, $"sim")).as("s1"),
        max(when($"rn" === 2, $"sim")).as("s2"))
      .filter($"s1" < lit(1.0))
      .select(log((lit(1.0) - $"s2") / (lit(1.0) - $"s1")).as("lnmu"))
    mu.agg(count(lit(1)).as("m"), sum($"lnmu").as("slm"))
      .select($"m".as("n_probes"), r6($"slm").as("sum_ln_mu"),
        when($"slm" > 0.0, r6($"m".cast("double") / $"slm")).as("twonn_id"))
  }

  val q425Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 64),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, $cosSql AS sim
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM sims),
       |mu AS (
       |  SELECT q_id,
       |    max(CASE WHEN rn = 1 THEN sim END) AS s1,
       |    max(CASE WHEN rn = 2 THEN sim END) AS s2
       |  FROM ranked WHERE rn <= 2 GROUP BY q_id),
       |lm AS (
       |  SELECT ln((1.0 - s2) / (1.0 - s1)) AS lnmu FROM mu WHERE s1 < 1.0),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m, sum(lnmu) AS slm FROM lm)
       |SELECT m AS n_probes, ${sqlR6("slm")} AS sum_ln_mu,
       |  CASE WHEN slm > 0.0 THEN ${sqlR6("CAST(m AS DOUBLE) / slm")} END
       |    AS twonn_id
       |FROM agg""".stripMargin

  /** q426 — effective rank (participation ratio) of the embedding
    * covariance: erank = (tr C)²/‖C‖²_F = (Σλ)²/Σλ² — how many
    * principal directions carry the variance, WITHOUT an
    * eigendecomposition (the trace identities make the spectrum sum
    * computable from the raw covariance cells). The LINEAR-subspace
    * companion to q425's TwoNN (a manifold can be intrinsically 8-D
    * yet span 40 linear directions — anisotropy collapse shows here
    * first, before q232's norm stats move). Built from the full
    * 64×64 covariance: one corpus pass explodes each vector into its
    * 4096 ordered coordinate pairs (a CONSTANT 64² blow-up, linear in
    * n, map-side combined), E[xᵢxⱼ] and the means are pinned to the
    * r6 grid (the q61/q410 centroid convention), so C = E − m·mᵀ and
    * both trace sums run on identical doubles in both engines; the
    * final ratios are r6.
    *
    * Scale shape: two bounded-grid aggregates (4096 + 64 cells) off
    * one pass; everything after is grid arithmetic. */
  def q426(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = Tables.embeddings(s, d)
      .select(Similarity.toDoubleArr($"embedding").as("x"))
      .transform(Fx.materialize)
    val p1 = x.select($"x", posexplode($"x")).toDF("x", "i0", "xi")
    val pairs = p1.select(($"i0" + 1).as("i"), $"xi", posexplode($"x"))
      .toDF("i", "xi", "j0", "xj")
      .select($"i", ($"j0" + 1).as("j"), $"xi", $"xj")
    val egrid = pairs.groupBy($"i", $"j").agg(r6(avg($"xi" * $"xj")).as("e"))
    val mgrid = x.select(posexplode($"x")).toDF("i0", "xi")
      .groupBy(($"i0" + 1).as("i")).agg(r6(avg($"xi")).as("m"))
      .transform(Fx.materialize)
    val c = egrid
      .join(broadcast(mgrid.select($"i", $"m".as("mi"))), "i")
      .join(broadcast(mgrid.select($"i".as("j"), $"m".as("mj"))), "j")
      .withColumn("cij", $"e" - $"mi" * $"mj")
    c.agg(
        sum(when($"i" === $"j", $"cij")).as("tr"),
        sum($"cij" * $"cij").as("frob2"),
        max(when($"i" === $"j", $"cij")).as("maxvar"))
      .select(lit(64L).as("ambient_dim"), r6($"tr").as("trace_var"),
        r6($"frob2").as("frobenius_sq"),
        when($"frob2" > 0.0, r6($"tr" * $"tr" / $"frob2"))
          .as("effective_rank"),
        r6($"maxvar").as("max_dim_var"))
  }

  val q426Sql: String =
    s"""WITH dims AS (SELECT unnest(range(1, 65)) AS i),
       |x AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS x
       |                   FROM embeddings),
       |eg AS MATERIALIZED (
       |  SELECT d1.i AS i, d2.i AS j,
       |    ${sqlR6("avg(x.x[d1.i] * x.x[d2.i])")} AS e
       |  FROM x, dims d1, dims d2 GROUP BY 1, 2),
       |mg AS MATERIALIZED (
       |  SELECT d.i, ${sqlR6("avg(x.x[d.i])")} AS m
       |  FROM x, dims d GROUP BY 1),
       |c AS (
       |  SELECT eg.i, eg.j, eg.e - mi.m * mj.m AS cij
       |  FROM eg JOIN mg mi ON eg.i = mi.i JOIN mg mj ON eg.j = mj.i),
       |agg AS (
       |  SELECT sum(CASE WHEN i = j THEN cij END) AS tr,
       |    sum(cij * cij) AS frob2,
       |    max(CASE WHEN i = j THEN cij END) AS maxvar
       |  FROM c)
       |SELECT CAST(64 AS BIGINT) AS ambient_dim, ${sqlR6("tr")} AS trace_var,
       |  ${sqlR6("frob2")} AS frobenius_sq,
       |  CASE WHEN frob2 > 0.0 THEN ${sqlR6("tr * tr / frob2")} END
       |    AS effective_rank,
       |  ${sqlR6("maxvar")} AS max_dim_var
       |FROM agg""".stripMargin

  /** q439 — intra-list diversity (ILD): what does q186's MMR rerank
    * actually BUY? Per probe, the mean pairwise cosine DISTANCE inside
    * the plain relevance top-5 versus inside the MMR top-5 (same
    * k = 5, c = 20, λ = 0.7 as q186), beside the relevance each list
    * keeps — the diversity/relevance trade quantified, which the
    * rank-quality battery (recall/MRR/MAP q190/q314/q315) and the
    * rerank itself (q186) never price. Determinism: both lists are
    * total orders (q60's (sim, vec_id); q186's greedy picks); the 10
    * pair cosines and 5 relevances pivot BY RANK into fixed
    * left-associated expression trees (never a float SUM over rows),
    * every cosine the same sequential fold both engines, r6 output.
    *
    * Scale shape: q60's broadcast top-k + q186's bounded rerank; the
    * pivot joins are 5 rows per probe — metadata-sized. */
  def q439(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.embeddings(s, d)
      .select($"vec_id", Similarity.toDoubleArr($"embedding").as("v"))
    val plain = Similarity.bruteForceTopK(queriesDf(s, d),
        Tables.embeddings(s, d), k = 5)
      .select($"q_id", $"vec_id", $"sim".as("rel"), $"rn")
    val mmr = Similarity.mmrRerank(queriesDf(s, d),
        Tables.embeddings(s, d), k = 5, c = 20, lambda = 0.7)
      .select($"q_id", $"vec_id", $"rel", $"mmr_rank".as("rn"))
    // materialized: each retrieval's ≤ 5q×5 picks (with vectors joined
    // ONCE) feed five pivot branches — without it every branch re-runs
    // the whole brute-force / MMR pipeline plus an embeddings scan
    // (30 scans → a handful in the plan)
    def pivot(picks: DataFrame, p: String): DataFrame = {
      val withV = picks.join(t, "vec_id").transform(Fx.materialize)
      (1 to 5).map { i =>
        withV.filter($"rn" === i)
          .select($"q_id", $"v".as(s"$p$i"), $"rel".as(s"${p}r$i"))
      }.reduce(_.join(_, "q_id"))
    }
    def ild(p: String) =
      (for { i <- 1 to 5; j <- (i + 1) to 5 } yield
        lit(1.0) - Similarity.cosine(col(s"$p$i"), col(s"$p$j")))
        .reduce(_ + _) / lit(10.0)
    def meanRel(p: String) =
      (1 to 5).map(i => col(s"${p}r$i")).reduce(_ + _) / lit(5.0)
    pivot(plain, "a").join(pivot(mmr, "b"), "q_id")
      .select($"q_id",
        r6(ild("a")).as("ild_plain"), r6(ild("b")).as("ild_mmr"),
        r6(ild("b") - ild("a")).as("ild_gain"),
        r6(meanRel("a")).as("rel_plain"), r6(meanRel("b")).as("rel_mmr"))
      .orderBy($"q_id")
  }

  val q439Sql: String = {
    def cosPair(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    // q186's greedy steps verbatim (k = 5, c = 20, λ = 0.7)
    val steps = (1 to 5).map { n =>
      val prev = 1 until n
      val score =
        if (prev.isEmpty) "0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * 0::DOUBLE"
        else {
          val sims = prev.map(i => cosPair("c.t_vec", s"s$i.t_vec")).mkString(", ")
          s"0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * greatest($sims)"
        }
      val joins = prev.map(i => s"JOIN s$i ON s$i.q_id = c.q_id").mkString(" ")
      val excl = prev.map(i => s"c.vec_id <> s$i.vec_id").mkString(" AND ")
      val where = if (prev.isEmpty) "" else s"WHERE $excl"
      s"""s$n AS (
         |  SELECT q_id, vec_id, t_vec, rel FROM (
         |    SELECT c.q_id, c.vec_id, c.t_vec, c.rel,
         |      row_number() OVER (PARTITION BY c.q_id
         |        ORDER BY $score DESC, c.vec_id) AS pick
         |    FROM cand c $joins $where) z
         |  WHERE pick = 1)""".stripMargin
    }.mkString(",\n")
    val plainPivots = (1 to 5).map(i =>
      s"""a$i AS (SELECT q_id, t_vec AS av$i, rel AS ar$i
         |        FROM ranked WHERE rn = $i)""".stripMargin).mkString(",\n")
    def ildExpr(v: Int => String): String =
      "(" + (for { i <- 1 to 5; j <- (i + 1) to 5 } yield
        s"(1.0 - ${cosPair(v(i), v(j))})").mkString(" + ") + ") / 10.0"
    def relExpr(r: Int => String): String =
      "(" + (1 to 5).map(r).mkString(" + ") + ") / 5.0"
    val ildA = ildExpr(i => s"a$i.av$i"); val ildB = ildExpr(i => s"s$i.t_vec")
    s"""WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
       |           FROM embeddings WHERE vec_id < 5),
       |t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS t_vec FROM embeddings),
       |sims AS (
       |  SELECT q_id, vec_id, t_vec, $cosSql AS rel
       |  FROM t, q WHERE vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, t_vec, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
       |  FROM sims),
       |cand AS (SELECT q_id, vec_id, t_vec, rel FROM ranked WHERE rn <= 20),
       |$steps,
       |$plainPivots
       |SELECT a1.q_id,
       |  ${Fx.sqlR6(ildA)} AS ild_plain,
       |  ${Fx.sqlR6(ildB)} AS ild_mmr,
       |  ${Fx.sqlR6(s"($ildB) - ($ildA)")} AS ild_gain,
       |  ${Fx.sqlR6(relExpr(i => s"a$i.ar$i"))} AS rel_plain,
       |  ${Fx.sqlR6(relExpr(i => s"s$i.rel"))} AS rel_mmr
       |FROM a1
       |${(2 to 5).map(i => s"JOIN a$i ON a$i.q_id = a1.q_id").mkString("\n")}
       |${(1 to 5).map(i => s"JOIN s$i ON s$i.q_id = a1.q_id").mkString("\n")}
       |ORDER BY a1.q_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q439_result_diversity", q439, Some(q439Sql)),
    QueryDef("q425_twonn_id", q425, Some(q425Sql)),
    QueryDef("q426_effective_rank", q426, Some(q426Sql)),
    QueryDef("q410_silhouette", q410, Some(q410Sql)),
    QueryDef("q382_hubness", q382, Some(q382Sql)),
    QueryDef("q314_map_at_10", q314, Some(q314Sql)),
    QueryDef("q336_retrieval_exposure", q336, Some(q336Sql)),
    QueryDef("q315_centroid_drift", q315, Some(q315Sql)),
    QueryDef("q277_dbscan_clusters", q277, Some(q277Sql)),
    QueryDef("q285_knn_scorecard", q285, Some(q285Sql)),
    QueryDef("q286_pca_power_iteration", q286, Some(q286Sql)),
    QueryDef("q293_ari_clustering", q293, Some(q293Sql)),
    QueryDef("q303_trustworthiness", q303, Some(q303Sql)),
    QueryDef("q232_embedding_health", q232, Some(q232Sql)),
    QueryDef("q224_retrieval_scorecard", q224, Some(q224Sql)),
    QueryDef("q186_mmr_rerank", q186, Some(q186Sql), bench = true),
    QueryDef("q187_hard_negatives", q187, Some(q187Sql)),
    QueryDef("q190_ann_eval", q190, Some(q190Sql), bench = true),
    QueryDef("q60_cosine_topk", q60, Some(q60Sql), bench = true),
    QueryDef("q61_label_centroids", q61, Some(q61Sql)),
    QueryDef("q62_ann_ivf_topk", q62, Some(q62Sql), bench = true),
    QueryDef("q252_filtered_ann", q252, Some(q252Sql)),
    QueryDef("q255_rank_fusion", q255, Some(q255Sql)),
    QueryDef("q63_centroids_full", q63, Some(q63Sql)),
    QueryDef("q127_sq8_ann_recall", q127, Some(q127Sql)),
  )
}
