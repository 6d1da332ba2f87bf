package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the correctness baseline, and an
  * IVF-style sign-bucketed variant as the scale path.
  *
  * Scale design (100 TB): brute force is O(|Q|·|T|) — fine when the
  * query side is small and broadcastable (it is here: `broadcast()` on
  * the query set, so the target side streams through without any
  * shuffle). The IVF variant pre-buckets both sides by coarse sign
  * quantization of the leading dimensions, so each query only meets
  * its bucket: the join is an equi-join on the bucket id (hash join,
  * bucket-bounded skew), which is the standard way to cut ANN cost by
  * 2^bits while keeping recall for clustered data. All math is
  * elementwise double folds — sequential, identical in DuckDB, so
  * every operator here is oracle-checkable.
  */
object Similarity {

  /** Cast a float array to double elementwise (exact). */
  def toDoubleArr(a: Column): Column = transform(a, x => x.cast(DoubleType))

  /** Sequential dot product fold — bit-identical to DuckDB's
    * list_dot_product over DOUBLE[]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native single-pass cosine ([[graft.plans.CosineSim]], codegen'd,
    * bit-identical to [[cosine]]'s fold): the fold form walks each
    * array three times through CodegenFallback higher-order functions;
    * the native expression is one generated loop per row. */
  def cosineNative(a: Column, b: Column): Column =
    graft.plans.GraftFunctions.vec_cosine(a, b)

  /** Reduce candidates to the k best rows per query with the native
    * bounded-heap TopKPerGroup operator, then rank the surviving ≤ k
    * rows per query with a window. The window input is O(|Q|·k), not
    * the full candidate set — a `row_number` window directly on the
    * candidates would funnel EVERY candidate for a query into one task
    * (the round-1 scale-killer); here the heavy reduction streams
    * through the heap operator and the window only orders k rows.
    */
  private def rankTopK(candidates: DataFrame, k: Int, qId: String, tId: String): DataFrame = {
    val top = graft.plans.TopK.perGroup(candidates, k, Seq(qId),
      Seq(graft.plans.TopK.desc("sim"), graft.plans.TopK.asc(tId)))
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(tId))
    top.withColumn("rn", row_number().over(w))
  }

  /** Brute-force cosine top-k: for each query row, the k nearest target
    * rows. Query side is broadcast; ranking via native TopKPerGroup. */
  def bruteForceTopK(queries: DataFrame, targets: DataFrame, k: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      tId: String = "vec_id", tVec: String = "embedding"): DataFrame = {
    val joined = targets.crossJoin(broadcast(queries))
      .filter(col(qId) =!= col(tId))
      .withColumn("sim",
        cosineNative(toDoubleArr(col(qVec)), toDoubleArr(col(tVec))))
    rankTopK(joined, k, qId, tId)
  }

  /** IVF-style coarse quantizer: sign bits of the first `bits` dims →
    * bucket id in [0, 2^bits). */
  def signBucket(a: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(a, i + 1) > 0f, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** SQL mirror of [[signBucket]] (1-based list indexing). */
  def sqlSignBucket(col: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(CASE WHEN $col[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** SQ8 scalar quantization, reconstructed: each dimension linearly
    * quantized to an 8-bit code against the corpus per-dim min/max
    * (FAISS "SQ8" — 4× smaller than float32 at rest / on the wire),
    * then decoded to the cell midpoint. Output: (idCol, recon) with
    * `recon: array<double>`. The 64-row stats aggregate broadcasts
    * back to a per-row codec expression — no shuffle of the corpus.
    * Asymmetric search (exact query side vs reconstructed targets) is
    * then a plain cosine ranking over `recon`. */
  def sq8Reconstructed(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    val stats = emb.select(posexplode(col(vecCol)))
      .select((col("pos") + 1).as("dim"), col("col").cast("double").as("x"))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val statsArr = stats
      .agg(sort_array(collect_list(struct(col("dim"), col("mn")))).as("mns"),
        sort_array(collect_list(struct(col("dim"), col("mx")))).as("mxs"))
      .select(transform(col("mns"), t => t("mn")).as("mn"),
        transform(col("mxs"), t => t("mx")).as("mx"))
    emb.crossJoin(broadcast(statsArr))
      .select(col(idCol),
        transform(sequence(lit(1), lit(dim)), i => {
          val x = element_at(col(vecCol), i).cast(DoubleType)
          val mn = element_at(col("mn"), i)
          val sc = element_at(col("mx"), i) - mn
          val code = when(sc === 0.0, lit(0.0))
            .otherwise(least(floor((x - mn) * 255.0 / sc), lit(255.0)))
          mn + (code + 0.5) * sc / 255.0
        }).as("recon"))
  }

  /** One MMR candidate: stage-1 relevance + the full (double-cast)
    * vector, carried so diversity penalties use exact pairwise math. */
  final case class MmrCand(vec_id: Long, rel: Double, vec: Seq[Double])

  /** One selected result: rank within the query's MMR list. */
  final case class MmrPick(q_id: Long, vec_id: Long, mmr_rank: Long,
      rel: Double, mmr: Double)

  /** Maximal Marginal Relevance diversified rerank (Carbonell &
    * Goldstein, SIGIR'98): greedily select k of the top-C candidates,
    * each step maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} cos(d,s).
    * Dedups redundant results a plain top-k returns (the RAG/
    * retrieval default for context packing).
    *
    * Scale shape: stage 1 is the existing broadcast-query brute-force
    * (or any ANN) top-C — the ONLY corpus-sized pass. Stage 2 groups
    * the ≤ C survivors per query (collect_list over C=20 rows, not
    * the corpus) and runs the O(k·C) greedy per query as a typed
    * flatMap — distributed per query, no driver loop, no window over
    * candidate sets.
    *
    * Determinism: every cosine is the same sequential fold as
    * [[dot]] (ties broken by vec_id), λ literals are shared with the
    * SQL mirror, and the greedy comparison uses raw doubles — so the
    * selection ORDER, not just the set, is oracle-checkable. */
  def mmrRerank(queries: DataFrame, targets: DataFrame, k: Int, c: Int,
      lambda: Double): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cands = bruteForceTopK(queries, targets, k = c)
      .select(col("q_id"), col("vec_id"), col("sim").as("rel"),
        toDoubleArr(col("embedding")).as("vec"))
    val grouped = cands
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel"), col("vec"))).as("cs"))
      .as[(Long, Seq[MmrCand])]
    grouped.flatMap { case (qId, cs) =>
      greedyMmr(qId, cs, k, lambda)
    }.toDF()
  }

  /** The greedy core, shared with MmrSpec's reference checks. */
  def greedyMmr(qId: Long, cs: Seq[MmrCand], k: Int, lambda: Double): Seq[MmrPick] = {
    def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) {
        dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1
      }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    val remaining = scala.collection.mutable.ArrayBuffer(
      cs.sortBy(c => (-c.rel, c.vec_id)): _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
    val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    var step = 1
    while (step <= k && remaining.nonEmpty) {
      var bestIdx = -1; var bestScore = 0.0
      var idx = 0
      while (idx < remaining.length) {
        val cand = remaining(idx)
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map(s => cosSeq(cand.vec, s.vec)).max
        val score = lambda * cand.rel - (1.0 - lambda) * maxSim
        // ties (score equal) fall to the lower vec_id: `remaining` is
        // already in (rel desc, vec_id) order only for step 1, so the
        // tie-break must compare ids explicitly
        if (bestIdx < 0 || score > bestScore ||
          (score == bestScore && cand.vec_id < remaining(bestIdx).vec_id)) {
          bestIdx = idx; bestScore = score
        }
        idx += 1
      }
      val pick = remaining.remove(bestIdx)
      selected += pick
      out += MmrPick(qId, pick.vec_id, step.toLong, pick.rel, bestScore)
      step += 1
    }
    out.toSeq
  }

  /** ANN via bucket-equality join + per-bucket cosine top-k. */
  /** nDCG@k over scored, graded-relevance result lists: input rows
    * (qIdCol, scoreCol, relCol), one row per retrieved item. Ranks are
    * score-desc (ties broken by relevance desc then nothing — callers
    * wanting full determinism should pre-break ties); gains are the
    * standard burst form (2^rel − 1) / log2(rank + 1), the ideal
    * ordering is relevance-desc, and nDCG = DCG/IDCG with an
    * all-zero-relevance query yielding NULL (0/0 is undefined — a
    * judgment-free query carries no ranking signal, and NULL states
    * that instead of a fake 0 or 1).
    *
    * Deliberately NOT in the oracle set: the log2 discount is a libm
    * transcendental with no cross-engine rounding guarantee (SURVEY
    * §2.11 precedent — q190/q224 carry the rational-stand-in metrics
    * the driver hash-checks; this closes the retrieval-eval story for
    * users who want the textbook number). Scale shape: two windows +
    * one aggregate, all partitioned by query id — one shuffle.
    */
  def ndcgAtK(results: DataFrame, k: Int, qIdCol: String = "q_id",
      scoreCol: String = "score", relCol: String = "rel"): DataFrame = {
    val byScore = Window.partitionBy(col(qIdCol))
      .orderBy(col(scoreCol).desc, col(relCol).desc)
    val byRel = Window.partitionBy(col(qIdCol)).orderBy(col(relCol).desc)
    val gain = (r: Column) => (pow(lit(2.0), r) - 1.0)
    val ranked = results
      .withColumn("__rn", row_number().over(byScore))
      .withColumn("__irn", row_number().over(byRel))
      .withColumn("__dg",
        when(col("__rn") <= k, gain(col(relCol)) / log2(col("__rn") + 1))
          .otherwise(lit(0.0)))
      .withColumn("__ig",
        when(col("__irn") <= k, gain(col(relCol)) / log2(col("__irn") + 1))
          .otherwise(lit(0.0)))
    ranked.groupBy(col(qIdCol))
      .agg(sum(col("__dg")).as("dcg"), sum(col("__ig")).as("idcg"))
      .select(col(qIdCol), col("dcg"), col("idcg"),
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).as("ndcg"))
  }

  def ivfTopK(queries: DataFrame, targets: DataFrame, k: Int, bits: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      tId: String = "vec_id", tVec: String = "embedding"): DataFrame = {
    val q = queries.withColumn("q_bucket", signBucket(col(qVec), bits))
    val t = targets.withColumn("t_bucket", signBucket(col(tVec), bits))
    val joined = t.join(broadcast(q), col("q_bucket") === col("t_bucket") && col(qId) =!= col(tId))
      .withColumn("sim",
        cosineNative(toDoubleArr(col(qVec)), toDoubleArr(col(tVec))))
    rankTopK(joined, k, qId, tId)
  }
}
