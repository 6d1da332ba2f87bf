package graft.ml

import graft.operators.Similarity
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained IVF (inverted-file) ANN index: a KMeans coarse quantizer
  * partitions the vector space into nList cells; search probes only the
  * nProbe cells nearest to each query.
  *
  * Scale shape (100 TB of vectors): training samples the corpus once;
  * assignment is one pass (broadcast centroids); the search join is a
  * bucket equi-join on cell id — each query meets |corpus| × nProbe /
  * nList candidates instead of the full corpus, and the candidate join
  * key (cell) is shuffle-friendly and skew-bounded by cell sizes.
  */
object IvfIndex {

  final case class Index(centroids: Array[(Int, Array[Double])], assigned: DataFrame)

  /** Train the quantizer and assign every target vector to its cell. */
  def build(targets: DataFrame, vecCol: String, nList: Int, seed: Long = 7L): Index = {
    val withVec = targets.withColumn("__v", array_to_vector(col(vecCol)))
    val model = new KMeans().setK(nList).setSeed(seed)
      .setFeaturesCol("__v").setPredictionCol("__cell")
      .fit(withVec)
    val assigned = model.transform(withVec)
      .withColumnRenamed("__cell", "cell").drop("__v")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    Index(centroids, assigned)
  }

  /** For each query, its nProbe nearest cells (driver-side centroid
    * table — nList is small by construction). Cell selection runs
    * through the native TopKPerGroup heap, so no per-query window sort
    * exists anywhere on the search path. */
  private def probeCells(queries: DataFrame, qId: String, qVec: String,
      centroids: Array[(Int, Array[Double])], nProbe: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val cdf = centroids.map { case (i, c) => (i, c.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
    val joined = queries.crossJoin(broadcast(cdf))
      .withColumn("cdist",
        Similarity.cosineNative(
          Similarity.toDoubleArr(col(qVec)), Similarity.toDoubleArr(col("centroid"))))
    graft.plans.TopK.perGroup(joined, nProbe, Seq(qId),
      Seq(graft.plans.TopK.desc("cdist"), graft.plans.TopK.asc("cell")))
      .select(col(qId).as("p_qid"), col("cell"))
  }

  /** ANN top-k probing nProbe cells per query: candidate reduction via
    * the bounded-heap TopKPerGroup, ranking via a window over the ≤ k
    * surviving rows per query.
    *
    * `predicate` (filtered ANN): a metadata predicate over the
    * assigned-vector columns, pushed INTO the candidate scan — the
    * heap then fills its k slots with MATCHING vectors only. The
    * alternative (post-filtering an unfiltered top-k) under-fills:
    * with selectivity s, an unfiltered top-k retains only ~s·k
    * matching rows per query. Because `assigned` is a plain DataFrame,
    * the predicate reaches the parquet scan as a PushedFilter — the
    * non-matching corpus is never even decoded. */
  def search(index: Index, queries: DataFrame, k: Int, nProbe: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      tId: String = "vec_id", tVec: String = "embedding",
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val probes = probeCells(queries, qId, qVec, index.centroids, nProbe)
    val base = predicate.map(index.assigned.filter).getOrElse(index.assigned)
    val candidates = base
      .join(probes, Seq("cell"))
      .join(broadcast(queries), col(qId) === col("p_qid") && col(qId) =!= col(tId))
      .withColumn("sim",
        Similarity.cosineNative(
          Similarity.toDoubleArr(col(qVec)), Similarity.toDoubleArr(col(tVec))))
    val top = graft.plans.TopK.perGroup(candidates, k, Seq(qId),
      Seq(graft.plans.TopK.desc("sim"), graft.plans.TopK.asc(tId)))
    val w = Window.partitionBy(col(qId)).orderBy(col("sim").desc, col(tId))
    top.withColumn("rn", row_number().over(w))
      .select(col(qId), col(tId), col("sim"), col("rn"))
  }

  // ---- persistence ---------------------------------------------------
  //
  // A 100 TB retrieval corpus cannot re-train KMeans per query batch:
  // the index must be a build-once artifact maintained like any other
  // table. Layout under <dir>:
  //   centroids/  parquet (cell INT, centroid ARRAY<DOUBLE>) — tiny
  //   assigned/   parquet, the assigned-vector frame incl. `cell`
  // `assigned` stays a PLAIN parquet relation, so filtered-ANN
  // predicates keep reaching the scan as PushedFilters and cell-probe
  // equi-joins read only matching files under partition stats.

  /** Persist a built index. `assigned` is repartitioned by cell so the
    * search-time probe equi-join reads cell-clustered files. */
  def save(index: Index, dir: String): Unit = {
    val s = index.assigned.sparkSession
    import s.implicits._
    index.centroids.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    index.assigned.repartition(col("cell"))
      .write.mode("overwrite").parquet(s"$dir/assigned")
  }

  /** Reopen a persisted index — no retraining, no corpus scan (the
    * centroid table is nList rows; `assigned` stays lazy). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    Index(centroids, spark.read.parquet(s"$dir/assigned"))
  }

  /** Search a persisted index: reopen + [[search]], one call. */
  def searchPersisted(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nProbe: Int,
      qId: String = "q_id", qVec: String = "q_vec",
      tId: String = "vec_id", tVec: String = "embedding",
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame =
    search(load(spark, dir), queries, k, nProbe, qId, qVec, tId, tVec, predicate)

  /** Assign NEW vectors to the existing cells without retraining —
    * squared-Euclidean argmin against the broadcast centroids, the
    * same rule `KMeansModel.transform` applies, with ties broken to
    * the lowest cell id (KMeans's first-minimum). The q264
    * ccIncremental pattern: the delta costs O(|delta| · nList), the
    * trained artifact is untouched. Returns `delta` + `cell`. */
  def assignNew(index: Index, delta: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val cdf = index.centroids.toSeq.toDF("cell", "centroid")
    // HOF args must be plain attributes (the lambda-CSE trap): project
    // the cast vector before the distance fold reads it per element
    val joined = delta
      .withColumn("__dv", Similarity.toDoubleArr(col(vecCol)))
      .crossJoin(broadcast(cdf))
      .withColumn("__d2",
        aggregate(zip_with(col("__dv"), col("centroid"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
    graft.plans.TopK.perGroup(joined, 1, Seq(idCol),
      Seq(graft.plans.TopK.asc("__d2"), graft.plans.TopK.asc("cell")))
      .drop("__dv", "centroid", "__d2")
  }

  /** Fold a delta into a persisted index: assign against the existing
    * centroids and APPEND to `assigned` — the artifact is maintained,
    * never rebuilt. (Re-train only when drift demands it; q315's
    * centroid-drift readout is the monitor for that decision.) */
  def appendNew(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, vecCol: String, idCol: String): Unit = {
    val idx = load(spark, dir)
    assignNew(idx, delta, vecCol, idCol)
      .select(idx.assigned.columns.map(col).toIndexedSeq: _*)
      .repartition(col("cell"))
      .write.mode("append").parquet(s"$dir/assigned")
  }
}
