package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-area registries; every entry with
  * SQL-expressible semantics also appears in `oracleSql` (DuckDB
  * dialect, hash-compared by the driver at sf0.01).
  */
object SparkEntry {

  /** The one session factory. Verify, Bench, ScaleSmoke, the test
    * suite and its PlanCensus report all build their session here, so
    * correctness runs, benchmarks, plan audits and tests plan under the
    * same confs and the same [[graft.plans.GraftExtensions]] (native SQL
    * names and the FoldToNativeVectorOps rule). `cores` is the only
    * thing the callers differ in. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // events.parquet may carry INT64 TIMESTAMP(NANOS); Spark 4 reads
      // it only as long under this flag (Fx.eventTs normalizes it).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def registry: Seq[QueryDef] =
    operators.Relational.all ++ operators.CleaningQueries.all ++
      operators.TextQueries.all ++ operators.DedupQueries.all ++
      operators.SimilarityQueries.all ++ operators.EventQueries.all ++
      operators.SimHashQueries.all ++ operators.SqlSurface.all ++
      operators.NativeTopKQuery.all ++ operators.StreamingQueries.all ++
      operators.Profile.all ++ operators.GraphQueries.all ++
      operators.TpchClassics.all ++ operators.TrainingQueries.all ++
      operators.CurationQueries.all ++ operators.TpchSubqueries.all ++
      operators.ScaleQueries.all ++ operators.CorpusQueries.all ++
      operators.IndexingQueries.all ++ operators.GovernanceQueries.all ++
      operators.AssociationQueries.all ++ operators.LakehouseQueries.all ++
      operators.PruningQueries.all ++ operators.EconometricsQueries.all ++
      operators.InferenceQueries.all ++
      operators.DecisionQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q05(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline benchmark subset (run by Bench at sf0.1). */
  def benchQueries: Seq[QueryDef] = registry.filter(_.bench)
}
