package graft

import graft.operators.{Cleaning, StageMetrics}
import graft.sources.{ListingParser, Sinks, Sources}
import graft.ml.PriceModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three entry points as engine jobs — what a user of
  * datapointchris/etl-housing runs today, expressed as composed library
  * calls (SURVEY §3 lifecycles):
  *
  *  1. `scrapeDay`   — trulia_scrape.py main(): pages → rows → clean →
  *                     partitioned daily sink (idempotent re-run).
  *  2. `analyze`     — trulia_csv_to_nlp.ipynb: daily CSV union →
  *                     amenity flags → one-hot → ridge CV model from
  *                     one pass of per-fold moment sums.
  *  3. `sqlRoundTrip`— load_save_sql.ipynb: JDBC pull → union → append.
  */
object HousingJobs {

  /** Lifecycle 1: one day's ingest from a pre-fetched page archive.
    * Returns the cleaned frame (already written). */
  def scrapeDay(spark: SparkSession, pageDir: String, outDir: String,
      date: String): DataFrame = {
    val pages = Sources.pageArchive(spark, pageDir)
    val raw = ListingParser.parsePages(pages, date)
      .selectExpr(Cleaning.rawColumns: _*)
    val cleaned = Cleaning.cleanListings(raw)
    Sinks.overwriteDailyPartitions(cleaned, outDir)
    cleaned
  }

  /** Lifecycle 2's featurization: union the daily store, flag the
    * amenity keywords in `details`, one-hot the zips (drop-first), drop
    * rows without price or sqft, and cast the features and `price` to
    * double. Returns the lazy typed frame and its feature columns. The
    * zip list is collected here, which scans the store once. */
  def features(spark: SparkSession, dailyDir: String): (DataFrame, Seq[String]) = {
    val corpus = spark.read.parquet(dailyDir)
    val flagged = Cleaning.amenityFlags(
      corpus.withColumn("details", coalesce(col("details"), lit(""))), "details")
    val zips = flagged.select(col("zipcode").cast("string"))
      .filter(col("zipcode").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val featurized = Cleaning.oneHot(
      flagged.withColumn("zipcode", col("zipcode").cast("string")),
      "zipcode", zips, "zipcode")
      .filter(col("price").isNotNull && col("sqft").isNotNull)
      .na.fill(0.0, Seq("bed", "bath"))
    val featureCols = Seq("sqft", "bed", "bath") ++
      Cleaning.amenityKeywords ++
      zips.drop(1).map(z => s"zipcode_$z")
    val typed = (featureCols :+ "price").map(c => c -> col(c).cast("double")).toMap
    (featurized.withColumns(typed), featureCols)
  }

  /** Lifecycle 2: multi-day analysis — [[features]], then a ridge price
    * model with 5-fold CV over `alphas` (the reference's RidgeCV grid by
    * default). One Spark job reads the typed frame once and reduces it
    * to exact moment sums per CV fold of the 75% train split and for the
    * test split (`PriceModel.splitCrossValidate`); every fold fit, the
    * refit and the held-out R² are closed-form solves on the driver.
    * After [[features]]' own jobs (the zip list) that is one Spark job,
    * and the store is scanned twice: by the zip list and by that pass.
    * Returns (the lazy featurized frame, held-out R², coefficient
    * table). */
  def analyze(spark: SparkSession, dailyDir: String,
      alphas: Seq[Double] = PriceModel.alphaGrid)
      : (DataFrame, Double, Seq[(String, Double)]) = {
    val (featurized, featureCols) = features(spark, dailyDir)
    val (model, r2) = PriceModel.splitCrossValidate(featurized, featureCols, alphas)
    (featurized, r2, PriceModel.coefficients(model))
  }

  /** Lifecycle 3: SQL round trip — pull two projections, union, append
    * back (surrogate key dropped). Returns the row count appended,
    * observed on the append itself. */
  def sqlRoundTrip(spark: SparkSession, url: String, table: String,
      outTable: String, props: java.util.Properties): Long = {
    val full = Sources.jdbcTable(spark, url, table, props)
    val a = full.select("name", "price", "city")
    val b = full.select("name", "price", "city")
    val (unioned, obs) = StageMetrics.observed(a.union(b), "sqlRoundTrip")
    Sinks.jdbcAppend(unioned, url, outTable, dropCols = Seq.empty, props = props)
    // the append returned, so it executed the pull: its observation is
    // complete or in flight, and `get` waits for it
    obs.get("rows").asInstanceOf[Long]
  }
}
