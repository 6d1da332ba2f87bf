package graft

import java.nio.file.Files

import graft.ml.PriceModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.Bridge

/** Full-lifecycle integration: the reference's production flow run
  * end-to-end through HousingJobs on golden-shaped data.
  */
class HousingJobsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("scrapeDay + analyze: page archive → daily store → featurized model") {
    val pages = Files.createTempDirectory("hj_pages").toString
    val store = Files.createTempDirectory("hj_store").toString

    // synthesize a page archive: 30 listing pages in two zips with a
    // learnable price structure (price ≈ sqft + pool premium)
    (1 to 30).foreach { i =>
      val sqft = 400 + i * 20
      val price = (sqft * 1.5 + (if (i % 2 == 0) 300 else 0)).toInt
      val zip = if (i % 3 == 0) "78701" else "78745"
      val details = if (i % 2 == 0) "Pool ,Granite counters" else "Built in 1990"
      val html =
        s"""<html><body>
           |<span data-testid="home-details-summary-headline">Apt $i</span>
           |<span data-testid="home-details-summary-city-state">$i Main St</span>
           |<span data-testid="home-details-summary-city-state">Austin, TX $zip</span>
           |<div data-testid="home-description-text-description-text">d</div>
           |<li class="FeatureList__FeatureListItem-x">$details</li>
           |<table data-testid="floor-plan-group"><tr>
           |  <div color="highlight">Unit $i</div>
           |  <td class="FloorPlanTable__FloorPlanFloorSpaceCell-x">$sqft sqft</td>
           |  <td class="FloorPlanTable__FloorPlanFeaturesCell-x">2bd</td>
           |  <td class="FloorPlanTable__FloorPlanFeaturesCell-x">1ba</td>
           |  <td class="FloorPlanTable__FloorPlanSMCell-x">$$$price</td>
           |  <td class="FloorPlanTable__FloorPlanSMCell-x">$$$price</td>
           |</tr></table></body></html>""".stripMargin
      Files.writeString(java.nio.file.Path.of(s"$pages/p$i.html"), html)
    }

    val cleaned = HousingJobs.scrapeDay(spark, pages, store, "2020-01-08")
    assert(cleaned.count() == 30)

    // idempotent re-run of the same day must not duplicate
    HousingJobs.scrapeDay(spark, pages, store, "2020-01-08")
    assert(spark.read.parquet(store).count() == 30)

    // every completed stage's RDD lineage, and the persisted RDDs, around analyze
    val sc = spark.sparkContext
    val scanStages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages.incrementAndGet()
    }
    assert(Bridge.drainListenerBus(spark))
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val (featurized, r2, coefs) =
      try HousingJobs.analyze(spark, store)
      finally { assert(Bridge.drainListenerBus(spark)); sc.removeSparkListener(listener) }
    assert(featurized.columns.contains("pool"))
    assert(featurized.columns.contains("zipcode_78745")) // drop-first kept later zip
    assert(r2 > 0.9, s"strong linear signal should fit, r2=$r2")
    assert(coefs.nonEmpty)
    // the store is scanned for the zip list and for the one materialize;
    // the split, CV folds, refit and R² read the materialized blocks
    assert(scanStages.get <= 2, s"${scanStages.get} stages scanned the store")
    assert(sc.getPersistentRDDs.keySet == persistedBefore, "materialized blocks not freed")

    // the materialize changes no number: the same model fit on the lazy frame
    val (lazyFeatures, featureCols) = HousingJobs.features(spark, store)
    val (train, test) = PriceModel.split(lazyFeatures)
    val model = PriceModel.crossValidate(train, featureCols, Seq(0.1, 1.0, 10.0))
    assert(r2 == PriceModel.r2(model, test))
    assert(coefs == PriceModel.coefficients(model, featureCols))
  }

  test("sqlRoundTrip appends the unioned pull (Derby)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:hjdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Seq(("a", 100, "Austin"), ("b", 200, "Austin")).toDF("name", "price", "city")
      .write.mode("overwrite").jdbc(url, "apartments", props)
    val n = HousingJobs.sqlRoundTrip(spark, url, "apartments", "rentals", props)
    assert(n == 4)
    assert(spark.read.jdbc(url, "rentals", props).count() == 4)
  }
}
