package graft

import java.nio.file.Files

import graft.ml.PriceModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.Bridge

/** Full-lifecycle integration: the reference's production flow run
  * end-to-end through HousingJobs on golden-shaped data.
  */
class HousingJobsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("scrapeDay + analyze: page archive → daily store → featurized model") {
    val pages = Files.createTempDirectory("hj_pages").toString
    val store = Files.createTempDirectory("hj_store").toString

    HousingJobsSpec.writePages(pages)

    val cleaned = HousingJobs.scrapeDay(spark, pages, store, "2020-01-08")
    assert(cleaned.count() == 30)

    // idempotent re-run of the same day must not duplicate
    HousingJobs.scrapeDay(spark, pages, store, "2020-01-08")
    assert(spark.read.parquet(store).count() == 30)

    // the jobs, every completed stage's RDD lineage, and the persisted
    // RDDs, around `body`
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scanStages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages.incrementAndGet()
    }
    def observed[T](body: => T): T = {
      assert(Bridge.drainListenerBus(spark))
      jobs.set(0); scanStages.set(0)
      sc.addSparkListener(listener)
      try body
      finally { assert(Bridge.drainListenerBus(spark)); sc.removeSparkListener(listener) }
    }
    observed(HousingJobs.features(spark, store))
    val featuresJobs = jobs.get
    val persistedBefore = sc.getPersistentRDDs.keySet
    val (featurized, r2, coefs) = observed(HousingJobs.analyze(spark, store))
    assert(featurized.columns.contains("pool"))
    assert(featurized.columns.contains("zipcode_78745")) // drop-first kept later zip
    assert(r2 > 0.9, s"strong linear signal should fit, r2=$r2")
    assert(coefs.nonEmpty)
    // features' jobs (the zip list) and the one moments pass; every fold
    // fit, the refit and R² are solved on the driver. The store's rows
    // are scanned twice: the zip list and the moments pass.
    assert(jobs.get == featuresJobs + 1, s"analyze ran ${jobs.get} jobs, features $featuresJobs")
    assert(scanStages.get <= 2, s"${scanStages.get} stages scanned the store")
    assert(sc.getPersistentRDDs.keySet == persistedBefore, "analyze left RDDs persisted")

    // the moments are merged in partition order: a second call repeats
    // every bit
    val (_, r2Again, coefsAgain) = HousingJobs.analyze(spark, store)
    assert(r2Again == r2 && coefsAgain == coefs)

    // the one pass changes no number: the same model composed from the
    // split, the CV on its train side and R² on its test side
    val (lazyFeatures, featureCols) = HousingJobs.features(spark, store)
    val (train, test) = PriceModel.split(lazyFeatures)
    val model = PriceModel.crossValidate(train, featureCols)
    assert(r2 == PriceModel.r2(model, test))
    assert(coefs == PriceModel.coefficients(model))
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

object HousingJobsSpec {

  /** A page archive of 30 listing pages in two zips with a learnable
    * price structure (price ≈ sqft + pool premium), written to `dir`. */
  def writePages(dir: String): Unit = {
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
      Files.writeString(java.nio.file.Path.of(s"$dir/p$i.html"), html)
    }
  }
}
