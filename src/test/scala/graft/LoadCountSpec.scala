package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** Every load is a single execution: `JobRunner.run` and
  * `HousingJobs.sqlRoundTrip` report the rows they wrote, observed on
  * the write itself, never by a second action over the source. */
class LoadCountSpec extends SparkSpec {

  /** Jobs started under a dedicated job group while `body` runs. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val group = s"load-count-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "load count")
    try {
      val r = body
      assert(Bridge.drainListenerBus(spark), "listener bus did not drain")
      (r, n.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private val config = """{"data_sources": {"range": {"evens": "1000", "odds": "500"}}}"""
  private val extractors: Map[String, JobRunner.Extract] =
    Map("range" -> ((s, spec) => s.range(spec.location.toLong).toDF("id")))
  private val transforms: Map[String, JobRunner.Transform] = Map(
    "evens" -> (_.filter(col("id") % 2 === 0)),
    "odds" -> (_.filter(col("id") % 2 === 1)))

  test("JobRunner.run: one job per dataset, and each count is the rows written") {
    val out = java.nio.file.Files.createTempDirectory("jr_single").toString
    val (result, jobs) = jobsIn(JobRunner.run(spark, config, transforms,
      (name, df) => df.write.mode("overwrite").parquet(s"$out/$name"), extractors))
    assert(jobs === 2, "one execution per dataset: the load, not a recount")
    assert(result === Map("evens" -> Right(500L), "odds" -> Right(250L)))
    result.foreach { case (name, n) =>
      assert(n === Right(spark.read.parquet(s"$out/$name").count()))
    }
  }

  test("JobRunner.run: a load that never executes the frame reports Left") {
    val (result, jobs) = jobsIn(JobRunner.run(spark, config, transforms,
      (_, _) => (), extractors))
    assert(jobs === 0)
    assert(result.values.forall(_.isLeft), result)
  }

  test("sqlRoundTrip returns the rows in the output table, from one execution (Derby)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:loadcount;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Seq(("a", 100, "Austin"), ("b", 200, "Austin"), ("c", 300, "Woburn"))
      .toDF("name", "price", "city")
      .write.mode("overwrite").jdbc(url, "listings", props)
    val (n, jobs) = jobsIn(HousingJobs.sqlRoundTrip(spark, url, "listings", "listings_out", props))
    assert(jobs === 1, "the append is the only execution")
    assert(n === 6L)
    assert(n === spark.read.jdbc(url, "listings_out", props).count())
  }
}
