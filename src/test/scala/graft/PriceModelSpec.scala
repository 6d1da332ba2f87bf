package graft

import java.nio.file.Files

import graft.ml.PriceModel
import org.apache.spark.SparkException
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{LinearRegression, LinearRegressionModel}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.max

/** PriceModel's closed-form ridge CV is pinned to MLlib's
  * VectorAssembler → StandardScaler(withMean) → LinearRegression
  * (elasticNetParam = 0) under CrossValidator on the same folds: every
  * α's mean validation R², the chosen α, the test R² and every
  * coefficient agree to 1e-9 relative. Against sklearn, whose Ridge α is
  * not MLlib's regParam, the R² stays a tolerance band (BASELINE 0.7292,
  * checked by housebench's `housing_etl`); the exact oracle-checked
  * regression readout beside it is q558_exact_ridge
  * (DecisionQueries.q558), hash-compared against DuckDB. */
class PriceModelSpec extends SparkSpec {

  /** The MLlib pipeline PriceModel replaced, on PriceModel's folds. */
  private def mllibCrossValidate(train: DataFrame, featureCols: Seq[String],
      alphas: Seq[Double]): CrossValidatorModel = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val ridge = new LinearRegression()
      .setFeaturesCol("features").setLabelCol("price")
      .setElasticNetParam(0.0)
    new CrossValidator()
      .setEstimator(new Pipeline().setStages(Array(assembler, scaler, ridge)))
      .setEvaluator(new RegressionEvaluator().setLabelCol("price").setMetricName("r2"))
      .setEstimatorParamMaps(new ParamGridBuilder().addGrid(ridge.regParam, alphas).build())
      .setNumFolds(PriceModel.Folds)
      .setFoldCol("cv_fold")
      .fit(train.withColumn("cv_fold", PriceModel.rowBucket(train, PriceModel.Folds).cast("int")))
  }

  private def assertClose(what: String, got: Double, want: Double): Unit =
    assert(math.abs(got - want) <= 1e-9 * math.max(math.abs(got), math.abs(want)),
      s"$what: $got vs MLlib $want")

  /** Fits `df`'s train side both ways and compares every number.
    * Returns PriceModel's fit and its test R². */
  private def assertMatchesMllib(df: DataFrame, featureCols: Seq[String],
      alphas: Seq[Double]): (PriceModel.RidgeCV, Double) = {
    val (train, test) = PriceModel.split(df)
    val model = PriceModel.crossValidate(train, featureCols, alphas)
    val r2 = PriceModel.r2(model, test)
    val ref = mllibCrossValidate(train, featureCols, alphas)
    val refRidge = ref.bestModel.asInstanceOf[PipelineModel]
      .stages.last.asInstanceOf[LinearRegressionModel]
    assert(model.avgMetrics.size == alphas.size)
    model.avgMetrics.zip(ref.avgMetrics).zip(alphas).foreach { case ((a, b), alpha) =>
      assertClose(s"mean CV R² at α $alpha", a, b)
    }
    assert(model.bestAlpha == refRidge.getRegParam)
    assertClose("test R²", r2,
      new RegressionEvaluator().setLabelCol("price").setMetricName("r2").evaluate(ref.transform(test)))
    featureCols.indices.foreach(j => assertClose(s"coefficient of ${featureCols(j)}",
      model.best.coefficients(j), refRidge.coefficients(j)))
    assertClose("intercept", model.best.intercept, refRidge.intercept)
    (model, r2)
  }

  /** price = 1.2*sqft + 150*bed + 80*bath + 200*pool + noise */
  private def signal(rows: Int, seed: Int): Seq[(Double, Double, Double, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (1 to rows).map { _ =>
      val sqft = 400 + rnd.nextInt(1200)
      val bed = 1 + rnd.nextInt(3)
      val bath = 1 + rnd.nextInt(2)
      val pool = rnd.nextInt(2)
      val price = 1.2 * sqft + 150.0 * bed + 80.0 * bath + 200.0 * pool +
        rnd.nextGaussian() * 120.0
      (sqft.toDouble, bed.toDouble, bath.toDouble, pool.toDouble, price)
    }
  }

  test("ridge pipeline recovers a linear price signal (R² band, M1-M8)") {
    import spark.implicits._
    val df = signal(2000, 7).toDF("sqft", "bed", "bath", "pool", "price")
    val (model, r2) = assertMatchesMllib(df, Seq("sqft", "bed", "bath", "pool"), Seq(0.1, 1.0, 10.0))
    assert(r2 > 0.85, s"R² $r2 too low")
    // coefficients are on the scaled features: check signs + table shape
    val coefs = PriceModel.coefficients(model).toMap
    assert(coefs.size == 4)
    assert(coefs("sqft") > 0 && coefs("bed") > 0)
  }

  test("the 75/25 split and the CV folds depend on the rows, not on how they are partitioned") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 500).map(i => (i.toDouble, i * 2.0 + rnd.nextGaussian() * 40))
      .toDF("sqft", "price")
    val Seq(one, seven) = Seq(df.coalesce(1), df.repartition(7)).map(PriceModel.split(_))
    val (train, test) = (one._1.collect().toSet, one._2.collect().toSet)
    assert((seven._1.collect().toSet, seven._2.collect().toSet) === ((train, test)))
    assert(train.size + test.size === 500 && train.intersect(test).isEmpty)
    assert(train.size > 330 && train.size < 420, s"train ${train.size} of 500")
    // same folds ⇒ the same CV scores, up to summation order
    val Seq(cv1, cv7) = Seq(one, seven).map(s => PriceModel.crossValidate(
      s._1, Seq("sqft"), alphas = Seq(0.1, 10.0)).avgMetrics)
    cv7.zip(cv1).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"CV scores differ by partitioning: $a vs $b")
    }
  }

  test("closed-form ridge CV matches MLlib where a one-hot column is all 0 in one fold's training rows") {
    import spark.implicits._
    // `flag` is 1 only on train rows of CV fold 0, so the fit scored on
    // fold 0 sees a zero-sd column (MLlib: scale 0, coefficient 0) and
    // the other fits do not. The fold hash covers every numeric column,
    // `flag` included, so each candidate row is hashed with flag = 1,
    // and keeps it only if that lands it in fold 0.
    val rows = signal(600, 3).zipWithIndex.map { case ((sqft, bed, bath, pool, price), i) =>
      (s"r$i", sqft, bed, bath, pool, 1.0, price)
    }
    val cols = Seq("id", "sqft", "bed", "bath", "pool", "flag", "price")
    val allFlagged = rows.toDF(cols: _*)
    val (flaggedTrain, _) = PriceModel.split(allFlagged)
    val inFold0 = flaggedTrain.filter(PriceModel.rowBucket(flaggedTrain, PriceModel.Folds) === 0)
      .select("id").as[String].collect().toSet
    val df = rows.map { case r @ (id, _, _, _, _, _, _) =>
      if (inFold0(id) && id.drop(1).toInt % 3 == 0) r else r.copy(_6 = 0.0)
    }.toDF(cols: _*)
    val (train, _) = PriceModel.split(df)
    val flagByFold = train.groupBy(PriceModel.rowBucket(train, PriceModel.Folds).as("fold"))
      .agg(max("flag")).as[(Long, Double)].collect().toMap
    assert(flagByFold == Map(0L -> 1.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0))
    val (model, _) = assertMatchesMllib(df, Seq("sqft", "bed", "bath", "pool", "flag"), Seq(0.1, 1.0, 10.0))
    assert(model.best.coefficients(4) != 0.0) // the refit sees fold 0's flags
  }

  test("closed-form ridge CV matches MLlib on a scraped page-archive store") {
    val pages = Files.createTempDirectory("pm_pages").toString
    val store = Files.createTempDirectory("pm_store").toString
    HousingJobsSpec.writePages(pages)
    HousingJobs.scrapeDay(spark, pages, store, "2020-01-08")
    val (featurized, featureCols) = HousingJobs.features(spark, store)
    assertMatchesMllib(featurized, featureCols, Seq(0.1, 1.0, 10.0))
  }

  test("a null feature or label fails the fit, as VectorAssembler's handleInvalid = error does") {
    import spark.implicits._
    val df = Seq[(Option[Double], Option[Double])]((Some(1.0), Some(2.0)), (None, Some(3.0)),
      (Some(2.0), Some(5.0))).toDF("sqft", "price")
    val noPrice = Seq[(Option[Double], Option[Double])]((Some(1.0), Some(2.0)),
      (Some(3.0), None)).toDF("sqft", "price")
    Seq(df -> "sqft", noPrice -> "price").foreach { case (frame, column) =>
      val e = intercept[SparkException](PriceModel.crossValidate(frame, Seq("sqft"), Seq(1.0)))
      assert(e.getMessage.contains(s"`$column` is null"), e.getMessage)
    }
  }
}
