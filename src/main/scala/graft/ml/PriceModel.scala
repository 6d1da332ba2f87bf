package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, udf, xxhash64}
import org.apache.spark.sql.types.NumericType

/** Ridge price model — MLlib re-expression of the reference's sklearn
  * pipeline (trulia_csv_to_nlp.ipynb cells 22-31, SURVEY §2.10):
  * feature matrix → StandardScaler(withMean) → RidgeCV(α grid) with
  * 5-fold CV scored on R².
  *
  * Parity notes: sklearn Ridge == LinearRegression(elasticNetParam=0);
  * RidgeCV's alpha grid maps to regParam grid under CrossValidator;
  * R² parity is statistical (tolerance band), not exact — solvers and
  * fold assignment differ (SURVEY §5.5).
  */
object PriceModel {

  /** A seeded hash of each row's numeric columns (features, label) in
    * [0, n). `randomSplit` and CrossValidator's own folds sample per
    * partition, so the same rows packed differently split differently;
    * text columns such as `url` (the page's path) vary between runs.
    * The identity UDF is marked nondeterministic so the optimizer infers
    * no constraints from a filter on the bucket: over an unmaterialized
    * frame of ~100 derived columns that inference ran for minutes. */
  private def rowBucket(df: DataFrame, seed: Long, n: Int): Column = {
    val numeric = df.schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[NumericType] => col(s"`${f.name}`")
    }
    udf((b: Long) => b).asNondeterministic()(
      pmod(xxhash64(lit(seed) +: lit(n) +: numeric: _*), lit(n.toLong)))
  }

  /** M1: the reference's 75/25 split, seeded (sklearn default + seed 7). */
  def split(df: DataFrame, seed: Long = 7L): (DataFrame, DataFrame) = {
    val bucket = rowBucket(df, seed, 100)
    (df.filter(bucket < 75), df.filter(bucket >= 75))
  }

  /** M2-M4: assembler → scaler(withMean) → ridge. */
  def pipeline(featureCols: Seq[String], labelCol: String = "price",
      regParam: Double = 1.0): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("rawFeatures")
    val scaler = new StandardScaler()
      .setInputCol("rawFeatures").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
    val ridge = new LinearRegression()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setElasticNetParam(0.0) // pure L2 == ridge
      .setRegParam(regParam)
    new Pipeline().setStages(Array(assembler, scaler, ridge))
  }

  /** M4-M5: RidgeCV equivalent — 5-fold CV over an alpha grid, R². */
  def crossValidate(train: DataFrame, featureCols: Seq[String],
      alphas: Seq[Double] = Seq(0.1, 1.0, 5.0, 10.0),
      labelCol: String = "price", folds: Int = 5, seed: Long = 7L): CrossValidatorModel = {
    val pipe = pipeline(featureCols, labelCol)
    val lr = pipe.getStages.last.asInstanceOf[LinearRegression]
    val grid = new ParamGridBuilder().addGrid(lr.regParam, alphas).build()
    new CrossValidator()
      .setEstimator(pipe)
      .setEvaluator(new RegressionEvaluator()
        .setLabelCol(labelCol).setMetricName("r2"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds)
      .setFoldCol("cv_fold")
      .setParallelism(4)
      .fit(train.withColumn("cv_fold", rowBucket(train, seed, folds).cast("int")))
  }

  /** M6-M7: R² on held-out data. */
  def r2(model: CrossValidatorModel, test: DataFrame, labelCol: String = "price"): Double =
    new RegressionEvaluator().setLabelCol(labelCol).setMetricName("r2")
      .evaluate(model.transform(test))

  /** M8: (feature, coefficient) table sorted by coefficient desc. */
  def coefficients(model: CrossValidatorModel, featureCols: Seq[String]): Seq[(String, Double)] = {
    val lrm = model.bestModel.asInstanceOf[PipelineModel]
      .stages.last.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    featureCols.zip(lrm.coefficients.toArray).sortBy(-_._2)
  }
}
