package graft.ml

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, udf, when, xxhash64}
import org.apache.spark.sql.types.NumericType

/** Ridge price model — the reference's sklearn pipeline
  * (trulia_csv_to_nlp.ipynb cells 22-31, SURVEY §2.10): feature matrix →
  * standard scaling (with mean) → RidgeCV(α grid), 5-fold CV scored on R².
  *
  * Ridge CV from sufficient statistics: one Spark job reduces the rows to
  * exact per-group moment sums (a CV fold, or the held-out split), and
  * every fit and score after that is a closed-form solve on the driver.
  * The estimator is MLlib's ridge pipeline, number for number: its
  * scaler (mean, sample sd, scale 0 for a zero-sd column) → linear
  * regression (elasticNetParam = 0) on the normal-equation solver
  * (`WeightedLeastSquares`: feature and label standardization, α/σ_y on
  * the diagonal, Cholesky) → the cross-validator's mean validation R²
  * and first-argmax α → refit on every fold. PriceModelSpec pins avgMetrics,
  * α, test R² and every coefficient to that MLlib pipeline at 1e-9;
  * against sklearn (whose α is not MLlib's regParam) R² parity is a
  * tolerance band (SURVEY §5.5).
  */
object PriceModel {

  /** The reference's RidgeCV grid, `np.linspace(.1, 10, 100)` (SURVEY M4). */
  val alphaGrid: Seq[Double] = (0 until 99).map(i => 0.1 + i * (9.9 / 99)) :+ 10.0

  /** The label column, the CV fold count and the seed of the split and
    * folds: one value each, so [[splitCrossValidate]] cannot drift from
    * [[split]] + [[crossValidate]] + [[r2]]. */
  private[graft] val Label = "price"
  private[graft] val Folds = 5
  private[graft] val Seed = 7L

  /** A [[Seed]]ed hash of each row's numeric columns (features, label)
    * in [0, n). `randomSplit` and MLlib's own CV folds sample per
    * partition, so the same rows packed differently split differently;
    * text columns such as `url` (the page's path) vary between runs.
    * The identity UDF is marked nondeterministic so the optimizer infers
    * no constraints from a filter on the bucket: over an unmaterialized
    * frame of ~100 derived columns that inference ran for minutes.
    * PriceModelSpec's MLlib reference takes its CV folds from here. */
  private[graft] def rowBucket(df: DataFrame, n: Int): Column = {
    val numeric = df.schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[NumericType] => col(s"`${f.name}`")
    }
    udf((b: Long) => b).asNondeterministic()(
      pmod(xxhash64(lit(Seed) +: lit(n) +: numeric: _*), lit(n.toLong)))
  }

  private def testSide(df: DataFrame): Column = rowBucket(df, 100) >= 75

  /** M1: the reference's 75/25 split, seeded (sklearn default + seed 7). */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val test = testSide(df)
    (df.filter(!test), df.filter(test))
  }

  /** Exact sums over one group of rows, flat: n, Σy, Σy², then Σx (d),
    * Xᵀy (d) and XᵀX's upper triangle, packed column by column (entry
    * (j, k), j ≤ k, at k(k+1)/2 + j). */
  final class Moments(val d: Int, val v: Array[Double]) {
    def n: Double = v(0)
    def sy: Double = v(1)
    def syy: Double = v(2)
    def sx(j: Int): Double = v(3 + j)
    def sxy(j: Int): Double = v(3 + d + j)
    def sxx(j: Int, k: Int): Double =
      if (j <= k) v(3 + 2 * d + k * (k + 1) / 2 + j) else sxx(k, j)
    def +(o: Moments): Moments = new Moments(d, Array.tabulate(v.length)(i => v(i) + o.v(i)))
  }

  /** One Spark job: the [[Moments]] of each group `0 until groups` that
    * `group` assigns the rows of `df` to. Each task sums its partition's
    * rows in order; the driver adds the partition sums in partition
    * order, so the same frame gives the same bits on every call. A null
    * (or NaN) feature or label fails the job, as MLlib's vector
    * assembler does by default (`handleInvalid = "error"`); it is never
    * summed as 0. */
  private def moments(df: DataFrame, featureCols: Seq[String],
      group: Column, groups: Int): IndexedSeq[Moments] = {
    val names = Label +: featureCols
    val d = featureCols.size
    val w = 3 + 2 * d + d * (d + 1) / 2
    val rows = df.select(group.cast("int") +: names.map(c => col(s"`$c`").cast("double")): _*)
    val parts = rows.queryExecution.toRdd.mapPartitions { it =>
      val acc = Array.ofDim[Double](groups, w)
      val x = new Array[Double](d)
      it.foreach { row =>
        var i = 1
        while (i <= d + 1) {
          if (row.isNullAt(i) || row.getDouble(i).isNaN)
            throw new SparkException(s"ridge input column `${names(i - 1)}` is null or NaN")
          i += 1
        }
        val a = acc(row.getInt(0))
        val y = row.getDouble(1)
        a(0) += 1; a(1) += y; a(2) += y * y
        var k = 0
        while (k < d) {
          val xk = row.getDouble(2 + k)
          x(k) = xk
          a(3 + k) += xk
          a(3 + d + k) += xk * y
          val base = 3 + 2 * d + k * (k + 1) / 2
          var j = 0
          while (j <= k) { a(base + j) += x(j) * xk; j += 1 }
          k += 1
        }
      }
      Iterator.single(acc)
    }.collect()
    (0 until groups).map(g =>
      parts.map(p => new Moments(d, p(g))).foldLeft(new Moments(d, new Array[Double](w)))(_ + _))
  }

  /** A ridge fit: `coefficients` on the standardized features, the
    * `intercept`, and the scaler's column means and scales (1/sd, 0 for
    * a zero-sd column). */
  final case class Ridge(coefficients: IndexedSeq[Double], intercept: Double,
      mean: IndexedSeq[Double], scale: IndexedSeq[Double]) {

    /** RegressionEvaluator's R², 1 − SSerr/SStot, over the rows summed
      * in `m`; both sums are taken about m's own means. */
    def r2(m: Moments): Double = {
      val d = mean.size
      val w = (0 until d).map(j => coefficients(j) * scale(j)) // per raw unit
      val mu = (0 until d).map(j => m.sx(j) / m.n)
      val yBar = m.sy / m.n
      val ssTot = m.syy - m.sy * yBar
      val offset = yBar - intercept - (0 until d).map(j => w(j) * (mu(j) - mean(j))).sum
      var ssErr = ssTot + m.n * offset * offset
      for (j <- 0 until d if w(j) != 0.0) {
        ssErr -= 2 * w(j) * (m.sxy(j) - m.sx(j) * yBar)
        for (k <- 0 until d if w(k) != 0.0)
          ssErr += w(j) * w(k) * (m.sxx(j, k) - m.sx(j) * mu(k))
      }
      1 - ssErr / ssTot
    }
  }

  /** MLlib's scaler → linear regression (regParam = α,
    * elasticNetParam = 0) on the rows summed in `m`. The scaled features
    * have mean 0 and sample sd 1, so `WeightedLeastSquares`' standardized
    * normal equations are (R + α/σ_y·I)·x = r, with R the features'
    * correlation matrix and r their correlations with the label; a
    * zero-sd feature drops out with coefficient 0. */
  private def fit(m: Moments, alpha: Double): Ridge = {
    val d = m.d
    val n = m.n
    val mean = (0 until d).map(j => m.sx(j) / n)
    def cxx(j: Int, k: Int) = m.sxx(j, k) - m.sx(j) * mean(k)
    val sd = (0 until d).map(j => math.sqrt(math.max(cxx(j, j), 0.0) / (n - 1)))
    val scale = sd.map(s => if (s == 0.0) 0.0 else 1.0 / s)
    val yBar = m.sy / n
    val ySd = math.sqrt(math.max(m.syy / n - yBar * yBar, 0.0)) // population sd, as WLS
    val coefficients = new Array[Double](d)
    val active = (0 until d).filter(sd(_) > 0.0)
    if (ySd > 0.0 && active.nonEmpty) {
      val rootC = active.map(j => math.sqrt(cxx(j, j)))
      val lambda = alpha / ySd
      val a = Array.tabulate(active.size, active.size) { (p, q) =>
        if (p == q) 1.0 + lambda else cxx(active(p), active(q)) / (rootC(p) * rootC(q))
      }
      val r = active.indices.map(p =>
        (m.sxy(active(p)) - m.sx(active(p)) * yBar) / (rootC(p) * math.sqrt(n) * ySd))
      // WLS's solution is in units of σ_y per σ_z, and a scaled
      // feature's population sd σ_z is sqrt((n-1)/n)
      val x = choleskySolve(a, r.toArray)
      active.indices.foreach(p => coefficients(active(p)) = x(p) * ySd * math.sqrt(n / (n - 1)))
    }
    Ridge(coefficients.toIndexedSeq, yBar, mean, scale)
  }

  /** Solves a·x = b for a symmetric positive-definite a by its Cholesky
    * factor a = L·Lᵀ, as MLlib's normal-equation solver does. */
  private def choleskySolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val p = b.length
    val l = Array.ofDim[Double](p, p)
    for (i <- 0 until p; j <- 0 to i) {
      val s = a(i)(j) - (0 until j).map(k => l(i)(k) * l(j)(k)).sum
      if (i == j) {
        if (!(s > 0.0)) throw new ArithmeticException("ridge system is not positive definite")
        l(i)(i) = math.sqrt(s)
      } else l(i)(j) = s / l(j)(j)
    }
    val y = new Array[Double](p)
    for (i <- 0 until p) y(i) = (b(i) - (0 until i).map(k => l(i)(k) * y(k)).sum) / l(i)(i)
    val x = new Array[Double](p)
    for (i <- p - 1 to 0 by -1)
      x(i) = (y(i) - (i + 1 until p).map(k => l(k)(i) * x(k)).sum) / l(i)(i)
    x
  }

  /** A cross-validated ridge: each α's mean validation R² in
    * `avgMetrics` (in the order the α were given), the first α that
    * maximizes it, and `best`, that α's refit on every fold. */
  final case class RidgeCV(featureCols: Seq[String], avgMetrics: Seq[Double],
      bestAlpha: Double, best: Ridge)

  /** M4-M5 on per-fold moments: each fold is scored by the fit on the
    * sum of the other folds. */
  private def crossValidated(featureCols: Seq[String], folds: IndexedSeq[Moments],
      alphas: Seq[Double]): RidgeCV = {
    require(alphas.nonEmpty && alphas.forall(_ > 0.0), s"ridge α must be positive: $alphas")
    val trains = folds.indices.map(f => folds.indices.filter(_ != f).map(folds).reduce(_ + _))
    val avgMetrics = alphas.map(alpha =>
      folds.indices.map(f => fit(trains(f), alpha).r2(folds(f))).sum / folds.size)
    val bestAlpha = alphas(avgMetrics.indices.maxBy(avgMetrics))
    RidgeCV(featureCols, avgMetrics, bestAlpha, fit(folds.reduce(_ + _), bestAlpha))
  }

  /** M4-M5: RidgeCV equivalent — 5-fold CV over an α grid, R², in one
    * pass over `train`. */
  def crossValidate(train: DataFrame, featureCols: Seq[String],
      alphas: Seq[Double] = alphaGrid): RidgeCV =
    crossValidated(featureCols, moments(train, featureCols, rowBucket(train, Folds), Folds), alphas)

  /** M1-M7 in one pass over `df`: the rows of [[split]]'s test side form
    * one group and its train side's CV folds the others, so the result
    * is [[crossValidate]] on the train side and [[r2]] on the test side,
    * bit for bit. Returns (the model, held-out R²). */
  private[graft] def splitCrossValidate(df: DataFrame, featureCols: Seq[String],
      alphas: Seq[Double]): (RidgeCV, Double) = {
    val group = when(testSide(df), lit(Folds)).otherwise(rowBucket(df, Folds))
    val sums = moments(df, featureCols, group, Folds + 1)
    val model = crossValidated(featureCols, sums.take(Folds), alphas)
    (model, model.best.r2(sums(Folds)))
  }

  /** M6-M7: R² on held-out data. */
  def r2(model: RidgeCV, test: DataFrame): Double =
    model.best.r2(moments(test, model.featureCols, lit(0), 1).head)

  /** M8: (feature, coefficient on the standardized feature) table sorted
    * by coefficient desc. */
  def coefficients(model: RidgeCV): Seq[(String, Double)] =
    model.featureCols.zip(model.best.coefficients).sortBy(-_._2)
}
