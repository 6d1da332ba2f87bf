package graft

import graft.ml.PriceModel

/** The ridge checks here are tolerance BANDS (sklearn-vs-MLlib solver
  * divergence on the 60-feature model, SURVEY §7 hard part (b)); the
  * EXACT oracle-checked regression readout beside these bands is
  * q558_exact_ridge (DecisionQueries.q558): closed-form normal-equation
  * ridge on integer Gram sums, hash-compared against DuckDB. */
class PriceModelSpec extends SparkSpec {

  test("ridge pipeline recovers a linear price signal (R² band, M1-M8)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // price = 1.2*sqft + 150*bed + 80*bath + 200*pool + noise
    val rows = (1 to 2000).map { _ =>
      val sqft = 400 + rnd.nextInt(1200)
      val bed = 1 + rnd.nextInt(3)
      val bath = 1 + rnd.nextInt(2)
      val pool = rnd.nextInt(2)
      val price = 1.2 * sqft + 150.0 * bed + 80.0 * bath + 200.0 * pool +
        rnd.nextGaussian() * 120.0
      (sqft.toDouble, bed.toDouble, bath.toDouble, pool.toDouble, price)
    }
    val df = rows.toDF("sqft", "bed", "bath", "pool", "price")
    val features = Seq("sqft", "bed", "bath", "pool")
    val (train, test) = PriceModel.split(df)
    val model = PriceModel.crossValidate(train, features, alphas = Seq(0.1, 1.0))
    val r2 = PriceModel.r2(model, test)
    assert(r2 > 0.85, s"R² $r2 too low")
    // coefficient ranking: sqft dominates after standardization? No —
    // coefficients are on scaled features; just check signs + table shape
    val coefs = PriceModel.coefficients(model, features).toMap
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
      s._1, Seq("sqft"), alphas = Seq(0.1, 10.0)).avgMetrics.toSeq)
    cv7.zip(cv1).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"CV scores differ by partitioning: $a vs $b")
    }
  }
}
