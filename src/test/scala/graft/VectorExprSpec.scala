package graft

import graft.operators.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame

/** Native CosineSim must be bit-identical to the Column-API fold it
  * replaces (the oracle parity of every similarity query depends on
  * it), in both the codegen and interpreted paths. */
class VectorExprSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  /** An RDD source, not a local Seq: the optimizer evaluates a
    * projection over a LocalRelation before FoldToNativeVectorOps
    * could see it. */
  private def vecs = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    spark.sparkContext.parallelize((1 to 50).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }, 2).toDF("id", "a", "b")
  }

  /** Gaussian doubles. The float grid of [[vecs]] sums exactly in any
    * order; these products round, so only a left-to-right
    * accumulation reproduces the fold's bits. */
  private def gaussians = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    spark.sparkContext.parallelize((1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(rnd.nextGaussian()))
    }, 2).toDF("id", "a", "b")
  }

  test("native cosine is bit-identical to the aggregate/zip_with fold") {
    val a = Similarity.toDoubleArr(col("a"))
    val b = Similarity.toDoubleArr(col("b"))
    for ((input, in) <- Seq[(String, () => DataFrame)]("floats" -> (() => vecs),
        "gaussians" -> (() => gaussians))) {
      // defs: each use plans a fresh Dataset under the confs in force
      def fold = in().select(col("id"), Similarity.cosine(a, b).as("c"))
      def native = in().select(col("id"), GraftFunctions.vec_cosine(a, b).as("c"))
      def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val reference = withoutFoldRewrite {
        assert(!plansDotProduct(fold), "the reference fold must not run the native kernel")
        byId(fold)
      }
      // the fold as the session plans it, through FoldToNativeVectorOps
      assert(plansDotProduct(fold))
      val rewritten = byId(fold)
      val nat = byId(native)
      assert(reference.size == 50)
      reference.foreach { case (id, f) =>
        for ((label, v) <- Seq("native" -> nat(id), "rewritten fold" -> rewritten(id)))
          assert(java.lang.Double.doubleToLongBits(f) == java.lang.Double.doubleToLongBits(v),
            s"$input id=$id fold=$f $label=$v")
      }
    }
  }

  test("interpreted eval matches codegen result") {
    val expr = graft.plans.CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5, -1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    import spark.implicits._
    val viaPlan = Seq((Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0)))
      .toDF("a", "b")
      .select(GraftFunctions.vec_cosine(col("a"), col("b")))
      .head.getDouble(0)
    assert(java.lang.Double.doubleToLongBits(interpreted) ==
      java.lang.Double.doubleToLongBits(viaPlan))
  }

  test("null array yields null; mismatched lengths use the common prefix") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0, 0.0)), Some(Array(1.0, 0.0, 9.0))),
      (None, Some(Array(1.0)))).toDF("a", "b")
      .select(GraftFunctions.vec_cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0))
  }

  test("vec_dot with a null ELEMENT returns null, matching the fold") {
    import spark.implicits._
    // containsNull=true inputs: the checked kernel must return null
    // (the zip_with/aggregate fold it advertises parity with does),
    // never read raw 0.0 slots. Dense rows through the same nullable
    // schema still produce the exact unchecked value.
    val df = Seq(
      (Seq[Option[Double]](Some(2.0), None), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (Seq[Option[Double]](Some(2.0), Some(5.0)), Seq[Option[Double]](Some(3.0), Some(4.0))))
      .toDF("a", "b")
    val viaSql = df.selectExpr("vec_dot(a, b) AS d").collect()
    assert(viaSql(0).isNullAt(0), "null element must poison the product")
    assert(viaSql(1).getDouble(0) == 2.0 * 3.0 + 5.0 * 4.0)
    // fold parity on the null-element row
    val fold = df.limit(1).select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d")).head
    assert(fold.isNullAt(0))
  }

  test("vec_cosine with a null ELEMENT returns null, never a 0.0-polluted similarity") {
    import spark.implicits._
    val df = Seq(
      (Seq[Option[Double]](Some(2.0), None), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (Seq[Option[Double]](Some(1.0), Some(0.0)), Seq[Option[Double]](Some(1.0), Some(0.0))))
      .toDF("a", "b")
    val got = df.selectExpr("vec_cosine(a, b) AS c").collect()
    assert(got(0).isNullAt(0),
      "a null slot must null the similarity — 0.0-for-null is a plausible WRONG answer")
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-12,
      "dense rows through a nullable schema keep exact values")
  }
}
