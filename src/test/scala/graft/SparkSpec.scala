package graft

import graft.plans.{DotProduct, FoldToNativeVectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()

  /** Runs `body` with [[FoldToNativeVectorOps]] excluded from the
    * optimizer, so a Column-API vector fold executes as the
    * higher-order fold it is: the reference side of a check against
    * the native kernels. A Dataset caches its plan on first use, so the
    * frames `body` runs must be built or first executed inside it. */
  def withoutFoldRewrite[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, FoldToNativeVectorOps.ruleName)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether `df`, optimized afresh under the current confs, runs the
    * native dot kernel. (A Dataset caches its optimized plan, so the
    * frame's own `queryExecution` would keep the first answer.) */
  def plansDotProduct(df: DataFrame): Boolean =
    spark.sessionState.optimizer.execute(df.queryExecution.analyzed).exists(
      _.expressions.exists(_.exists(_.isInstanceOf[DotProduct])))
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.session(4)
}
