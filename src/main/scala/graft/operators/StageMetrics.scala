package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline observability (SURVEY §2.2 K7): the reference logs
  * rows-in/rows-out per stage to a rotating file; the Spark-native form
  * is `Dataset.observe` — metrics ride the job itself (no extra action,
  * no second scan) and surface on completion.
  */
object StageMetrics {

  /** Attach a named row-count/null-count observation to a stage.
    * Returns the instrumented frame plus the Observation handle; call
    * `get` after the terminal action. */
  def observed(df: DataFrame, stage: String, nullCheckCol: Option[String] = None)
      : (DataFrame, Observation) = {
    val obs = new Observation(stage)
    val metrics = count(lit(1)).as("rows") +: nullCheckCol.toSeq.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Rows the observed frame produced, read after the action that was
    * meant to execute it has returned. Never blocks on an observation
    * that cannot complete: `Left` if no action executed the frame, and
    * a `Left` of its own if the listener bus did not drain in time (the
    * frame may have run, but its count was not delivered). */
  def observedRows(spark: SparkSession, obs: Observation): Either[String, Long] = {
    val drained = org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    obs.future.value match {
      case Some(r) => r.toEither.left.map(_.toString).map(_.getAs[Long]("rows"))
      case None if drained => Left("the frame was not executed")
      case None => Left("row count not delivered: the listener bus did not drain in time")
    }
  }
}
