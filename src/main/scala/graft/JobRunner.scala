package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.StageMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Config-driven ETL job runner — the Spark-native form of the
  * reference's prototype engine (advanced.ipynb cells 3/5/7 +
  * data_config.json): a JSON registry of sources dispatched to
  * extract → transform → load pipelines.
  *
  * Differences by design: dispatch is an explicit `Map` of builders
  * (no `getattr` reflection), transforms are pure
  * `DataFrame => DataFrame` functions composed with `.transform`, and
  * the whole job is one lazy plan per dataset — Spark schedules it,
  * nothing materializes between stages.
  */
object JobRunner {

  /** One declared dataset: kind ("csv" | "json" | "api" | "parquet"),
    * logical name, and location (path or URL). */
  final case class SourceSpec(kind: String, name: String, location: String)

  /** Parse the reference-shaped config:
    * {"data_sources": {"csv": {"Name": "path"}, ...}}. */
  def parseConfig(json: String): Seq[SourceSpec] = {
    val root = new ObjectMapper().readTree(json)
    val ds = root.path("data_sources")
    ds.properties().asScala.toSeq.flatMap { kindEntry =>
      kindEntry.getValue.properties().asScala.toSeq.map { e =>
        SourceSpec(kindEntry.getKey, e.getKey, e.getValue.asText())
      }
    }
  }

  type Extract = (SparkSession, SourceSpec) => DataFrame
  type Transform = DataFrame => DataFrame
  type Load = (String, DataFrame) => Unit

  /** Default extract dispatch by source kind. "api" expects the driver
    * to have pre-fetched the body to a local file (zero-egress env). */
  def defaultExtractors: Map[String, Extract] = Map(
    "csv" -> ((s, spec) => s.read.option("header", "true").csv(spec.location)),
    "json" -> ((s, spec) => s.read.json(spec.location)),
    "api" -> ((s, spec) => s.read.json(spec.location)),
    "parquet" -> ((s, spec) => s.read.parquet(spec.location)))

  /** Run every dataset in the config through its pipeline. Unknown
    * kinds and per-dataset failures are isolated (reference §4 error
    * isolation) and reported in the result. A dataset's count is the
    * rows its load wrote, observed on that one execution; a load that
    * never executes the frame, or whose count the listener bus does not
    * deliver in time, is reported as a `Left` saying which. */
  def run(
      spark: SparkSession,
      configJson: String,
      transforms: Map[String, Transform],
      load: Load,
      extractors: Map[String, Extract] = defaultExtractors): Map[String, Either[String, Long]] =
    parseConfig(configJson).map { spec =>
      val outcome =
        try {
          extractors.get(spec.kind) match {
            case None => Left(s"no extractor for kind '${spec.kind}'")
            case Some(ex) =>
              val df = ex(spark, spec)
                .transform(transforms.getOrElse(spec.name, identity[DataFrame] _))
              val (observed, obs) = StageMetrics.observed(df, s"load ${spec.name}")
              load(spec.name, observed)
              StageMetrics.observedRows(spark, obs)
                .left.map(why => s"load of '${spec.name}': $why")
          }
        } catch { case e: Exception => Left(e.getMessage) }
      spec.name -> outcome
    }.toMap
}
