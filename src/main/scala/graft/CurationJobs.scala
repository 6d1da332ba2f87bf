package graft

import graft.functions.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-data curation lifecycle as ONE composed engine job —
  * the end-to-end path a 100 TB corpus takes from raw documents to a
  * training-ready slice. Each stage is the operator the query registry
  * proves correct (q93 repetition filter, q41 quality, q100 keep-best
  * dedup, q94 redaction, q98 weighted sampling); this composes them,
  * counts what each stage dropped, and writes the survivors
  * partitioned by language.
  *
  * Scale shape: every stage is a narrow column transform except the
  * dedup window (one shuffle on the cluster fingerprint) and the final
  * partitioned write. Stage counts come from ONE aggregation over
  * per-row stage flags — not a count() action per stage, which would
  * re-run the whole upstream pipeline once per stage.
  */
object CurationJobs {

  final case class CurationReport(
      total: Long, afterRepetition: Long, afterQuality: Long,
      afterDedup: Long, sampled: Long)

  /** Stage flags as pure columns over the raw frame. The words array
    * is projected into its own column before the bigram lambda reads
    * it — an inline `adjacentPairs(split(text))` re-splits the text
    * per element access (lambda bodies are outside subexpression
    * elimination), measured 10× slower on the q300 twin of this
    * pipeline. */
  private def staged(docs: DataFrame): DataFrame = {
    val bigrams = TextAnalysis.adjacentPairs(col("__w"))
    val dupBigramFrac = when(size(bigrams) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(bigrams)).cast("double") / size(bigrams))
    val quality = TextAnalysis.qualityScore(col("text"))
    val u = Fx.md5Prefix(concat(col("doc_id").cast("string"), lit("#curate")), 8)
      .cast("double") / 4294967296.0
    docs
      .withColumn("__w", split(col("text"), " "))
      .withColumn("pass_repetition", dupBigramFrac <= 0.2)
      .drop("__w")
      .withColumn("quality", quality)
      .withColumn("pass_quality", quality >= 0.3)
      .withColumn("cluster_fp", TextAnalysis.prefixFingerprint(col("text")))
      .withColumn("keep_sample", u < quality)
  }

  /** Gate survivors → keep-best dedup → weighted sample → redacted
    * output, from an already-staged frame. */
  private def pipeline(s: DataFrame): (DataFrame, DataFrame) = {
    // survivors of the two quality gates
    val gated = s.filter(col("pass_repetition") && col("pass_quality"))
    // keep-best-quality within each prefix cluster (q100 semantics)
    val rn = row_number().over(
      Window.partitionBy(col("cluster_fp")).orderBy(col("quality").desc, col("doc_id")))
    val deduped = gated.withColumn("__rn", rn).filter(col("__rn") === 1).drop("__rn")
    val sampled = deduped.filter(col("keep_sample"))
    // PII redaction on the surviving text only (q94 patterns)
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
    val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
    val out = sampled
      .withColumn("text", regexp_replace(
        regexp_replace(col("text"), emailPat, "<EMAIL>"), phonePat, "<PHONE>"))
      .select("doc_id", "text", "lang", "source", "n_chars", "quality")
    (deduped, out)
  }

  /** The whole curation pipeline as a pure `DataFrame => DataFrame` —
    * the config-driven form: plug into `JobRunner`'s transforms map to
    * run curation over any declared documents source. */
  def curationTransform: DataFrame => DataFrame =
    docs => pipeline(staged(docs))._2

  /** Run the full curation pipeline over a documents directory.
    * Returns the written training slice and the per-stage report. */
  def curate(spark: SparkSession, docsDir: String, outDir: String): (DataFrame, CurationReport) = {
    val docs = Tables.documents(spark, docsDir)
    // Persisted: the staged relation feeds the write, the flag
    // aggregation, and the dedup count — without the cache each action
    // re-reads the corpus and recomputes bigrams/quality/fingerprints.
    val s = staged(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (deduped, out) = pipeline(s)

    out.write.mode("overwrite").partitionBy("lang").parquet(outDir)

    // Funnel counts from ONE aggregation over the cached flags (no
    // re-run per stage). Dedup survival can't be a row-local flag (it
    // needs the cluster window), so it reuses the cached gate
    // survivors; the written count reuses one read of the output.
    val flagCounts = s.agg(
      count(lit(1)).as("total"),
      sum(when(col("pass_repetition"), 1L).otherwise(0L)).as("after_rep"),
      sum(when(col("pass_repetition") && col("pass_quality"), 1L).otherwise(0L)).as("after_q"))
      .collect().head
    val afterDedup = deduped.count()
    val result = spark.read.parquet(outDir)
    val written = result.count()
    s.unpersist()
    (result,
      CurationReport(flagCounts.getLong(0), flagCounts.getLong(1),
        flagCounts.getLong(2), afterDedup, written))
  }
}
