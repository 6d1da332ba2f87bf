package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional extra args: restrict the dump to the named queries
    // (local dev loop); the driver always passes exactly two args.
    val only = args.drop(2).toSet
    // A fresh JVM applies the config-string extensions, so the native
    // function family resolves by SQL name here with no registration.
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Dump queries with bounded parallelism. Each worker gets its OWN
    // cloned session: temp views (SqlSurface) are session-scoped, so
    // concurrent queries can't clobber each other's views.
    val selected = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val parallelism = math.min(4, math.max(1, selected.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        val session = spark.newSession()
        try fn(session, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Self-check artifact: if the driver's correctness file ever zeroes
    // again, this separates "engine broke" from "gate broke" in one read.
    val failedNames = {
      import scala.jdk.CollectionConverters._
      failed.asScala.toSeq.sorted
    }
    val summary =
      s"""{"n_registered": ${SparkEntry.queries.size}, """ +
      s""""n_selected": ${selected.size}, """ +
      s""""n_dumped": ${selected.size - failedNames.size}, """ +
      s""""n_failed": ${failedNames.size}, """ +
      s""""failed": [${failedNames.map(q).mkString(", ")}], """ +
      s""""wall_sec": ${(System.nanoTime() - t0) / 1e9}}"""
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summary)
    System.err.println(s"[verify] summary: $summary")
    spark.stop()
  }
}
