package housebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{HousingJobs, JobRunner, QueryDef, Tables}
import graft.ml.PriceModel
import graft.operators.Cleaning
import graft.sources.{ListingParser, Sinks, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Options of one benchmark process (see run.py, which builds them). */
final case class Opts(workload: String, work: String, seconds: Double, trace: Boolean,
    cores: Int, shufflePartitions: Int, result: String)

/** Outcome of one pass; `kernelSamples` counts the traced run's stack
  * samples per kernel ("total" = all running task-thread samples). */
final case class Pass(wallS: Double, cpuS: Double, heapMb: Double, inputRows: Long,
    attempted: Int, failed: Int, failures: Seq[String], spans: Seq[Span],
    kernelSamples: Map[String, Long])

/** The benchmark process: builds one pinned session, runs a warm-up
  * pass whose outputs are checked, then timed passes of identical work
  * until `--seconds` is spent, and writes one JSON record.
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val o = Opts(a("workload"), a("work"), a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, a("shuffle-partitions").toInt, a("result"))
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("housebench")
      .config("spark.sql.shuffle.partitions", o.shufflePartitions.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder(spark, full = o.trace)
    val tracer = new Tracer(spark, recorder, o.trace)
    val wl: Workload = o.workload match {
      case "housing_etl" => new HousingEtl(spark, tracer, o)
      case "registry_queries" => new QuerySet(spark, tracer, o, QuerySet.registryNames, "star")
      case "text_corpus" => new QuerySet(spark, tracer, o, QuerySet.textNames, "corpus")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ambientBefore = Ambient.sample()

    // housing_etl calls no native kernel, so its traced run skips the sampler
    val sampler = if (o.trace && o.workload != "housing_etl") Some(new KernelSampler) else None
    def runPass(k: Int): Pass = {
      val heap = Ambient.heapPools
      heap.foreach(_.resetPeakUsage())
      val samples0 = sampler.map(_.snapshot()).getOrElse(Map.empty)
      val spanStart = tracer.spans.size
      val cpu0 = Ambient.processCpuNs
      val t0 = System.nanoTime()
      val (attempted, failures) = tracer.span("pass")(wl.pass(k))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Ambient.processCpuNs - cpu0) / 1e9
      val heapMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val samples1 = sampler.map(_.snapshot()).getOrElse(Map.empty)
      val kernelSamples = samples1.map { case (kk, v) => kk -> (v - samples0.getOrElse(kk, 0L)) }
      recorder.drain()
      tracer.fill()
      val spans = tracer.spans.drop(spanStart).toSeq
      val checkFailures = wl.check(k, spans)
      wl.cleanup(k)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val all = failures ++ checkFailures
      Pass(wall, cpu, heapMb, wl.inputRows(spans), attempted, all.size, all, spans, kernelSamples)
    }

    val warm = runPass(0)
    // the DuckDB oracle runs beside the warm-up; timed passes start
    // only once it has finished
    val oracleDone = Paths.get(s"${o.work}/oracle.done")
    val deadline = System.nanoTime() + 120e9.toLong
    while (!Files.exists(oracleDone) && System.nanoTime() < deadline) Thread.sleep(20)
    val setupEndMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tStart = System.nanoTime()
    // run passes while the next one (predicted from the last) fits the window
    while (passes.isEmpty ||
      (System.nanoTime() - tStart) / 1e9 + passes.last.wallS <= o.seconds) {
      passes += runPass(passes.size + 1)
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9
    sampler.foreach(_.stop())
    val layers =
      if (o.trace) wl.layerMetrics(passes.toSeq) ++ Kernels.shares(passes.toSeq) ++ wl.probes()
      else Map.empty[String, Double]
    val ambientAfter = Ambient.sample()

    val all = warm +: passes.toSeq
    val wall = Layers.median(passes.map(_.wallS).toSeq)
    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "trace" -> o.trace.toString,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "warmup_s" -> Json.num(warm.wallS),
      "measured_s" -> Json.num(measuredS),
      "passes" -> passes.size.toString,
      "wall_s" -> Json.num(wall),
      "pass_wall_s" -> passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "cpu_s" -> Json.num(Layers.median(passes.map(_.cpuS).toSeq)),
      "heap_peak_mb" -> Json.num(Layers.median(passes.map(_.heapMb).toSeq)),
      "input_rows" -> passes.head.inputRows.toString,
      "rows_per_s" -> Json.num(passes.head.inputRows / wall),
      "attempted" -> all.map(_.attempted).sum.toString,
      "failed" -> all.map(_.failed).sum.toString,
      "failures" -> all.flatMap(_.failures).distinct.map(Json.str).mkString("[", ",", "]"),
      "checked" -> Json.obj(wl.checked.toSeq),
      "ambient_before" -> ambientBefore,
      "ambient_after" -> ambientAfter,
      "launch" -> Json.obj(Seq(
        "master" -> Json.str(s"local[${o.cores}]"),
        "shuffle_partitions" -> o.shufflePartitions.toString,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).filterNot(_.contains("=ALL-UNNAMED"))
          .map(Json.str).mkString("[", ",", "]"))),
      "last_pass_spans" -> Json.obj(passes.last.spans.filter(_.name != "pass")
        .groupBy(_.name.split('/').head).toSeq.sortBy(_._1)
        .map { case (n, ss) => n -> Json.num(ss.map(_.seconds).sum) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    Files.writeString(Paths.get(o.result), Json.obj(fields))
    if (o.trace) Files.writeString(Paths.get(s"${o.work}/spans.json"), tracer.toJson)
    recorder.close()
    spark.stop()
  }
}

/** Load and scheduler labels for a run's record; not metrics. */
object Ambient {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  def heapPools: Seq[java.lang.management.MemoryPoolMXBean] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Wall millis for 2^27 xorshift steps on one core: contention
    * inflates it roughly in proportion to lost timeslices. */
  def spinMillis(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("")
    ms
  }

  def sample(): String = Json.obj(Seq(
    "loadavg_1m" -> Json.num(os.getSystemLoadAverage),
    "spin_ms" -> Json.num(spinMillis())))
}

/** One workload: the work of a pass, its checks, and its layer numbers. */
trait Workload {
  /** Runs pass `k` (0 is the warm-up); returns the operations attempted
    * and the names of those that failed. */
  def pass(k: Int): (Int, Seq[String])
  /** Output checks that need the pass's listener counts. */
  def check(k: Int, spans: Seq[Span]): Seq[String] = Nil
  def cleanup(k: Int): Unit = ()
  def inputRows(spans: Seq[Span]): Long
  /** Per-layer metrics from the traced passes' spans. */
  def layerMetrics(passes: Seq[Pass]): Map[String, Double]
  /** Per-layer probes run once after the timed passes (traced run). */
  def probes(): Map[String, Double]
  /** Facts about the inputs and checks, for the record. */
  def checked: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
}

object Layers {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def spansNamed(p: Pass, prefix: String): Seq[Span] = p.spans.filter(_.name.startsWith(prefix))

  /** Median over passes of the summed duration of spans with a name prefix. */
  def seconds(passes: Seq[Pass], prefix: String): Double =
    median(passes.map(p => spansNamed(p, prefix).map(_.seconds).sum))

  /** Execution-layer metrics of each pass's root span, median over passes. */
  def spark(passes: Seq[Pass], tracer: Tracer): Map[String, Double] = {
    val per = passes.map { p =>
      val root = p.spans.find(_.name == "pass").get
      tracer.subtree(root)
    }
    def m(f: ((GroupCounters, PhysicalCounters, StreamCounters)) => Double) = median(per.map(f))
    val mb = 1048576.0
    Map(
      "spark.jobs" -> m(_._1.jobs.toDouble),
      "spark.stages" -> m(_._1.stages.toDouble),
      "spark.tasks" -> m(_._1.tasks.toDouble),
      "spark.executor_cpu_s" -> m(_._1.executorCpuNs / 1e9),
      "spark.gc_s" -> m(_._1.gcMs / 1e3),
      "spark.shuffle_read_mb" -> m(_._1.shuffleReadBytes / mb),
      "spark.shuffle_write_mb" -> m(_._1.shuffleWriteBytes / mb),
      "spark.spill_mb" -> m(_._1.spillBytes / mb),
      "spark.task_skew" -> m(_._1.skew),
      "physical.exchange_mb" -> m(_._2.exchangeBytes / mb),
      "physical.sort_s" -> m(_._2.sortNs / 1e9),
      "physical.agg_s" -> m(_._2.aggNs / 1e9),
      "physical.join_s" -> m(_._2.joinNs / 1e9),
      "physical.peak_mem_mb" -> m(_._2.peakMemBytes / mb),
      "streaming.batches" -> m(_._3.batches.toDouble),
      "streaming.batch_ms" -> m(s => if (s._3.batches == 0) 0.0 else s._3.batchMs.toDouble / s._3.batches),
      "streaming.commit_ms" -> m(s => if (s._3.batches == 0) 0.0 else s._3.commitMs.toDouble / s._3.batches),
      "streaming.state_rows" -> m(_._3.stateRows.toDouble))
  }

  /** The per-layer names every workload reports, zero where the layer
    * does no work in that workload. */
  val zeros: Map[String, Double] = (Seq(
    "sources.parse_s", "sources.parse_rows", "sources.empty_page_frac", "sources.jdbc_read_s",
    "sinks.partition_write_s", "sinks.partition_write_mb", "sinks.jdbc_append_s", "sinks.jdbc_rows",
    "operators.clean_s", "operators.clean_keep_frac", "operators.featurize_s",
    "ml.cv_fit_s", "ml.cv_jobs", "ml.r2", "jobs.actions_per_load") ++
    QuerySet.families.map(f => s"registry.${f._1}_s") ++
    Kernels.names.map(n => s"kernels.${n}_ns_per_row")).map(_ -> 0.0).toMap

  /** Seconds a body takes. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
}

/** The native kernels timed one SQL call each over a documents table. */
object Kernels {
  val calls: Seq[(String, String)] = Seq(
    "md5_fast" -> "SELECT md5_fast(text) AS v FROM hb_docs",
    "word_windows" -> "SELECT word_windows(split(text, ' '), 3) AS v FROM hb_docs",
    "simhash64" -> "SELECT simhash64(text) AS v FROM hb_docs",
    "mg_topk" -> "SELECT mg_topk(substring_index(text, ' ', 1), 16) AS v FROM hb_docs",
    "hll_distinct" -> "SELECT hll_distinct(text) AS v FROM hb_docs",
    "qsketch" -> "SELECT qsketch(CAST(n_chars AS DOUBLE), 64, array(0.5D, 0.9D)) AS v FROM hb_docs")
  val names: Seq[String] = calls.map(_._1)

  /** Each kernel's share of the running task-thread samples of a pass,
    * and all kernels' share together; median over passes. */
  def shares(passes: Seq[Pass]): Map[String, Double] = {
    def share(p: Pass, keys: Seq[String]): Double = {
      val total = p.kernelSamples.getOrElse("total", 0L)
      if (total == 0) 0.0 else keys.map(p.kernelSamples.getOrElse(_, 0L)).sum.toDouble / total
    }
    (names.map(n => s"kernels.${n}_cpu_share" -> Seq(n)) :+
      ("kernels.cpu_share" -> (names :+ "other")))
      .map { case (m, keys) => m -> Layers.median(passes.map(share(_, keys))) }.toMap
  }

  /** Documents are replicated to at least this many rows, so a probe
    * measures the kernel rather than the job around it. */
  val probeRows = 200000L

  /** ns per row of each kernel over the cached, replicated documents of
    * `dir`, less a plain projection of the same rows. */
  def probe(spark: SparkSession, tracer: Tracer, dir: String): Map[String, Double] = {
    val base = Tables.documents(spark, dir).select("doc_id", "text", "n_chars")
    val copies = math.max(1L, probeRows / math.max(1L, base.count()))
    val docs = base.crossJoin(spark.range(copies).select(col("id").as("copy")))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val rows = docs.count()
    docs.createOrReplaceTempView("hb_docs")
    def median3(name: String, sql: String): Double = {
      (1 to 3).foreach(_ => tracer.span(name)(Layers.noop(spark.sql(sql))))
      Layers.median(tracer.spans.filter(_.name == name).takeRight(3).map(_.seconds).toSeq)
    }
    val baseline = median3("kernels.baseline", "SELECT text, n_chars FROM hb_docs")
    val out = calls.map { case (name, sql) =>
      s"kernels.${name}_ns_per_row" -> math.max(0.0, median3(s"kernels.$name", sql) - baseline) * 1e9 / rows
    }.toMap
    docs.unpersist(blocking = true)
    out
  }
}

/** registry_queries and text_corpus: named registry queries over a
  * generated data directory, each forced through a `noop` write. The
  * warm-up pass writes each result as parquet for the oracle check. */
final class QuerySet(spark: SparkSession, tracer: Tracer, o: Opts, names: Seq[String],
    dataSub: String) extends Workload {
  private val dir = s"${o.work}/data/$dataSub"
  private val byName: Map[String, (String, QueryDef)] =
    QuerySet.families.flatMap { case (f, qs) => qs.map(q => q.name -> (f -> q)) }.toMap
  private val queries = names.map(n => byName.getOrElse(n,
    throw new IllegalArgumentException(s"no registry query $n")))
  Files.createDirectories(Paths.get(s"${o.work}/out"))
  private val sqlTmp = Paths.get(s"${o.work}/out/oracle_sql.json.tmp")
  Files.writeString(sqlTmp,
    Json.obj(queries.flatMap { case (_, q) => q.oracle.map(s => q.name -> Json.str(s)) }))
  Files.move(sqlTmp, Paths.get(s"${o.work}/out/oracle_sql.json"),
    java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  def pass(k: Int): (Int, Seq[String]) =
    if (k == 0) verifyPass() else timedPass()

  /** Warm-up: every query once, `cores` at a time in their own
    * sessions, each result written as parquet for the oracle check. */
  private def verifyPass(): (Int, Seq[String]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    val futures = queries.map { case (_, q) =>
      pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] =
          try {
            q.fn(spark.newSession(), dir).coalesce(1).write.mode("overwrite")
              .parquet(s"${o.work}/out/${q.name}")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[housebench] ${q.name} failed: ${e.getMessage}")
            Some(q.name)
          }
      })
    }
    val failures = futures.flatMap(_.get())
    pool.shutdown()
    (queries.size, failures)
  }

  private def timedPass(): (Int, Seq[String]) = {
    val failures = queries.flatMap { case (family, q) =>
      val r = try {
        tracer.span(s"registry.$family/${q.name}")(Layers.noop(q.fn(spark, dir)))
        None
      } catch { case e: Throwable =>
        System.err.println(s"[housebench] ${q.name} failed: ${e.getMessage}")
        Some(q.name)
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      r
    }
    (queries.size, failures)
  }

  def inputRows(spans: Seq[Span]): Long =
    if (dataSub == "corpus") spark.read.parquet(s"$dir/documents.parquet").count()
    else spans.filter(_.name.startsWith("registry.")).map(_.counters.recordsRead).sum

  def layerMetrics(passes: Seq[Pass]): Map[String, Double] =
    Layers.zeros ++ Layers.spark(passes, tracer) ++
      QuerySet.families.map(f => s"registry.${f._1}_s" -> Layers.seconds(passes, s"registry.${f._1}/"))

  def probes(): Map[String, Double] = Kernels.probe(spark, tracer, dir)
}

object QuerySet {
  import graft.operators._
  /** Registry objects in `SparkEntry.registry` order. */
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.all, "CleaningQueries" -> CleaningQueries.all,
    "TextQueries" -> TextQueries.all, "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all, "EventQueries" -> EventQueries.all,
    "SimHashQueries" -> SimHashQueries.all, "SqlSurface" -> SqlSurface.all,
    "NativeTopKQuery" -> NativeTopKQuery.all, "StreamingQueries" -> StreamingQueries.all,
    "GovernanceQueries" -> GovernanceQueries.all, "TpchClassics" -> TpchClassics.all,
    "TrainingQueries" -> TrainingQueries.all, "CurationQueries" -> CurationQueries.all,
    "TpchSubqueries" -> TpchSubqueries.all, "ScaleQueries" -> ScaleQueries.all,
    "CorpusQueries" -> CorpusQueries.all, "IndexingQueries" -> IndexingQueries.all,
    "AssociationQueries" -> AssociationQueries.all, "LakehouseQueries" -> LakehouseQueries.all)
    .map { case (f, qs) => f -> qs.filter(_.bench) }.filter(_._2.nonEmpty)

  /** One headline query from each of three registry objects that
    * text_corpus does not cover (relational join, event as-of join,
    * TPC-H classic), plus the streaming pair. */
  val registryNames: Seq[String] = Seq(
    "q05_snowflake_join", "q71_asof_join", "q64_shipping_priority",
    "q72_streaming_hourly", "q74_streaming_dedup")

  /** Text and dedup headline queries: near-duplicate pairs, the
    * simhash kernel, and the blocked set-similarity join. */
  val textNames: Seq[String] = Seq(
    "q53_near_dup_pairs", "q55_simhash16_hamming", "q554_blocked_set_join")
}

/** housing_etl: the reference's lifecycles over the 11-day page archive. */
final class HousingEtl(spark: SparkSession, tracer: Tracer, o: Opts) extends Workload {
  private val pages = s"${o.work}/data/pages"
  private val manifest: JsonNode = new ObjectMapper().readTree(Paths.get(s"$pages/manifest.json").toFile)
  private val days = manifest.get("days").elements().asScala.toSeq
  private val dates = days.map(_.get("date").asText())
  private val targetR2 = manifest.get("target_r2").asDouble()
  private val r2Band = 0.05
  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private val r2s = mutable.LinkedHashMap.empty[Int, Double]
  private val jdbcRows = mutable.Map.empty[Int, (Long, Long, Long)]
  private val runCounts = mutable.Map.empty[Int, Map[String, Either[String, Long]]]
  System.setProperty("derby.stream.error.file", s"${o.work}/derby.log")

  private def passDir(k: Int) = s"${o.work}/pass-$k"
  /** One ridge penalty: 5 CV fits and the refit per pass. */
  private val alphas = Seq(1.0)
  private var lastPass = 0
  private def url(k: Int) = s"jdbc:derby:memory:hb$k"

  private def config(k: Int): String =
    s"""{"data_sources": {"parquet": {"austin": "${passDir(k)}/store/city=Austin",
       |"woburn": "${passDir(k)}/store/city=Woburn"}}}""".stripMargin

  private val transforms: Map[String, JobRunner.Transform] = {
    val t: JobRunner.Transform = _.groupBy("zipcode", "bed")
      .agg(count(lit(1)).as("listings"), avg("price").as("avg_price"))
    Map("austin" -> t, "woburn" -> t)
  }

  /** No warm-up pass: a warm-up analyze costs nearly what the full one
    * does, because its time is in planning, which does not depend on
    * the rows. The timed pass includes the JVM's first jobs. */
  def pass(k: Int): (Int, Seq[String]) = if (k == 0) (0, Nil) else {
    val store = s"${passDir(k)}/store"
    val failures = mutable.ArrayBuffer.empty[String]
    def op[T](name: String)(body: => T): Option[T] =
      try Some(tracer.span(name)(body))
      catch { case e: Throwable =>
        System.err.println(s"[housebench] $name failed: ${e.getMessage}")
        failures += name
        None
      }
    dates.foreach(d =>
      op(s"jobs.scrapeDay/$d")(HousingJobs.scrapeDay(spark, s"$pages/$d", store, d)))
    op("jobs.analyze")(HousingJobs.analyze(spark, store, alphas)).foreach(r => r2s(k) = r._2)
    op("sinks.jdbc_append") {
      Sinks.jdbcAppend(spark.read.parquet(store).select("name", "price", "city"),
        s"${url(k)};create=true", "apartments", dropCols = Seq.empty, props = props)
    }
    op("jobs.sqlRoundTrip")(HousingJobs.sqlRoundTrip(spark, url(k), "apartments", "rentals", props))
      .foreach { n =>
        val in = spark.read.jdbc(url(k), "apartments", props).count()
        val out = spark.read.jdbc(url(k), "rentals", props).count()
        jdbcRows(k) = (in, out, n)
      }
    op("jobs.run") {
      JobRunner.run(spark, config(k), transforms,
        (name, df) => df.write.mode("overwrite").parquet(s"${passDir(k)}/jobs/$name"))
    }.foreach(r => runCounts(k) = r)
    (dates.size + 3 + transforms.size, failures.toSeq)
  }

  override def check(k: Int, spans: Seq[Span]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (k == 0) return Nil
    days.foreach { d =>
      val date = d.get("date").asText()
      val written = spans.filter(_.name == s"jobs.scrapeDay/$date").map(_.counters.recordsWritten).sum
      if (written != d.get("kept_rows").asLong())
        bad += s"scrapeDay $date wrote $written rows, expected ${d.get("kept_rows").asLong()}"
    }
    val kept = manifest.get("kept_rows").asLong()
    r2s.get(k).foreach { r2 =>
      if (math.abs(r2 - targetR2) > r2Band) bad += s"analyze r2 $r2 outside $targetR2 ± $r2Band"
    }
    jdbcRows.get(k) match {
      case Some((in, out, n)) =>
        if (in != kept) bad += s"jdbc append wrote $in rows, expected $kept"
        if (out != 2 * in || n != 2 * in) bad += s"sqlRoundTrip wrote $out (reported $n), expected ${2 * in}"
      case None => ()
    }
    runCounts.get(k).foreach { r =>
      r.foreach { case (name, res) => if (!res.exists(_ > 0)) bad += s"JobRunner $name: $res" }
    }
    bad.toSeq
  }

  override def cleanup(k: Int): Unit = {
    try java.sql.DriverManager.getConnection(s"${url(k)};drop=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    lastPass = k
    if (!o.trace) Layers.deleteTree(Paths.get(passDir(k))) // the traced run's probes read the store
  }

  def inputRows(spans: Seq[Span]): Long = manifest.get("raw_rows").asLong()

  override def checked: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap(
    "raw_rows" -> manifest.get("raw_rows").toString,
    "kept_rows" -> manifest.get("kept_rows").toString,
    "r2" -> r2s.values.map(Json.num).mkString("[", ",", "]"),
    "r2_band" -> s"[${targetR2 - r2Band},${targetR2 + r2Band}]",
    "quirks" -> manifest.get("quirks").toString)

  def layerMetrics(passes: Seq[Pass]): Map[String, Double] = {
    val jobsPerLoad = Layers.median(passes.map { p =>
      val run = p.spans.filter(_.name == "jobs.run")
      run.map(_.counters.jobs).sum.toDouble / transforms.size
    })
    Layers.zeros ++ Layers.spark(passes, tracer) ++ Map(
      "sinks.jdbc_append_s" -> Layers.seconds(passes, "sinks.jdbc_append"),
      "sinks.jdbc_rows" -> jdbcRows.get(lastPass).map(r => (r._1 + r._2).toDouble).getOrElse(0.0),
      "ml.r2" -> Layers.median(r2s.collect { case (k, r) if k > 0 => r }.toSeq),
      "jobs.actions_per_load" -> jobsPerLoad)
  }

  /** Each layer called on its own over the archive or the warm-up
    * pass's store, so the fused pass can be split into layer times. */
  def probes(): Map[String, Double] = {
    val store = s"${passDir(lastPass)}/store"
    val all = s"$pages/20*"
    def parsed = ListingParser.parsePages(Sources.pageArchive(spark, all), "2020-01-29")
      .selectExpr(Cleaning.rawColumns: _*)
    val parseObs = org.apache.spark.sql.Observation("parse")
    val parseS = Layers.timed(tracer.span("sources.parse")(Layers.noop(
      parsed.observe(parseObs, count(lit(1)).as("rows")))))
    val parseRows = parseObs.get("rows").asInstanceOf[Long]
    val nonEmpty = parsed.select("url").distinct().count()
    val pagesTotal = manifest.get("pages").asDouble()
    val cleanObs = org.apache.spark.sql.Observation("clean")
    val parseCleanS = Layers.timed(tracer.span("operators.clean")(Layers.noop(
      Cleaning.cleanListings(parsed).observe(cleanObs, count(lit(1)).as("rows")))))
    val cleanRows = cleanObs.get("rows").asInstanceOf[Long]
    val corpus = spark.read.parquet(store)
    // the featurization analyze performs, as its own step
    val flagged = Cleaning.amenityFlags(
      corpus.withColumn("details", coalesce(col("details"), lit(""))), "details")
    var featurized: DataFrame = null
    var zips = Seq.empty[String]
    val featurizeS = Layers.timed(tracer.span("operators.featurize") {
      zips = flagged.select(col("zipcode").cast("string")).filter(col("zipcode").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      featurized = Cleaning.oneHot(flagged.withColumn("zipcode", col("zipcode").cast("string")),
        "zipcode", zips, "zipcode")
      Layers.noop(featurized)
    })
    val cleaned = Cleaning.cleanListings(parsed).localCheckpoint()
    var writeMb = 0.0
    val writeS = Layers.timed {
      tracer.span("sinks.partition_write")(
        Sinks.overwriteDailyPartitions(cleaned, s"${o.work}/probe-store"))
      tracer.fill()
      writeMb = tracer.spans.last.counters.bytesWritten / 1048576.0
    }
    Layers.deleteTree(Paths.get(s"${o.work}/probe-store"))
    val derby = s"${url(0)}probe"
    Sinks.jdbcAppend(corpus.select("name", "price", "city"), s"$derby;create=true", "apartments",
      dropCols = Seq.empty, props = props)
    val jdbcReadS = Layers.timed(tracer.span("sources.jdbc_read")(
      Layers.noop(Sources.jdbcTable(spark, derby, "apartments", props))))
    try java.sql.DriverManager.getConnection(s"$derby;drop=true")
    catch { case _: java.sql.SQLException => () }
    // the ridge CV alone, on a materialized copy of the training split
    val featureCols = Seq("sqft", "bed", "bath") ++ Cleaning.amenityKeywords ++
      zips.drop(1).map(z => s"zipcode_$z")
    val doubled = (featureCols :+ "price").foldLeft(
      featurized.filter(col("price").isNotNull && col("sqft").isNotNull).na.fill(0.0, Seq("bed", "bath")))(
      (d, c) => d.withColumn(c, col(c).cast("double")))
    val (train, _) = PriceModel.split(doubled)
    val trainCached = train.localCheckpoint()
    val cvS = Layers.timed(tracer.span("ml.cv_fit")(
      PriceModel.crossValidate(trainCached, featureCols, alphas)))
    tracer.fill()
    val cvJobs = tracer.spans.filter(_.name == "ml.cv_fit").last.counters.jobs.toDouble
    (0 to lastPass).foreach(k => Layers.deleteTree(Paths.get(passDir(k))))
    Map(
      "sources.parse_s" -> parseS,
      "sources.parse_rows" -> parseRows.toDouble,
      "sources.empty_page_frac" -> (pagesTotal - nonEmpty) / pagesTotal,
      "sources.jdbc_read_s" -> jdbcReadS,
      "operators.clean_s" -> math.max(0.0, parseCleanS - parseS),
      "operators.clean_keep_frac" -> cleanRows.toDouble / math.max(1L, parseRows),
      "operators.featurize_s" -> featurizeS,
      "sinks.partition_write_s" -> writeS,
      "sinks.partition_write_mb" -> writeMb,
      "ml.cv_fit_s" -> cvS,
      "ml.cv_jobs" -> cvJobs)
  }
}
