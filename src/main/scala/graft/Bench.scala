package graft

import org.apache.spark.sql.functions.col

/** Benchmark main (driver contract): times the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Methodology: each query is executed through a `noop`-format write so
  * the FULL plan materializes (a bare `.count()` lets Catalyst prune
  * projections); the JVM/codegen paths are warmed with one pass at
  * sf0.001 first so timings measure the engine, not JIT warmup.
  *
  * De-noising: each query runs `SPARK_GRAFT_BENCH_K` times (default 3)
  * in ONE JVM and reports the per-query MEDIAN — the round-10 pinned
  * A/B measured ±12–20% ambient spread on single-shot totals under
  * concurrent driver-host load, which swallows any regression below
  * ~1.5×; medians of 3 cut the spread to the stable middle run.
  *
  * Burst self-defense (r15): the artifact also carries per-query MIN
  * (`queries_min` full line; `burst` compact line for median>1.5×min
  * suspects with their section loadavg), and any query whose median
  * exceeds 2× its min is automatically re-measured once at the END of
  * the run (`rerun`/`rerun_ms`) — a co-tenant burst inflates some of a
  * section's runs while a plan regression moves min and median
  * together, so one artifact now adjudicates burst-vs-regression
  * without per-round idle-rerun narratives.
  *
  * Set `SPARK_GRAFT_BENCH_SET=extended` for the idle-bench superset:
  * the headline queries (every `bench = true` registry entry — 61
  * since q554's r18 promotion) plus representatives of the families the
  * frozen driver set never measures (capped co-activity graph suite,
  * chain-ladder, LPA, periodogram, gains/quantile-trend) and two
  * artifact flows that cannot be registry queries because they mutate
  * state — persisted-ANN `searchPersisted` (build+save outside the
  * timer; timed part is the steady-state reopen+search) and the
  * docstore scan-after-mutations read path (write + deleteWhere +
  * updateWhere outside the timer; timed part is the merge-on-read
  * scan through DVs and update files).
  */
object Bench {

  /** Registry names added to the extended (idle) set — families with
    * no representative among the frozen 60 headline queries. */
  val extendedNames: Seq[String] = Seq(
    "q109_triangle_count", "q352_ra_link_prediction",
    "q353_clustering_spectrum", "q360_attack_robustness",
    "q365_lpa_modularity", "q372_weekly_periodogram",
    "q377_chain_ladder", "q383_quantile_trend",
    "q392_gains_table", "q395_max_drawdown")
    // q554 was here in r17; promoted to the headline set in r18
    // (bench = true on its QueryDef) — listing it again would run it
    // twice in the extended set

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** 1-minute system load average (-1.0 where the platform hides it).
    * Sampled before/after the measured loop and emitted in the JSON so
    * an ambient-load-inflated run SELF-LABELS — three rounds (r8, r10,
    * r12) burned audit time adjudicating phantom bench regressions
    * that were concurrent driver-host load, not code. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Fixed-work spin calibration: wall millis for 2^27 xorshift64
    * steps on one core. Pure ALU, no allocation — on an idle host this
    * is a stable constant per JVM; contention inflates it roughly in
    * proportion to timeslice loss, giving a second, scheduler-level
    * ambient-load signal alongside [[loadAvg]]. */
  private def spinCalMillis(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    ms
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val k = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_K").map(_.toInt).getOrElse(3))
    val extended = sys.env.get("SPARK_GRAFT_BENCH_SET").contains("extended")
    val spark = SparkEntry.session(cpus)

    // Optional comma-separated name filter for local iteration
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q53_near_dup_pairs).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val registryByName = SparkEntry.registry.map(q => q.name -> q).toMap
    val headline = SparkEntry.benchQueries ++
      (if (extended) extendedNames.flatMap(registryByName.get) else Nil)

    // A query that persists an intermediate cannot unpersist it inside
    // the pure-DataFrame contract, so caches would leak across the
    // run: 30+ queries in, eviction + GC pressure was inflating later
    // measurements ~3× (q53: 6.8 s in the full run vs 2.1 s alone,
    // back when candidatePairs cached its bands — since replaced by a
    // persist-free single-pass bounded_collect, but this guard keeps
    // any future caching query from skewing its neighbors). Dropping
    // every persistent RDD between queries keeps each measurement
    // isolated.
    def releaseCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    def noopRun(q: QueryDef, dir: String): () => Unit =
      () => q.fn(spark, dir).write.format("noop").mode("overwrite").save()

    // ---- extended-set artifact flows (setup OUTSIDE the timer) -----
    // Setup only runs when at least one artifact flow survives the
    // `only` filter: the IVF build and the 100k-row docstore
    // write/delete/update are pure waste when the filter excludes both.
    val extraFlowNames =
      Seq("x_ann_search_persisted", "x_docstore_scan_after_mutations")
    val wantExtraFlows =
      extended && extraFlowNames.exists(n => only.forall(_.contains(n)))
    val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    val extraFlows: Seq[(String, () => Unit)] = if (!wantExtraFlows) Nil else {
      val annDir = java.nio.file.Files.createTempDirectory("bench-ivf").toString
      tempDirs += annDir
      val emb = Tables.embeddings(spark, sfDir)
      graft.ml.IvfIndex.save(graft.ml.IvfIndex.build(emb, "embedding", nList = 16), annDir)
      // NOT materialized: releaseCaches() between runs would drop a
      // localCheckpoint's blocks; the 5-row query side just re-reads
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val docDir = java.nio.file.Files.createTempDirectory("bench-docstore").toString
      tempDirs += docDir
      val fmtV2 = "graft.sources.v2.DocStoreDataSource"
      import org.apache.spark.sql.functions.md5
      spark.range(100000L)
        .select(col("id"), md5(col("id").cast("string")).as("payload"),
          (col("id") % 97).as("bucket"))
        .repartition(64)
        .write.format(fmtV2).option("path", docDir).mode("append").save()
      graft.sources.v2.DocStoreDeletes.deleteWhere(spark, docDir,
        Seq(org.apache.spark.sql.sources.LessThan("id", 1000L)))
      graft.sources.v2.DocStoreUpdates.updateWhere(spark, docDir,
        Seq(org.apache.spark.sql.sources.EqualTo("bucket", 7L)),
        Map("bucket" -> 997L))
      Seq(
        "x_ann_search_persisted" -> (() =>
          graft.ml.IvfIndex.searchPersisted(spark, annDir, queries, k = 10, nProbe = 3)
            .write.format("noop").mode("overwrite").save()),
        "x_docstore_scan_after_mutations" -> (() =>
          spark.read.format(fmtV2).option("path", docDir).load()
            .write.format("noop").mode("overwrite").save()))
    }

    val tasks: Seq[(String, () => Unit)] =
      headline.filter(q => only.forall(_.contains(q.name)))
        .map(q => q.name -> noopRun(q, sfDir)) ++
      extraFlows.filter { case (n, _) => only.forall(_.contains(n)) }

    // warmup: JIT, codegen cache, parquet reader classes (registry
    // queries at sf0.001; artifact flows once against their artifacts)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      headline.filter(q => only.forall(_.contains(q.name))).foreach { q =>
        try noopRun(q, warmDir)()
        catch { case e: Throwable =>
          System.err.println(s"[bench-warmup] ${q.name}: ${e.getMessage}")
        }
        releaseCaches()
      }
    extraFlows.foreach { case (n, f) =>
      try f() catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] $n: ${e.getMessage}")
      }
      releaseCaches()
    }

    val loadBefore = loadAvg()
    val spinBefore = spinCalMillis()
    def timeK(name: String, run: () => Unit): Seq[Double] =
      (1 to k).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { run(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        releaseCaches()
        if (ok) Some(t) else None
      }
    // Ambient-burst self-defense (r15 verdict #4): record per-query
    // min AND median plus a loadavg sample per query section. A
    // co-tenant burst inflates SOME of a query's k runs but rarely all
    // — median ≫ min is the burst signature, while a real plan
    // regression moves min and median together. Queries whose median
    // exceeds 2× their min get ONE automatic rerun at the end of the
    // run (after the burst has typically passed); the artifact then
    // adjudicates burst-vs-regression by itself, with no idle-rerun
    // narrative needed.
    val measured = tasks.map { case (name, run) =>
      val loadQ = loadAvg()
      val times = timeK(name, run)
      (name, times, loadQ)
    }
    val rerun: Map[String, Double] = measured.flatMap {
      case (name, times, _) if times.size == k && k > 1 &&
          median(times) > 2 * times.min =>
        val again = timeK(name, tasks.find(_._1 == name).get._2)
        if (again.size == k) Some(name -> median(again)) else None
      case _ => None
    }.toMap
    // A crashed run must not pass its (near-zero) wall time off as a
    // measurement: any failure marks the query failed outright.
    val results = measured.map { case (name, times, _) =>
      (name, if (times.size == k) Some(median(times)) else None)
    }
    val qs = results.map { case (n, v) =>
      "\"" + n + "\":" + v.map(_.toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val qsMin = measured.map { case (n, times, _) =>
      "\"" + n + "\":" +
        (if (times.size == k) times.min.toString else "null")
    }.mkString("{", ",", "}")
    val qsLoad = measured.map { case (n, _, l) =>
      "\"" + n + "\":" + f"$l%.2f"
    }.mkString("{", ",", "}")
    val rerunJson = rerun.toSeq.sortBy(_._1).map { case (n, v) =>
      "\"" + n + "\":" + v.toString
    }.mkString("{", ",", "}")
    val failed = results.collect { case (n, None) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // Adjusted total: per-query min(median, end-of-run rerun median).
    // Precedence rule for cross-round comparison (stated here, next to
    // the artifact schema): `value` is the raw sum of section medians
    // and can carry co-tenant-burst inflation; `value_adj` substitutes
    // the post-burst rerun median wherever one was taken, so
    // round-over-round diffs should compare value_adj (or queries_min
    // floors) first and only consult `value` when value_adj moved too.
    val totalAdj = results.flatMap { case (n, v) =>
      v.map(t => math.min(t, rerun.getOrElse(n, t)))
    }.sum
    val loadAfter = loadAvg()
    val spinAfter = spinCalMillis()
    // Ambient-load self-label: loadavg ≫ bench's own parallelism or a
    // spin calibration far above its idle constant means the host was
    // contended and the totals are inflated — read them before calling
    // any delta vs a prior round a regression.
    val ambient = f""""load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"spin_ms_before":$spinBefore%.1f,"spin_ms_after":$spinAfter%.1f"""
    val json =
      s"""{"metric":"total","value":$total,"value_adj":$totalAdj,"unit":"sec","k":$k,$ambient,"queries":$qs,"queries_min":$qsMin,"queries_load":$qsLoad,"rerun":$rerunJson,"failed":$failed,"sf":"$sfDir"}"""
    // sbt decorates stdout with an "[info] " prefix that breaks JSON
    // parsers downstream, so the line is also written verbatim to a file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(json) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // The JSON must be the single FINAL stdout line, un-interleaved:
    // silence logging and stop Spark FIRST (its shutdown threads log),
    // then print. A sentinel-prefixed copy goes to stderr for humans/
    // grep; the bare line on stdout stays last for line-based parsers.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // artifact-flow scratch dirs don't survive the run
    tempDirs.foreach { d =>
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        val paths = try walk.iterator().asScala.toSeq finally walk.close()
        paths.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
    System.err.println(s"GRAFT_BENCH_JSON $json")
    System.err.flush()
    println(json)
    // The full per-query line above is ~4 KB for 60 queries, but the
    // round driver keeps only the last ~2000 chars of stdout (sbt then
    // appends its own "[success]" trailer) — so the big line gets
    // front-truncated and has never parsed. A second, compact line
    // printed LAST guarantees a well-formed JSON object survives
    // inside the tail window. r14 verdict #7: the compact line must
    // still carry ALL per-query timings — so it encodes them as
    // integer MILLISECONDS keyed by the qNNN prefix (~14 chars/entry,
    // ~1.1 KB for 60 queries, inside the window). Full-precision
    // seconds with full names stay in bench_out.json / the line above.
    // qNNN-prefix keys keep the compact line inside the driver's ~2 KB
    // tail window, but two registry names sharing a prefix would emit
    // silently-colliding (last-wins) JSON keys — so any AMBIGUOUS
    // prefix falls back to the full name (a few long keys cost less
    // than a lost timing).
    val prefixCount = results
      .map { case (n, _) => if (n.startsWith("q")) n.takeWhile(_ != '_') else n }
      .groupBy(identity).map { case (p, xs) => p -> xs.size }
    def qkey(n: String) = {
      val p = if (n.startsWith("q")) n.takeWhile(_ != '_') else n
      if (prefixCount.getOrElse(p, 0) > 1) n else p
    }
    val qsMs = results.map { case (n, v) =>
      "\"" + qkey(n) + "\":" + v.map(t => math.round(t * 1000).toString)
        .getOrElse("null")
    }.mkString("{", ",", "}")
    // Burst section of the compact line: [min_ms, median_ms, load] for
    // the suspects only (median > 1.5× min), capped at the 12 worst
    // ratios so the line stays inside the driver's ~2 KB tail window
    // even on a fully-contended run; burst_n carries the uncapped count.
    val burstAll = measured.collect {
      case (n, times, l) if times.size == k && k > 1 &&
          median(times) > 1.5 * times.min =>
        (n, times.min, median(times), l)
    }.sortBy { case (_, mn, md, _) => -md / mn }
    val burstJson = burstAll.take(12).map { case (n, mn, md, l) =>
      "\"" + qkey(n) + "\":[" + math.round(mn * 1000) + "," +
        math.round(md * 1000) + "," + f"$l%.2f" + "]"
    }.mkString("{", ",", "}")
    val rerunMs = rerun.toSeq.sortBy(_._1).map { case (n, v) =>
      "\"" + qkey(n) + "\":" + math.round(v * 1000)
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"value_adj":$totalAdj,"unit":"sec","n":${results.size},"k":$k,$ambient,"queries_ms":$qsMs,"burst_n":${burstAll.size},"burst":$burstJson,"rerun_ms":$rerunMs,"failed":$failed,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
