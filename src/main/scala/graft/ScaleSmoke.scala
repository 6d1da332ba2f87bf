package graft

import graft.operators.Dedup
import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: synthesize an n-doc corpus (default 1M) with planted
  * near-duplicates and push it through the text/dedup stack, printing
  * per-stage wall time and rows/s. This probes the behavior the sf0.1
  * testdata is too small to show — real shuffle volumes, hash cost at
  * tens of millions of shingles, candidate-pair growth under the LSH
  * bucket cap. Run:
  *
  *   sbt 'runMain graft.ScaleSmoke 1000000'
  *
  * The corpus is fully deterministic (hash-derived words, no RNG
  * state): ~40-word docs over a 10k-word vocabulary; every doc with
  * id % 100 == 1 is a near-dup of its predecessor (one word changed),
  * so ~1% of the corpus has a planted pair the MinHash path must find.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // heap comes from sbt's forked-JVM -Xmx (SPARK_DRIVER_MEM);
    // spark.driver.memory is ignored in an already-running local JVM
    val spark = SparkEntry.session(cpus)
    import spark.implicits._

    // Per-stage timer independent of the text corpus (the skew mode
    // never builds it — measuring joins under the memory pressure of
    // an unused 4M-doc cache would distort the very numbers recorded)
    def timedN(rows: Long)(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val res = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-22s $sec%8.2f s  ${rows / sec}%12.0f docs/s  ($res result rows)")
    }

    // targeted mode: `... <n> wedgecap` measures q352's intermediary
    // degree cap: RA link-prediction wedge generation on an n-node
    // ring graph (background deg ≈ 4) plus ONE hub of degree h — the
    // uncapped wedge count grows as h²/2 while the capped pipeline's
    // work stays O(E) regardless of h
    if (args.lift(1).contains("wedgecap")) {
      val n = nDocs
      for (h <- Seq(1000L, 4000L, 16000L)) {
        val ring = spark.range(1L, n).select($"id".as("a"), ($"id" + 1).as("b"))
          .unionAll(spark.range(1L, n - 1)
            .select($"id".as("a"), ($"id" + 2).as("b")))
        val hub = spark.range(1L, h + 1)
          .select(lit(0L).as("a"), ($"id" * 10L % (n - 1) + 1).as("b"))
        val e0 = ring.unionAll(hub)
          .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
          .filter($"a" =!= $"b").distinct().localCheckpoint()
        val deg = e0.select($"a".as("z")).unionAll(e0.select($"b".as("z")))
          .groupBy($"z").agg(count(lit(1)).as("zdeg")).localCheckpoint()
        def score(cap: Option[Long]): Long = {
          val nb0 = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
            .select($"a".as("z"), $"b".as("m"))
            .join(deg, "z")
          val nb = cap.map(c => nb0.filter($"zdeg" <= c)).getOrElse(nb0)
          nb.as("x").join(nb.as("y"), Seq("z"))
            .filter($"x.m" < $"y.m")
            .select($"x.m".as("a"), $"y.m".as("b"), $"x.zdeg".as("zdeg"))
            .groupBy($"a", $"b")
            .agg(count(lit(1)).as("cn"),
              sum(expr("1000000 div zdeg")).as("ra"))
            .count()
        }
        timedN(n)(s"wedge_uncapped_h$h") { score(None) }
        timedN(n)(s"wedge_cap64_h$h") { score(Some(64L)) }
      }
      spark.stop()
      return
    }

    // targeted mode: `... <n> trussiter` measures q428's truss peel as
    // the graph grows: each round is one oriented a<b<c triangle join
    // (intermediate bounded by per-node wedge counts — degree ≤ 4 here,
    // so O(|E|)) + one edge-keyed aggregate; cost should be LINEAR in
    // |E| per round, and the ring+chord construction cascades (round 1
    // drops the chords, round 2 empties the ring) so every round does
    // real work
    if (args.lift(1).contains("trussiter")) {
      for (m <- Seq(nDocs / 4, nDocs, nDocs * 4)) {
        val und = spark.range(m)
          .select($"id".as("x"), (($"id" + 1L) % m).as("y"))
          .unionAll(spark.range(m)
            .select($"id".as("x"), (($"id" + 2L) % m).as("y")))
        val e0 = und
          .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
          .filter($"a" =!= $"b").distinct().localCheckpoint()
        timedN(m)(s"truss_3rounds_${m / 1000000}M") {
          var e = e0
          for (_ <- 1 to 3) {
            val tri = e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
              .join(e.as("e3"), $"e2.b" === $"e3.b" && $"e1.a" === $"e3.a")
              .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
              .localCheckpoint()
            val support = tri.select($"x".as("a"), $"y".as("b"))
              .unionAll(tri.select($"x".as("a"), $"z".as("b")))
              .unionAll(tri.select($"y".as("a"), $"z".as("b")))
              .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
            e = e.join(support, Seq("a", "b"), "left")
              .filter(coalesce($"sup", lit(0L)) >= 2L)
              .select($"a", $"b").localCheckpoint()
          }
          e.count()
        }
      }
      spark.stop()
      return
    }

    // targeted mode: `... <n> graphiter` measures the round-11
    // iterative graph operators (q418 HITS, q420 double-sweep BFS) as
    // the graph grows: each round is one join + one aggregate on the
    // edge partitioning, so cost should be LINEAR in |E| — this probe
    // pins that (an accidental lineage blowup or a frontier that
    // re-scans history would show as superlinear growth)
    if (args.lift(1).contains("graphiter")) {
      for (m <- Seq(nDocs / 4, nDocs, nDocs * 4)) {
        val eb = spark.range(m).select(($"id" % (m / 32L)).as("u"),
            pmod(xxhash64($"id"), lit(1000L)).as("b"))
          .distinct().localCheckpoint()
        timedN(m)(s"hits_2rounds_${m / 1000000}M") {
          val ar1 = eb.groupBy($"b").agg((count(lit(1)) * 1000000L).as("ar"))
          val a1 = ar1.crossJoin(broadcast(ar1.agg(max($"ar").as("am"))))
            .select($"b",
              expr("(cast(ar as decimal(38,0)) * 1000000) div am").as("a"))
          val hr1 = eb.join(a1, "b").groupBy($"u").agg(sum($"a").as("hr"))
          val h1 = hr1.crossJoin(broadcast(hr1.agg(max($"hr").as("hm"))))
            .select($"u",
              expr("(cast(hr as decimal(38,0)) * 1000000) div hm").as("h"))
          eb.join(h1, "u").groupBy($"b").agg(sum($"h").as("x")).count()
        }
        // expander: ring + multiplicative chords — the frontier reaches
        // most nodes within 6 rounds, so the sweep scans the whole
        // edge set each round (the worst realistic case)
        val und = spark.range(m)
          .select($"id".as("a"), (($"id" + 1L) % m).as("b"))
          .unionAll(spark.range(m)
            .select($"id".as("a"), (($"id" * 7919L + 13L) % m).as("b")))
        val ge = und.unionAll(und.select($"b".as("a"), $"a".as("b")))
          .filter($"a" =!= $"b").localCheckpoint()
        timedN(m)(s"bfs_double_sweep_${m / 1000000}M") {
          def bfs(seed: DataFrame): DataFrame = {
            var dist = seed.select($"id", lit(0L).as("dist")).localCheckpoint()
            var frontier = dist.select($"id")
            for (r <- 1 to 6) {
              val next = frontier.join(ge, frontier("id") === ge("a"))
                .select(ge("b").as("id")).distinct()
                .join(dist.select($"id".as("seen")), $"id" === $"seen",
                  "left_anti")
                .select($"id").localCheckpoint()
              dist = dist.unionAll(next.select($"id", lit(r.toLong).as("dist")))
                .localCheckpoint()
              frontier = next
            }
            dist
          }
          val d1 = bfs(ge.agg(min($"a").as("id")))
          val far = d1.orderBy($"dist".desc, $"id").limit(1).select($"id")
            .localCheckpoint()
          bfs(far).count()
        }
      }
      spark.stop()
      return
    }

    // targeted mode: `... <n> coactcap` measures the shared co-activity
    // edge builder's per-hour activity cap (GraphQueries.coactivityEdges,
    // q109/q353/q360): 720 background hours of 4 users each plus ONE
    // dense hour of h users — uncapped edge output grows as h²/2 while
    // the capped builder's stays ≤ cap²/2 per hour regardless of h
    if (args.lift(1).contains("coactcap")) {
      for (h <- Seq(1000L, 4000L, 16000L)) {
        val background = spark.range(0L, 720L * 4)
          .select(($"id" % 720).as("hrId"), (expr("id div 720") + 1000000L).as("user_id"))
        val dense = spark.range(0L, h)
          .select(lit(0L).as("hrId"), $"id".as("user_id"))
        val active = background.unionAll(dense)
          .select(timestamp_seconds($"hrId" * 3600L).as("hr"), $"user_id")
          .distinct().localCheckpoint()
        def build(cap: Option[Int]): Long = cap match {
          case Some(c) =>
            graft.operators.GraphQueries.coactivityEdgesFrom(active, c).count()
          case None =>
            active.as("x").join(active.as("y"), Seq("hr"))
              .filter($"x.user_id" < $"y.user_id")
              .select($"x.user_id".as("a"), $"y.user_id".as("b"))
              .distinct().count()
        }
        timedN(h)(s"coact_uncapped_h$h") { build(None) }
        timedN(h)(s"coact_cap16_h$h") { build(Some(16)) }
      }
      spark.stop()
      return
    }

    // targeted mode: `... <n> skew` measures the three skew-join
    // strategies on a 90%-hot-key fact table with broadcasts disabled
    // (a dim too big to broadcast whole is the regime hybridJoin is
    // for — only its HOT-KEY rows broadcast)
    if (args.lift(1).contains("skew")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val big = spark.range(nDocs)
        .select(when($"id" % 10 < 9, lit(1L)).otherwise(pmod($"id", lit(200000L)))
          .as("k"), $"id".as("payload"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val small = spark.range(0, 200000L)
        .select($"id".as("k"), md5($"id".cast("string")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count(); small.count()
      timedN(nDocs)("join_plain_skewed") {
        big.join(small, "k").agg(count(lit(1))).collect().length.toLong
      }
      timedN(nDocs)("join_salted_n8") {
        graft.operators.Skew.saltedJoin(big, small, "k", 8)
          .agg(count(lit(1))).collect().length.toLong
      }
      timedN(nDocs)("join_hybrid_hotcold") {
        graft.operators.Skew.hybridJoin(big, small, "k", hotThreshold = 10000L)
          .agg(count(lit(1))).collect().length.toLong
      }
      // AQE skew-split as the fourth strategy, for the comparison table
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      timedN(nDocs)("join_aqe_skewsplit") {
        big.join(small, "k").agg(count(lit(1))).collect().length.toLong
      }
      big.unpersist(); small.unpersist()
      spark.stop()
      return
    }


    // targeted mode: `... <n> compact` — docstore file-count scaling:
    // write n small files via the V2 sink, measure full-scan wall time
    // (planning + read) before and after compaction, verify counts
    // targeted mode: `... <n> pruning` — the r13 scan-pruning levers
    // at row count n (default 1M): (a) dynamic partition pruning on a
    // month-partitioned fact vs the same join with DPP disabled —
    // wall time and files read; (b) parquet row-group skipping via
    // Sinks.analyticsParquet bloom filters — point-lookup wall time
    // on the bloom layout vs a plain unsorted copy.
    if (args.lift(1).contains("pruning")) {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val n = nDocs
      val factDir = java.nio.file.Files.createTempDirectory("smoke-dpp").toString
      timedN(n)("write_partitioned") {
        spark.range(n).select(
          ($"id" % 84L).as("ym"), $"id".as("k"),
          md5($"id".cast("string")).as("payload"))
          .write.partitionBy("ym").mode("overwrite").parquet(factDir)
        84L
      }
      // the dim must be a FILTERED scan: Spark's PartitionPruning rule
      // only injects DPP when the build side carries a selective
      // predicate (a bare range() never qualifies)
      val dimDir = java.nio.file.Files.createTempDirectory("smoke-dim").toString
      spark.range(84L).select($"id".as("ym"),
          ($"id" % 17L === 0L).cast("int").as("hot"))
        .coalesce(1).write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter($"hot" === 1).select($"ym")
      def star(): DataFrame = spark.read.parquet(factDir)
        .join(broadcast(dim), "ym")
        .groupBy($"ym").agg(count(lit(1)).as("n"))
      star().collect() // warm parquet footers/codegen for both timed runs
      def filesRead(df: DataFrame): Long = {
        def nodes(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.SparkPlan] = {
          val kids = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: QueryStageExec => Seq(q.plan)
            case o => o.children
          }
          (p +: kids.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
        }
        nodes(df.queryExecution.executedPlan).collect {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("smoke-dpp")) =>
            f.metrics("numFiles").value
        }.max
      }
      var dppFiles = 0L; var offFiles = 0L
      timedN(n)("star_join_dpp_on") {
        val df = star(); val c = df.collect().length.toLong
        dppFiles = filesRead(df); c
      }
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      timedN(n)("star_join_dpp_off") {
        val df = star(); val c = df.collect().length.toLong
        offFiles = filesRead(df); c
      }
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
      println(s"[scale] files read: dpp=on $dppFiles vs dpp=off $offFiles")

      val plainDir = java.nio.file.Files.createTempDirectory("smoke-plain").toString
      val bloomDir = java.nio.file.Files.createTempDirectory("smoke-bloom").toString
      val src = spark.range(n).select(
        (($"id" * 2654435761L) % n).as("key"), $"id".as("ord"),
        md5($"id".cast("string")).as("payload"))
      timedN(n)("write_plain") {
        src.coalesce(4).write.mode("overwrite").parquet(plainDir); n
      }
      timedN(n)("write_bloom_layout") {
        graft.sources.Sinks.analyticsParquet(src.coalesce(4), bloomDir,
          sortCols = Seq("ord"), bloomCols = Seq("key"),
          rowGroupBytes = 4L << 20)
        n
      }
      val probe = 2654435761L % n
      timedN(n)("point_lookup_plain") {
        spark.read.parquet(plainDir).filter($"key" === probe).count()
      }
      timedN(n)("point_lookup_bloom") {
        spark.read.parquet(bloomDir).filter($"key" === probe).count()
      }
      spark.stop()
      return
    }

    if (args.lift(1).contains("compact")) {
      val dir = java.nio.file.Files.createTempDirectory("smoke-compact").toString
      val nFiles = math.max(16, nDocs.toInt)
      timedN(nFiles)("write_small_files") {
        spark.range(nFiles * 100L)
          .select($"id", md5($"id".cast("string")).as("payload"),
            ($"id" % 1000).as("bucket"))
          .repartition(nFiles)
          .write.format("graft.sources.v2.DocStoreDataSource")
          .option("path", dir).mode("append").save()
        nFiles.toLong
      }
      val fmt = "graft.sources.v2.DocStoreDataSource"
      var preCount = 0L
      timedN(nFiles)("scan_fragmented") {
        preCount = spark.read.format(fmt).option("path", dir).load().count()
        preCount
      }
      timedN(nFiles)("compact_64mb") {
        graft.sources.v2.DocStoreCompact.compact(dir, 64L << 20,
          retentionMs = 0L).binsWritten.toLong
      }
      val nLive = graft.sources.v2.DocStoreCompact.liveFiles(dir).length
      timedN(nFiles)("scan_compacted") {
        val c = spark.read.format(fmt).option("path", dir).load().count()
        require(c == preCount, s"row count changed: $c != $preCount")
        c
      }
      println(s"[scale] files: $nFiles -> $nLive after compaction")
      spark.stop()
      return
    }

    // targeted mode: `... <n> mor` — the docstore merge-on-read
    // mutator stack at file count: deleteWhere and updateWhere touch
    // O(matched) bytes instead of rewriting the table, and the
    // compaction purge amortizes both. n = file count (default 200
    // files x 500 rows).
    if (args.lift(1).contains("mor")) {
      import org.apache.spark.sql.sources.{EqualTo, LessThan}
      val dir = java.nio.file.Files.createTempDirectory("smoke-mor").toString
      val fmtV2 = "graft.sources.v2.DocStoreDataSource"
      val nFiles = math.max(16, nDocs.toInt)
      val rows = nFiles * 500L
      timedN(rows)("write_docstore") {
        spark.range(rows)
          .select($"id", md5($"id".cast("string")).as("payload"),
            ($"id" % 97).as("bucket"))
          .repartition(nFiles)
          .write.format(fmtV2).option("path", dir).mode("append").save()
        rows
      }
      val tableBytes = graft.sources.v2.DocStoreCompact.liveFiles(dir)
        .map(_.length()).sum
      timedN(rows)("delete_1pct_mor") {
        graft.sources.v2.DocStoreDeletes.deleteWhere(spark, dir,
          Seq(LessThan("id", rows / 100)))
      }
      timedN(rows)("update_1pct_mor") {
        graft.sources.v2.DocStoreUpdates.updateWhere(spark, dir,
          Seq(EqualTo("bucket", 7L)), Map("bucket" -> 997L))
      }
      val sideBytes = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("_dv-") ||
          f.getName.startsWith("part-update-"))
        .map(_.length()).sum
      println(f"[scale]   table ${tableBytes / 1048576.0}%.1f MB; " +
        f"delete+update side files ${sideBytes / 1048576.0}%.1f MB " +
        f"(${100.0 * sideBytes / tableBytes}%.1f%% — the merge-on-read bargain)")
      var preCount = 0L
      timedN(rows)("scan_after_mutations") {
        preCount = spark.read.format(fmtV2).option("path", dir).load().count()
        preCount
      }
      timedN(rows)("compact_fold_all") {
        graft.sources.v2.DocStoreCompact.compact(dir, 64L << 20,
          retentionMs = 0L).filesReplaced.toLong
      }
      timedN(rows)("scan_compacted") {
        val c = spark.read.format(fmtV2).option("path", dir).load().count()
        require(c == preCount, s"count changed: $c != $preCount")
        c
      }
      // the fold's own sweep ran BEFORE the bins were written, so the
      // now-stale DV/update side files clear on the NEXT maintenance
      // pass — run it to show the steady state
      graft.sources.v2.DocStoreCompact.sweep(dir, retentionMs = 0L)
      val leftovers = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.startsWith("_dv-") ||
          f.getName.startsWith("part-update-"))
      println(s"[scale]   DV/update side files after compact + next sweep: $leftovers")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      spark.stop()
      return
    }

    // targeted mode: `... <n> cc` — DataFrame alternating-star CC vs
    // GraphX Pregel on a diameter-100 chain graph (n nodes in blocks
    // of 100; the worst case for label propagation, which needs
    // Θ(diameter) supersteps, vs O(log² n) star rounds)
    if (args.lift(1).contains("cc")) {
      val edges = spark.range(nDocs)
        .filter(pmod($"id", lit(100)) =!= 99)
        .select($"id".as("a"), ($"id" + 1).as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEdges = edges.count()
      var starChk = 0L
      var gxChk = 0L
      timedN(nEdges)("cc_alternating_star") {
        val out = Dedup.ccAlternatingStar(edges)
        val r = out.agg(count(lit(1)), bit_xor(xxhash64($"doc_id", $"component"))).head()
        starChk = r.getLong(1)
        r.getLong(0)
      }
      timedN(nEdges)("cc_graphx_pregel") {
        val out = Dedup.dupClusters(edges)
        val r = out.agg(count(lit(1)), bit_xor(xxhash64($"doc_id", $"component"))).head()
        gxChk = r.getLong(1)
        r.getLong(0)
      }
      println(s"[scale]   label checksums equal: ${starChk == gxChk}")
      edges.unpersist()
      spark.stop()
      return
    }

    // targeted mode: `... <n> ivfpersist` — the build-once/search-many
    // economics of the persisted IVF index: KMeans train + assign +
    // save vs reopen + search vs rebuild-per-batch (what persistence
    // eliminates), plus the incremental delta fold.
    if (args.lift(1).contains("ivfpersist")) {
      val dim = 64
      val idxDir = java.nio.file.Files.createTempDirectory("smoke-ivf").toString
      val targets = spark.range(nDocs).select($"id".as("vec_id"))
        .withColumn("embedding", ScaleSmoke.clusteredVec(dim, $"vec_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      targets.count()
      val queries32 = spark.range(32).select(($"id" + 2000000000L).as("q_id"))
        .withColumn("q_vec", ScaleSmoke.clusteredVec(dim, $"q_id"))
      var idx: ml.IvfIndex.Index = null
      timedN(nDocs)("ivf_build_save_once") {
        idx = ml.IvfIndex.build(targets, "embedding", nList = 64)
        ml.IvfIndex.save(idx, idxDir)
        64L
      }
      timedN(nDocs)("ivf_search_reopened") {
        ml.IvfIndex.searchPersisted(spark, idxDir, queries32, 10, nProbe = 8)
          .count()
      }
      timedN(nDocs)("ivf_search_reopened_2") {
        ml.IvfIndex.searchPersisted(spark, idxDir, queries32, 10, nProbe = 8)
          .count()
      }
      timedN(nDocs)("ivf_rebuild_per_batch") {
        val fresh = ml.IvfIndex.build(targets, "embedding", nList = 64)
        ml.IvfIndex.search(fresh, queries32, 10, nProbe = 8).count()
      }
      timedN(nDocs / 100)("ivf_append_delta_1pct") {
        val delta = spark.range(nDocs, nDocs + nDocs / 100)
          .select($"id".as("vec_id"))
          .withColumn("embedding", ScaleSmoke.clusteredVec(dim, $"vec_id"))
        ml.IvfIndex.appendNew(spark, idxDir, delta, "embedding", "vec_id")
        nDocs / 100
      }
      targets.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
      spark.stop()
      return
    }


    // targeted mode: `... <n> benchcurve` — rows/s flatness of the
    // top driver-bench families (r15 verdict #5): run the ACTUAL
    // registry entry points q215 (calendar-spine linear interpolation),
    // q72 (streaming hourly watermark agg), q74 (streaming keyed
    // dedup) against a synthetic sf-layout dir of n events/orders,
    // plus the q197 interval-overlap core at n. Invoke at 2-3 n values
    // (e.g. 1M / 2M / 4M) and compare rows/s: the q215/q72 shapes
    // aggregate into CALENDAR-bounded cells (30-day hour grid, 7-year
    // day spine) so their rows/s must stay flat as n grows; q74 state
    // is the keyed domain (n/16 users × 5 types), the linear-state
    // regime streaming dedup is designed for; q197's grid-blocked join
    // is the audited scale-safe shape. A superlinear-cost regression
    // in any of these families shows up as a falling rows/s curve
    // here long before a 100 TB run would find it.
    // zipf corpus builder (same construction as the main flow) for the
    // set-similarity stages of benchcurve and the blockedonly A/B mode
    def zipfDocs(m: Long): DataFrame = {
      val zBase = spark.range(m).select($"id".as("doc_id"),
        when($"id" % 100 === 1, $"id" - 1).otherwise($"id").as("seed"))
      val zWords = transform(
        sequence(lit(1), lit(25) + pmod(xxhash64($"seed"), lit(10)).cast("int")),
        i => concat(lit("z"), floor(exp(
          (pmod(xxhash64($"seed" * 1000 + i), lit(1000000)).cast("double")
            / 1000000.0) * math.log(10000.0))).cast("long")))
      zBase.select($"doc_id",
        array_join(
          when($"doc_id" % 100 === 1,
            concat(slice(zWords, lit(1), size(zWords) - 1),
              array(concat(lit("x"), $"doc_id")))).otherwise(zWords),
          " ").as("text"),
        lit("en").as("lang"), lit("s0").as("source"))
    }

    // targeted mode: `... <n> blockedonly` — JUST the blocked-join
    // family A/B (md5 oracle family vs xxhash64 production family +
    // bucket occupancy) on the zipf corpus, skipping the event/order
    // stages, for iterating on the signature hot path without paying
    // the full benchcurve preamble.
    if (args.lift(1).contains("blockedonly")) {
      val bdocs = zipfDocs(nDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bN = bdocs.count()
      // warmup pass first (JIT + codegen caches + heap growth), then
      // the timed pass — the benchcurve numbers run AFTER six other
      // stages, so a cold-JVM first stage here would not be comparable
      // (measured: the md5 family's first-cold run costs 1.4-2.6× its
      // warm run)
      for (tag <- Seq("warm", "timed")) {
        timedN(bN)(s"q554_blocked_set_join:$tag") {
          operators.IndexingQueries.blockedSetJoin(bdocs).count()
        }
        timedN(bN)(s"blocked_set_join_fast:$tag") {
          operators.IndexingQueries.blockedSetJoinFast(bdocs).count()
        }
      }
      for ((fam, fast) <- Seq(("md5", false), ("fast", true))) {
        val r = operators.IndexingQueries.blockedBucketStats(bdocs, fast).head()
        println(f"[scale] blocked_buckets_$fam%-4s n=$bN%9d buckets=${r.getLong(0)}%9d " +
          f"pairgen=${r.getLong(1)}%8d overflow=${r.getLong(2)}%6d " +
          f"max_occ=${r.getLong(3)}%6d pairs_pregen=${r.getLong(4)}%10d")
      }
      bdocs.unpersist()
      spark.stop()
      return
    }

    if (args.lift(1).contains("benchcurve")) {
      val n = nDocs
      val dir = java.nio.file.Files.createTempDirectory("smoke-bcurve").toString
      // Tables.load expects `<dir>/<name>.parquet`; q72/q74 stream with
      // pathGlobFilter=events.parquet, which matches FILE names — so
      // each table must land as one real file, not a part-file dir.
      def singleFile(df: DataFrame, name: String): Unit = {
        val stage = s"$dir/_stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        // listFiles() is null on a missing dir, and a zero-row coalesce
        // can legitimately write no part file — either way the failure
        // must NAME the staging dir, not throw a bare NoSuchElement.
        val part = Option(new java.io.File(stage).listFiles())
          .flatMap(_.find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")))
          .getOrElse(sys.error(s"no part file under $stage"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$dir/$name"))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
      }
      val evTypes = array(lit("view"), lit("click"), lit("cart"),
        lit("purchase"), lit("search"))
      timedN(n)("write_events_30d") {
        singleFile(spark.range(n).select(
          $"id".as("event_id"),
          timestamp_seconds(lit(1700000000L) +
            pmod(xxhash64($"id"), lit(30L * 86400))).as("ts"),
          pmod($"id", lit(math.max(n / 16, 1L))).as("user_id"),
          element_at(evTypes,
            (pmod(xxhash64($"id", lit(1)), lit(5)) + 1).cast("int"))
            .as("event_type"),
          (pmod(xxhash64($"id", lit(2)), lit(100000)).cast("double") / 100.0)
            .as("value"),
          lit("{}").as("props")), "events.parquet")
        n
      }
      timedN(n)("write_orders_7y") {
        singleFile(spark.range(n).select(
          $"id".as("o_orderkey"),
          pmod($"id", lit(math.max(n / 10, 1L))).as("o_custkey"),
          lit("F").as("o_orderstatus"),
          (pmod(xxhash64($"id", lit(3)), lit(10000000)).cast("double")
            / 100.0 + 1.0).as("o_totalprice"),
          timestamp_seconds(lit(694224000L) +
            pmod(xxhash64($"id", lit(4)), lit(2557L)) * 86400L)
            .as("o_orderdate"),
          element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
            lit("4-NOT SPECIFIED"), lit("5-LOW")),
            (pmod(xxhash64($"id", lit(5)), lit(5)) + 1).cast("int"))
            .as("o_orderpriority")), "orders.parquet")
        n
      }
      timedN(n)("q215_linear_interp") {
        operators.EventQueries.q215(spark, dir).count()
      }
      // State-size capture for the streaming pair: a listener collects
      // every StateOperatorProgress during the stage so the curve rows
      // carry the LIVE state bound (rows + bytes) beside the wall —
      // the 100×-scale claim for keyed-domain state is about state,
      // not just time. (q72/q74 run the default provider; the RocksDB
      // DISK bound at the same n comes from the twsstate/twsdisk
      // probes, which replay through NearDupStream on RocksDB.)
      def withStateMetrics(name: String)(f: => Unit): Unit = {
        val events = new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.streaming.StreamingQueryProgress]()
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
            events.add(e.progress)
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        try f finally {
          // listener-bus delivery is asynchronous: a trailing progress
          // event posted at stream stop can arrive after f returns and
          // be lost if the listener detaches immediately, under-
          // reporting peak state. A short fixed drain is proportionate
          // for this measurement-only harness (stated; the correctness
          // specs use committed-row listeners, not this path).
          Thread.sleep(1000)
          spark.streams.removeListener(listener)
          import scala.jdk.CollectionConverters._
          val ops = events.asScala.flatMap(p =>
            Option(p.stateOperators).toSeq.flatten).toSeq
          if (ops.nonEmpty)
            println(f"[scale] $name%-22s state: rows=${ops.map(_.numRowsTotal).max}%9d  " +
              f"peakBytes=${ops.map(_.memoryUsedBytes).max}%12d")
        }
      }
      withStateMetrics("q72_streaming_hourly") {
        timedN(n)("q72_streaming_hourly") {
          operators.StreamingQueries.q72(spark, dir).count()
        }
      }
      withStateMetrics("q74_streaming_dedup") {
        timedN(n)("q74_streaming_dedup") {
          operators.StreamingQueries.q74(spark, dir).count()
        }
      }
      timedN(n)("q197_interval_overlap") {
        intervalOverlapStage(spark, n, capped = true)
      }
      // q166 family point: capped at 200k docs — the stated PPJoin
      // smoke bound; curve it at n ≤ 200k (candidate volume, not scan,
      // dominates).
      val zCap = math.min(n, 200000L)
      val zdocs = zipfDocs(zCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val zN = zdocs.count()
      timedN(zN)("q166_prefix_jaccard") {
        operators.IndexingQueries.prefixJaccardPairs(zdocs).count()
      }
      zdocs.unpersist()
      // q554 blocked-set-join point: the SAME zipf corpus, carried to
      // 2M docs — 10× past q166's measured quadratic wall (the r17
      // curve stopped at 1M; r18 adds the next doubling plus a bucket-
      // occupancy column, so a band-domain saturation knee would show
      // in the occupancy numbers before it shows in the wall). The
      // LSH-block-first composition must hold a near-flat rows/s curve
      // through the regime where q166's exploded; that flat curve is
      // the whole reason the operator exists.
      val bCap = math.min(n, 2000000L)
      val bdocs = zipfDocs(bCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bN = bdocs.count()
      timedN(bN)("q554_blocked_set_join") {
        operators.IndexingQueries.blockedSetJoin(bdocs).count()
      }
      // production path: same banding/cap/verify, xxhash64 signature
      // family (the oracle-free 6-8× of minhashSignatureWordsFast)
      timedN(bN)("blocked_set_join_fast") {
        operators.IndexingQueries.blockedSetJoinFast(bdocs).count()
      }
      for ((fam, fast) <- Seq(("md5", false), ("fast", true))) {
        val r = operators.IndexingQueries.blockedBucketStats(bdocs, fast).head()
        println(f"[scale] blocked_buckets_$fam%-4s n=$bN%9d buckets=${r.getLong(0)}%9d " +
          f"pairgen=${r.getLong(1)}%8d overflow=${r.getLong(2)}%6d " +
          f"max_occ=${r.getLong(3)}%6d pairs_pregen=${r.getLong(4)}%10d")
      }
      bdocs.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      spark.stop()
      return
    }

    // Deterministic synthetic corpus. A near-dup copies its
    // predecessor's word sequence (same base id) and changes only the
    // final word, so planted pairs share all but ~2 bigram shingles.
    val base = spark.range(nDocs)
      .select($"id".as("doc_id"),
        when($"id" % 100 === 1, $"id" - 1).otherwise($"id").as("seed"),
        ($"id" % 100 === 1).as("is_dup"))
    val words = transform(sequence(lit(1), lit(35) + pmod(xxhash64($"seed"), lit(10)).cast("int")),
      i => concat(lit("w"), pmod(xxhash64($"seed" * 1000 + i), lit(10000))))
    val docs = base.select($"doc_id",
      array_join(
        when($"is_dup", concat(slice(words, lit(1), size(words) - 1),
          array(concat(lit("x"), $"doc_id")))).otherwise(words),
        " ").as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count() // materialize corpus before the clock starts

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-22s $sec%8.2f s  ${n / sec}%12.0f docs/s  ($rows result rows)")
    }

    println(s"[scale] corpus: $n docs on local[$cpus]")

    // targeted mode: `... <n> twsstate [ttlSec...]` — the 100 TB/day
    // knob measured: streaming near-dup state size and per-batch
    // latency across TTL horizons. The corpus replays as MANY micro-
    // batches (maxFilesPerTrigger=1 over 16 part files), so wall clock
    // advances between batches and processing-time TTL actually
    // expires state mid-run; a shorter horizon must show bounded state
    // and fewer cross-batch pairs.
    if (args.lift(1).contains("twsstate")) {
      runTwsStateProbe(spark, docs, n,
        args.drop(2).map(_.toInt).toSeq)
      spark.stop()
      return
    }

    // targeted mode: `... <n> twsdisk [ttlSec...]` — the DISK half of
    // the TTL story. TTL bounds LIVE state; RocksDB's on-disk bytes
    // (tombstones + TTL-index rows awaiting compaction) can RISE under
    // short TTLs until a compaction runs. This sweep replays the
    // corpus over 64 micro-batches (4× the twsstate replay, so
    // compaction has time to matter) with compactOnCommit OFF vs ON
    // and reports peak AND final `rocksdbSstFileSize` per TTL horizon:
    // steady-state disk must plateau ≤ live-state bound × small
    // constant when compaction is forced.
    if (args.lift(1).contains("twsdisk")) {
      runTwsStateProbe(spark, docs, n,
        args.drop(2).map(_.toInt).toSeq,
        nParts = 64, compactModes = Seq(false, true))
      spark.stop()
      return
    }

    // targeted mode: `runMain graft.ScaleSmoke <n> gov` runs only the
    // governance/streaming stages (scaling-curve probes without the
    // ANN/index sections)
    if (args.lift(1).contains("gov")) {
      runGovStages(spark, docs, (nm, f) => timed(nm)(f()), n)
      spark.stop()
      return
    }
    // targeted mode: `... <n> assoc` runs only the interval-join stage
    if (args.lift(1).contains("assoc")) {
      timed("interval_overlap_join")(intervalOverlapStage(spark, nDocs))
      timed("interval_overlap_capped")(
        intervalOverlapStage(spark, nDocs, capped = true))
      spark.stop()
      return
    }
    // targeted mode: `... <n> rank` measures NFC normalization (ASCII
    // fast path vs seeded denormalized rows) and the two-phase
    // group-rank operator against the window it replaces
    if (args.lift(1).contains("rank")) {
      timed("nfc_ascii_fastpath") {
        docs.select(graft.plans.GraftFunctions.nfc_normalize($"text").as("t"))
          .agg(sum(length($"t"))).collect().length.toLong
      }
      timed("nfc_10pct_denorm") {
        val seeded = docs.withColumn("text",
          when($"doc_id" % 10 === 0, concat($"text", lit(" e\u0301"))).otherwise($"text"))
        seeded.select(graft.plans.GraftFunctions.nfc_normalize($"text").as("t"))
          .agg(sum(length($"t"))).collect().length.toLong
      }
      val rankIn = docs.select($"doc_id", pmod($"doc_id", lit(8)).as("grp"),
        length($"text").as("v")).persist()
      rankIn.count()
      timed("group_ranks_2phase") {
        graft.operators.Ranking.groupRanks(rankIn, Seq("grp"), cpus,
          $"v".desc, $"doc_id").agg(max($"rank")).collect().length.toLong
      }
      timed("group_ranks_window") {
        import org.apache.spark.sql.expressions.Window
        rankIn.withColumn("rank", row_number().over(
            Window.partitionBy($"grp").orderBy($"v".desc, $"doc_id")))
          .agg(max($"rank")).collect().length.toLong
      }
      spark.stop()
      return
    }

    // targeted mode: `... <n> bpe` measures sequential vs batched BPE
    // training (same corpus, k merges) — the driver-round-trip cost
    // model the batched trainer exists to cut
    if (args.lift(1).contains("bpe")) {
      val k = 64
      timed(s"bpe_train_seq_k$k") {
        graft.functions.BpeTrainer.train(docs, "text", k).size.toLong
      }
      timed(s"bpe_train_batch16_k$k") {
        graft.functions.BpeTrainer.trainBatched(docs, "text", k, batch = 16)
          .size.toLong
      }
      spark.stop()
      return
    }

    // Stages consume the aggregate ROW (collect), never count() over an
    // agg — counting an Aggregate's output lets column pruning delete
    // the aggregate expressions and the stage would time a bare scan.
    timed("token_stats") {
      docs.select(TextAnalysis.tokenCount($"text").as("t"))
        .agg(sum($"t"), avg($"t")).collect().length.toLong
    }
    timed("quality_score") {
      docs.select(TextAnalysis.qualityScore($"text").as("q"))
        .filter($"q" >= 0.3).count()
    }
    timed("exact_dedup") {
      Dedup.exactDedup(docs, "doc_id", "text").count()
    }
    timed("simhash64") {
      docs.select(graft.plans.GraftFunctions.simhash64($"text").as("sh"))
        .agg(bit_xor($"sh")).collect().length.toLong
    }
    timed("minhash_md5_pairs") {
      val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes = 6)
      val bands = Dedup.lshBands(sig, "doc_id", nBands = 3, rowsPerBand = 2)
      Dedup.candidatePairs(bands, "doc_id").count()
    }
    var pairs: DataFrame = null
    timed("minhash_xx64_pairs") {
      val sig = Dedup.minhashSignatureWordsFast(docs, "doc_id", "text", nHashes = 6)
      val bands = Dedup.lshBands(sig, "doc_id", nBands = 3, rowsPerBand = 2)
      pairs = Dedup.candidatePairs(bands, "doc_id").persist()
      pairs.count()
    }
    timed("jaccard_verify") {
      val withText = pairs
        .join(docs.select($"doc_id".as("a"), $"text".as("ta")), "a")
        .join(docs.select($"doc_id".as("b"), $"text".as("tb")), "b")
        .withColumn("j", Dedup.jaccard(
          Dedup.wordBigrams($"ta"), Dedup.wordBigrams($"tb")))
      val found = withText.filter($"j" >= 0.8)
        .filter($"b" === $"a" + 1 && $"b" % 100 === 1)
      val planted = found.count()
      println(s"[scale]   planted near-dup pairs recovered: $planted (expected ~${nDocs / 100})")
      planted
    }

    // ---- ANN: brute force vs IVF over synthetic 64-dim embeddings.
    // Real embedding corpora are clustered, which is what bucketed ANN
    // exploits — so the synthetic corpus is a 256-cluster mixture
    // (hash-derived center + 10% noise), not uniform noise (where NO
    // bucketing scheme can work: near-orthogonal vectors share no
    // structure).
    val dim = 64
    def clusteredVec(id: Column) = ScaleSmoke.clusteredVec(dim, id)
    val targets = spark.range(nDocs).select($"id".as("vec_id"))
      .withColumn("embedding", clusteredVec($"vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    targets.count()
    val queries = spark.range(32).select(($"id" + 2000000000L).as("q_id"))
      .withColumn("q_vec", clusteredVec($"q_id"))

    var exact: DataFrame = null
    timed("ann_brute_force_top10") {
      exact = operators.Similarity.bruteForceTopK(queries, targets, 10).persist()
      exact.count()
    }
    // ---- native bounded-heap top-k vs window ranking -----------------
    // Few groups × huge group (the per-query ANN candidate profile).
    // Honest result: Spark 4 inserts WindowGroupLimit for the
    // rank-filter pattern (map-side per-group limit before the final
    // sort), so the window is competitive here — the heap's remaining
    // edge is bounded memory with NO sort buffer at all, and orderings
    // the rank rewrite can't express. Both are measured.
    val grouped = spark.range(nDocs).select(
      ($"id" % 32).as("g"), $"id".as("v"),
      pmod(xxhash64($"id"), lit(1000000)).as("score"))
    timed("topk_native_heap") {
      graft.plans.TopK.perGroup(grouped, 5, Seq("g"),
        Seq(graft.plans.TopK.desc("score"), graft.plans.TopK.asc("v"))).count()
    }
    timed("topk_window_rank") {
      import org.apache.spark.sql.expressions.Window
      grouped.withColumn("rn", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"v")))
        .filter($"rn" <= 5).count()
    }

    timed("ann_ivf_8bit_top10") {
      val approx = operators.Similarity.ivfTopK(queries, targets, 10, bits = 8)
      val overlap = approx.join(exact.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      println(s"[scale]   IVF recall@10 vs exact: ${overlap / 320.0}")
      overlap
    }
    // SQ8 is a storage/IO codec (4x smaller vectors at rest and on the
    // wire), not a compute shortcut — the measurement here is the
    // recall cost of searching reconstructed vectors, same O() scan.
    timed("ann_sq8_top10") {
      val recon = operators.Similarity
        .sq8Reconstructed(targets, "vec_id", "embedding", dim)
      val approx = operators.Similarity
        .bruteForceTopK(queries, recon, 10, tVec = "recon")
      val overlap = approx.join(exact.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      println(s"[scale]   SQ8 recall@10 vs exact: ${overlap / 320.0}")
      overlap
    }
    // PQ: 8 codes/vector (32x smaller than float32 at rest); codebooks
    // trained on a 50k sample, corpus encoded in one map-only pass,
    // queries search the CODE table via LUTs — the float vectors never
    // move after encoding.
    var pqEncoded: DataFrame = null
    var pqIdx: ml.PqIndex.Index = null
    timed("ann_pq_train_encode") {
      pqIdx = ml.PqIndex.build(targets.limit(50000), "embedding", dim, m = 8, k = 64)
      pqEncoded = ml.PqIndex.encode(targets, "vec_id", "embedding", pqIdx)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pqEncoded.count()
    }
    timed("ann_pq_adc_top10") {
      val approx = ml.PqIndex.searchADC(pqEncoded,
        queries.select($"q_id", $"q_vec"), pqIdx, 10).persist()
      val overlap = approx.join(exact.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"))
        .count()
      // Honest metric split: exact top-10 inside a ~4k-member cluster
      // ranks by the 10% noise term, which 8-byte quantization erases
      // BY DESIGN — id-level recall measures noise ranking, not
      // retrieval. Cluster-level recall (did ADC land in the query's
      // true cluster?) is what PQ promises.
      val sameCluster = approx
        .filter(pmod(xxhash64($"vec_id"), lit(256)) ===
          pmod(xxhash64($"q_id"), lit(256))).count()
      println(s"[scale]   PQ(m=8,k=64) id-recall@10: ${overlap / 320.0}; " +
        s"cluster-recall@10: ${sameCluster / 320.0}")
      approx.unpersist()
      sameCluster
    }
    // ---- IVF-PQ composed (FAISS IVFPQ shape): coarse cells route the
    // search, PQ codes of RESIDUALS score it — corpus search state is
    // 1 int + 8 bytes per vector, probing 8/64 cells.
    var ivfpqIdx: ml.IvfPq.Index = null
    timed("ann_ivfpq_build") {
      ivfpqIdx = ml.IvfPq.build(targets, "vec_id", "embedding", dim,
        nList = 64, m = 8, k = 64, trainSample = 50000)
      ivfpqIdx.encoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ivfpqIdx.encoded.count()
    }
    timed("ann_ivfpq_top10") {
      val approx = ml.IvfPq.search(ivfpqIdx,
        queries.select($"q_id", $"q_vec"), 10, nProbe = 8).persist()
      val sameCluster = approx
        .filter(pmod(xxhash64($"vec_id"), lit(256)) ===
          pmod(xxhash64($"q_id"), lit(256))).count()
      println(s"[scale]   IVF-PQ(64 cells, probe 8) cluster-recall@10: ${sameCluster / 320.0}")
      approx.unpersist()
      sameCluster
    }
    // ---- frequent items: bounded-state sketch vs full vocabulary agg.
    // The 10k-word vocabulary is 100x the k=100 sketch capacity, so
    // this measures the genuinely lossy regime; the sketch's partials
    // carry <= k counters per partition through the shuffle where the
    // exact plan shuffles the whole vocabulary.
    timed("heavy_hitters_mg100") {
      docs.select(explode(split($"text", " ")).as("w"))
        .agg(graft.plans.MisraGries.mg_topk($"w", 100).as("top"))
        .select(explode($"top")).count()
    }
    timed("heavy_hitters_exact") {
      docs.select(explode(split($"text", " ")).as("w"))
        .groupBy($"w").count().orderBy($"count".desc, $"w").limit(100)
        .collect().length.toLong
    }
    // ---- Count-Min: point-frequency sketch in fixed 3x4096 space.
    // Same bounded-shuffle story as MG (partials are d*w longs however
    // large the vocabulary); cost profile differs — CM pays 3 md5
    // digests per token occurrence, so this measures digest throughput
    // at ~40M tokens.
    timed("countmin_3x4096") {
      docs.select(explode(split($"text", " ")).as("w"))
        .agg(graft.plans.CountMin.cm_sketch($"w", 3, 4096).as("sk"))
        .select(element_at(element_at($"sk", 1), 1)).collect().length.toLong
    }
    // ---- span-dedup rewrite (q152 core): full segment-df-rebuild
    // pass. The planted near-dups share all their full spans except
    // the tail, so ~1% of docs lose real content — the stage consumes
    // the rebuilt text (sum of lengths) so the string reassembly is
    // actually executed, not pruned.
    timed("span_dedup_rewrite") {
      val out = operators.CorpusQueries.spanDedupRewrite(docs)
      out.agg(sum(length($"clean_text")), sum($"n_kept")).collect().length.toLong
    }
    // ---- quantile sketch vs exact: grouped p50/p99 over n rows in 32
    // groups. The sketch shuffles <= k*log2(n/k) doubles per partial;
    // the exact percentile materializes every group member.
    val vals = spark.range(nDocs).select(($"id" % 32).as("g"),
      pmod(xxhash64($"id"), lit(1000000)).cast("double").as("x"))
    timed("quantile_sketch_k256") {
      vals.groupBy($"g")
        .agg(graft.plans.QuantileSketch.qsketch($"x", 256, Seq(0.5, 0.99)).as("q"))
        .select(element_at($"q", 1)).collect().length.toLong
    }
    timed("quantile_exact") {
      vals.groupBy($"g")
        .agg(expr("percentile(x, array(0.5, 0.99))").as("q"))
        .select(element_at($"q", 1)).collect().length.toLong
    }

    // ---- round-7: bigram-LM scoring (q164 core). The observed-bigram
    // model reduces with map-side combine and broadcasts back onto the
    // ~40M-bigram stream — no window, no stream self-join.
    timed("bigram_lm_score") {
      operators.IndexingQueries.bigramLmScore(docs)
        .agg(sum($"n_rare"), min($"min_p")).collect().length.toLong
    }
    // ---- round-7: inverted index with capped postings (q165 shape):
    // df/cf exact over the full corpus, stored posting sample bounded,
    // so the hottest term's state can't grow with the corpus.
    timed("inverted_index") {
      docs.select($"doc_id", explode(split($"text", " ")).as("w"))
        .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"))
        .groupBy($"w")
        .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
          slice(sort_array(collect_list($"doc_id")), 1, 16).as("postings"))
        .agg(sum($"df"), sum(size($"postings"))).collect().length.toLong
    }
    // ---- round-7: dense global IDs (q167 core) — range partition +
    // in-partition sort + zipWithIndex; nothing serializes through one
    // task. Consumes a checksum of id*key so the ids are materialized.
    timed("dense_ids_zipidx") {
      val sorted = docs.select($"doc_id", length($"text").as("len"))
        .repartitionByRange(32, $"len".desc, $"doc_id")
        .sortWithinPartitions($"len".desc, $"doc_id")
      sorted.rdd.zipWithIndex()
        .map { case (r, i) => (i + 1) * (r.getLong(0) % 97) }
        .reduce(_ + _)
    }
    // ---- round-7: bounded bottom-k-by-hash sample (q168 shape) via
    // the native heap: 10 per source over 32 synthetic sources.
    timed("bottomk_sample_heap") {
      val src = docs.select(
        concat(lit("s"), pmod(xxhash64($"doc_id"), lit(32))).as("source"),
        $"doc_id",
        (pmod(xxhash64($"doc_id", lit(7)), lit(1000000)).cast("double") / 1000000.0).as("u"))
      graft.plans.TopK.perGroup(src, 10, Seq("source"),
        Seq(graft.plans.TopK.asc("u"), graft.plans.TopK.asc("doc_id"))).count()
    }
    // ---- round-7: grid-blocked interval-OVERLAP self-join (q197
    // operator); plain + capped forms.
    timed("interval_overlap_join")(intervalOverlapStage(spark, nDocs))
    timed("interval_overlap_capped")(
      intervalOverlapStage(spark, nDocs, capped = true))
    // ---- round-7: EXACT prefix-filtered Jaccard join (q166 core) on a
    // ZIPFIAN corpus — prefix filtering's candidate bound comes from
    // token rarity, so the uniform-vocab corpus above is its worst
    // case (every "rare" prefix token still has df≈4000). Real text is
    // Zipf; synthesize one (log-uniform index ⇒ freq ∝ 1/rank), plant
    // the same 1%-of-docs near-dups, and measure recall + candidate
    // volume. The planted pair shares all tokens but the changed last
    // word: distinct-Jaccard ≥ (L−1)/(L+1) ≥ 0.9 at L ≥ 20.
    val zipfBase = spark.range(nDocs).select($"id".as("doc_id"),
      when($"id" % 100 === 1, $"id" - 1).otherwise($"id").as("seed"))
    val zipfWords = transform(
      sequence(lit(1), lit(25) + pmod(xxhash64($"seed"), lit(10)).cast("int")),
      i => concat(lit("z"), floor(exp(
        (pmod(xxhash64($"seed" * 1000 + i), lit(1000000)).cast("double") / 1000000.0)
          * math.log(10000.0))).cast("long")))
    // Candidate volume grows ~quadratically in per-token df, so the
    // smoke caps this stage at 200k docs (stated, not silent) — the
    // 100 TB path for bigger blocks is MinHash-LSH (q53) first, exact
    // prefix join within LSH-confirmed clusters.
    val zCap = math.min(nDocs, 200000L)
    val zdocs = zipfBase.filter($"doc_id" < zCap).select($"doc_id",
      array_join(
        when($"doc_id" % 100 === 1,
          concat(slice(zipfWords, lit(1), size(zipfWords) - 1),
            array(concat(lit("x"), $"doc_id"))))
          .otherwise(zipfWords), " ").as("text"),
      lit("en").as("lang"), lit("s0").as("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zN = zdocs.count()
    timed(s"prefix_jaccard_${zN / 1000}k") {
      val pairs = operators.IndexingQueries.prefixJaccardPairs(zdocs).persist()
      val total = pairs.count()
      val planted = pairs
        .filter($"doc_id_2" === $"doc_id_1" + 1 && $"doc_id_2" % 100 === 1).count()
      println(s"[scale]   pairs: $total; planted recovered: $planted (expected ~${zN / 100})")
      pairs.unpersist()
      total
    }
    // Exact KS drift over 20 synthetic sources: windows are bounded by
    // the n_chars VALUE DOMAIN (a few hundred distinct lengths), so
    // this runs at corpus scale with a constant-size window stage.
    runGovStages(spark, docs, (nm, f) => timed(nm)(f()), n)
    spark.stop()
  }

  /** Grid-blocked interval-OVERLAP self-join at n intervals (q197
    * operator): 100k-tick timeline, ~50 intervals per key, typical
    * length ~100 ≤ grain 256 (≤ 2 cells per row). The join is a pure
    * equi-join on (key, cell) with the first-overlap-cell predicate —
    * candidate volume is bounded by per-(key, cell) occupancy, not
    * per-key interval count. `capped = true` runs the guarded form
    * (maxPerCell = 64 — above this corpus's occupancy, so the result
    * matches while the guard's window cost is measured honestly). */
  private def intervalOverlapStage(spark: SparkSession, nDocs: Long,
      capped: Boolean = false): Long = {
    import spark.implicits._
    def iv(sfx: String) = spark.range(nDocs).select(
      $"id".as(s"id$sfx"),
      pmod(xxhash64($"id", lit(1)), lit(nDocs / 50L)).as(s"k$sfx"),
      pmod(xxhash64($"id", lit(2)), lit(100000)).as(s"s$sfx"))
      .withColumn(s"e$sfx",
        col(s"s$sfx") + lit(1) + pmod(xxhash64(col(s"id$sfx"), lit(3)), lit(200)))
    val joined =
      if (capped)
        operators.IntervalJoin.overlapCapped(iv("_a"), iv("_b"),
          "k_a", "k_b", "s_a", "e_a", "s_b", "e_b", grain = 256L, maxPerCell = 64)
      else
        operators.IntervalJoin.overlap(iv("_a"), iv("_b"),
          "k_a", "k_b", "s_a", "e_a", "s_b", "e_b", grain = 256L)
    joined.filter($"id_a" < $"id_b").count()
  }

  /** 256-cluster mixture embedding (hash-derived center + 10% noise) —
    * the synthetic corpus every ANN smoke stage shares. */
  private def clusteredVec(dim: Int, id: Column): Column = {
    val cluster = pmod(xxhash64(id), lit(256))
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ((pmod(xxhash64(cluster, i), lit(1000)).cast("double") / 500.0 - 1.0) +
        (pmod(xxhash64(id, i), lit(1000)).cast("double") / 500.0 - 1.0) * 0.1)
        .cast("float"))
  }

  /** Streaming-dedup state probe: replay `docs` as 16 micro-batches
    * through the transformWithState near-dup matcher under several TTL
    * horizons, recording per-batch trigger latency and the RocksDB
    * state operator's row/byte footprint from the query progress — the
    * numbers behind the "TTL bounds state to corpus-in-horizon" claim
    * (SURVEY §2.11). TTL here is processing-time (the
    * transformWithState TTL semantic), so horizons are chosen around
    * the replay's own wall clock. */
  private def runTwsStateProbe(spark: SparkSession, docs: DataFrame,
      n: Long, ttlSecs: Seq[Int], nParts: Int = 16,
      compactModes: Seq[Boolean] = Seq(false)): Unit = {
    import org.apache.spark.sql.streaming.{TTLConfig, Trigger}
    val tmp = java.nio.file.Files.createTempDirectory("tws_state").toString
    val path = s"$tmp/documents.parquet"
    docs.repartition(nParts).write.mode("overwrite").parquet(path)
    val schema = spark.read.parquet(path).schema
    val totalDocs = spark.read.parquet(path).count()
    val horizons = if (ttlSecs.nonEmpty) ttlSecs else Seq(0, 60, 10, 3)
    val CompactKey = "spark.sql.streaming.stateStore.rocksdb.compactOnCommit"
    for (compactOnCommit <- compactModes; ttlSec <- horizons) {
      spark.conf.set(CompactKey, compactOnCommit.toString)
      val ttl = if (ttlSec <= 0) TTLConfig.NONE
        else TTLConfig(java.time.Duration.ofSeconds(ttlSec.toLong))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(path)
      val verdicts = streaming.NearDupStream.pairsPlan(stream, 3, ttl)
      val sink = s"tws_state_ttl${ttlSec}_c$compactOnCommit"
      // NEITHER AvailableNow NOR processAllAvailable terminates a
      // processing-time-TTL query: the TTL machinery keeps demanding
      // another batch after the input drains (observed: thousands of
      // empty batches). A listener collects every progress event (the
      // recentProgress ring would evict data batches under that empty-
      // batch flood) and the loop stops the query itself once all
      // input rows are committed.
      val events = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          events.add(e.progress)
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      streaming.NearDupStream.withRocksProvider(spark) {
        val q = verdicts.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val deadline = System.nanoTime() + 900L * 1000000000L
          def committed(): Long = {
            import scala.jdk.CollectionConverters._
            events.asScala.map(_.numInputRows).sum
          }
          while (committed() < totalDocs && System.nanoTime() < deadline)
            Thread.sleep(500)
          require(committed() >= totalDocs,
            s"$sink: only ${committed()} of $totalDocs rows after 900s")
        } finally {
          val sec = (System.nanoTime() - t0) / 1e9
          q.stop()
          spark.streams.removeListener(listener)
          import scala.jdk.CollectionConverters._
          val progs = events.asScala.filter(_.numInputRows > 0).toSeq
          val lats = progs.flatMap(p =>
            Option(p.durationMs.get("triggerExecution")).map(_.toLong))
          val ops = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten)
          val lastRows = ops.lastOption.map(_.numRowsTotal).getOrElse(-1L)
          val peakBytes = if (ops.isEmpty) -1L else ops.map(_.memoryUsedBytes).max
          // on-disk bytes: RocksDB SST files (tombstones + TTL-index
          // rows live here until compaction — the disk half of the
          // TTL bound; peak vs FINAL shows whether compaction catches
          // up within the replay)
          def sstOf(o: org.apache.spark.sql.streaming.StateOperatorProgress): Long =
            Option(o.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(-1L)
          val peakSst = if (ops.isEmpty) -1L else ops.map(sstOf).max
          val lastSst = ops.lastOption.map(sstOf).getOrElse(-1L)
          val pairs = spark.table(sink).distinct().count()
          println(f"[scale] tws ttl=${ttlSec}%3ds compact=$compactOnCommit%-5s ${sec}%7.1f s  " +
            f"batches=${progs.length}%3d  pairs=$pairs%8d  " +
            f"stateRows=$lastRows%9d  peakStateBytes=$peakBytes%12d  " +
            f"sst peak=$peakSst%12d final=$lastSst%12d  " +
            f"batchLat avg=${if (lats.isEmpty) 0 else lats.sum / lats.length}%5d ms " +
            f"max=${if (lats.isEmpty) 0 else lats.max}%5d ms")
        }
      }
    }
    spark.conf.unset(CompactKey)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** KS-drift + transformWithState stages, shared by the full smoke and
    * the targeted `gov` mode (`runMain graft.ScaleSmoke <n> gov` skips
    * the ANN/index sections — a cheap scaling-curve probe). */
  private def runGovStages(spark: SparkSession, docs: DataFrame,
      time: (String, () => Long) => Unit, n: Long): Unit = {
    import spark.implicits._
    time("ks_drift_20src", () =>
      operators.GovernanceQueries.ksDrift(
        docs.select(
          concat(lit("src"), pmod($"doc_id", lit(20))).as("source"),
          length($"text").as("n_chars"))).count())

    // Streaming near-dup on arrival (transformWithState + RocksDB):
    // the full corpus replayed as one AvailableNow batch — 4 banded
    // rows per doc through per-band ListState. The hamming ≤ 3 ball is
    // an EXACT semantic, not a recall target: a one-word-in-~40 change
    // only lands inside it when the flipped vote margins are tight
    // (measured ~half the planted dups at 1M), and the streamed set
    // must equal the batch Hamming-ball join on the same corpus.
    val tmp = java.nio.file.Files.createTempDirectory("tws_scale").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // the timed window is the STREAMING run + one count — the batch
    // twin and the planted-recall audit run OUTSIDE it, so the curve
    // measures the transformWithState path, not stream + batch verify
    var pairs: DataFrame = null
    time("tws_stream_neardup", () => {
      pairs = streaming.NearDupStream.run(spark, tmp, "scale_tws_sink").persist()
      pairs.count()
    })
    val total = pairs.count()
    val planted = pairs.filter($"b" === $"a" + 1 && $"b" % 100 === 1).count()
    val batchTwin = operators.TrainingQueries.q99(spark, tmp).count()
    println(s"[scale]   pairs: $total (batch twin: $batchTwin); " +
      s"planted inside the hamming<=3 ball: $planted of ${n / 100} planted dups")
    pairs.unpersist()
    // the synthetic corpus copy is corpus-sized — don't leak it in /tmp
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    ()
  }
}
