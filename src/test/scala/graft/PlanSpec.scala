package graft

import graft.operators.Relational

/** Plan-shape assertions: the optimizations the 100 TB design depends
  * on must actually appear in the physical plan — pushdown reaching the
  * parquet scan, broadcast joins staying broadcast, top-k compiling to
  * TakeOrderedAndProject, aggregates running partial+final inside
  * whole-stage codegen.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters push into the parquet scan (q02)") {
    val p = plan(Relational.q02(spark, sf))
    assert(p.contains("PushedFilters:"), p.take(400))
    assert(p.contains("l_discount"), "discount filter should reach the scan")
    // column pruning: untouched wide columns are not read
    assert(!p.contains("l_returnflag"))
  }

  test("dim joins broadcast (q04/q05)") {
    assert(plan(Relational.q04(spark, sf)).contains("BroadcastHashJoin"))
    val p5 = plan(Relational.q05(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p5).length >= 3,
      "supplier/nation/region should all broadcast")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort (q06)") {
    val p = plan(Relational.q06(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("aggregation runs map-side partial + final hash agg (q01)") {
    val p = plan(Relational.q01(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expect partial + final")
    assert(p.contains("partial_sum"), "map-side combine must precede the shuffle")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter must reach the parquet scan")
  }

  test("similarity top-k reduces via TopKPerGroup before any window (q60/q62)") {
    for (q <- Seq(graft.operators.SimilarityQueries.q60 _,
                  graft.operators.SimilarityQueries.q62 _)) {
      val p = plan(q(spark, sf))
      val heap = p.indexOf("TopKPerGroup")
      val win = p.indexOf("Window")
      assert(heap >= 0, "candidate reduction must use the native heap operator")
      // tree prints top-down: the window (rank over ≤ k rows) must sit
      // ABOVE the heap reduction, never directly on the candidate set
      assert(win < 0 || win < heap, p.take(800))
    }
  }

  test("pure column pipelines stay inside whole-stage codegen (q20/q41/q94)") {
    // The cleaning/text/redaction operators are claimed scan-speed:
    // that requires the expression chain to fuse into generated code,
    // not fall back to interpreted eval per row. AQE wraps the
    // pre-execution plan in an unfinalized AdaptiveSparkPlan that
    // hides codegen spans, so it is off for the assertion only.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq(
          graft.operators.CleaningQueries.q20 _,
          graft.operators.TextQueries.q41 _,
          graft.operators.TrainingQueries.q94 _)) {
        val p = plan(q(spark, sf))
        // codegen'd stages print as "*(n) Operator" in the tree string
        assert(p.contains("*("), p.take(400))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("partition filters prune the partitioned-sink layout at scan time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("part_prune").toString
    val df = Seq(
      ("austin", "2020-01-08", 850), ("austin", "2020-01-09", 900),
      ("woburn", "2020-01-08", 1000), ("woburn", "2020-01-09", 1100))
      .toDF("city", "date", "price")
    graft.sources.Sinks.partitionedParquet(df, dir)
    val scan = spark.read.parquet(dir)
      .filter($"city" === "austin" && $"date" === "2020-01-08")
    val p = scan.queryExecution.executedPlan.toString
    // the predicate must become a PartitionFilters entry (directory
    // pruning — at 100 TB this is the difference between reading one
    // day-city and the whole lake); it must NOT degrade to a post-scan
    // Filter on partition columns
    assert(p.contains("PartitionFilters: ["), p.take(500))
    assert(p.contains("isnotnull(city"), "city filter should prune partitions")
    val scanned = scan.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.get("Location").toSeq :+ f.relation.location.listFiles(
          f.partitionFilters, f.dataFilters).length
    }.flatten
    assert(scanned.contains(1),
      s"expected exactly one partition directory after pruning: $scanned")
  }

  test("runtime bloom filter from the selective side prunes the fact scan") {
    // At 100 TB the win is reading fewer fact rows out of the shuffle
    // when the dim side carries a selective filter. Spark injects a
    // bloom_filter_agg → might_contain pair at optimization time; the
    // default thresholds (10 GB application-side scan) are tuned for
    // clusters, so pin the behavior here with the thresholds dropped.
    val conf = spark.conf
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val old = conf.get(key)
    val oldBcast = conf.get(bcast)
    conf.set(key, "0")
    // the rule only fires when the application side actually shuffles
    // (with a broadcast join there is nothing to prune pre-shuffle) —
    // force the shuffle path this sf would otherwise broadcast away
    conf.set(bcast, "-1")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        "expected an injected runtime bloom filter on the fact side:\n" +
          optimized.take(600))
    } finally {
      conf.set(key, old)
      conf.set(bcast, oldBcast)
    }
  }

  test("IN subquery rewrites to LeftSemi; disjunctive predicate pushes to scan") {
    val p78 = plan(graft.operators.SqlSurface.q78(spark, sf))
    assert(p78.contains("LeftSemi"), "Q18-style IN must plan as a semi join")
    val p84 = plan(graft.operators.SqlSurface.q84(spark, sf))
    assert(p84.contains("Or("), "the OR-of-ANDs quantity clauses must reach PushedFilters")
  }

  test("plan guard sweep: no CartesianProduct in any registered query") {
    // BroadcastNestedLoopJoin (broadcast-small-side crossJoin designs,
    // e.g. q60's broadcast query set) is intended; an unpartitioned
    // CartesianProduct never is. The census leaves out streaming queries.
    val offenders = PlanCensus.entries.filter(_.executedPlan.contains("CartesianProduct"))
      .map(_.name)
    assert(offenders.isEmpty, s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("anti/semi joins stay join-based, no cartesian anywhere") {
    val p10 = plan(Relational.q10(spark, sf))
    val p11 = plan(Relational.q11(spark, sf))
    assert(p10.contains("LeftAnti") && p11.contains("LeftSemi"))
    assert(!p10.contains("Cartesian") && !p11.contains("Cartesian"))
  }

  test("q164 LM model broadcasts onto the stream; no window in the plan") {
    val df = graft.operators.IndexingQueries.q164(spark, sf)
    // The model join is hint-free (a pathological vocabulary must be
    // able to fall back to a shuffle join), so the broadcast decision
    // is AQE's: execute, then assert on the FINAL adaptive plan.
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastQueryStage"),
      s"AQE should broadcast the small LM model:\n${p.take(1000)}")
    assert(!p.contains("Window"),
      "windows over the few-huge-groups bg/w1 partitionings sort the stream")
  }

  test("q168 sampling reduces via the native bounded heap, not a window") {
    val p = plan(graft.operators.IndexingQueries.q168(spark, sf))
    assert(p.contains("TopKPerGroup"))
    assert(!p.contains("Window"))
  }

  test("q120 shares one line-relation exchange across agg and window") {
    val p = plan(graft.operators.TpchSubqueries.q120(spark, sf))
    // hashpartitioning exchanges: the explicit repartition(l_orderkey)
    // + the final groupBy(s_name). A third would mean the pair-agg or
    // the window re-shuffled the full line relation.
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"expected 2 hash exchanges, got $n:\n${p.take(1200)}")
  }
}
