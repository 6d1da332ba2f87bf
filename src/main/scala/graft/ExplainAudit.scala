package graft

/** Plan-shape audit over every registered query: prints per-query
  * counts of the physical-plan features the 100 TB design cares about
  * and flags anti-patterns (cartesian products, single-partition
  * windows/sorts feeding large inputs, shuffle-heavy trees). Run:
  *
  *   sbt 'runMain graft.ExplainAudit /root/testdata/sf0.001'
  *
  * This is the automated form of the ".explain() and iterate" loop —
  * streaming queries are skipped (no executedPlan before start).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session(4)

    def count(p: String, needle: String): Int = needle.r.findAllIn(p).length

    // `budgets` mode: print ONLY the scan-budget whitelist rows
    // (queries whose planned scan count exceeds their distinct table
    // count — the inherent multi-scanners) as TSV, for regenerating
    // src/test/resources/scan_budgets.tsv when a new inherent
    // multi-scan query is added deliberately.
    val budgetsMode = args.lift(1).contains("budgets")

    // streaming queries execute on build; derive the skip set from the
    // registry itself so new streaming queries can't silently run here
    val skip = operators.StreamingQueries.all.map(_.name).toSet
    var flagged = 0
    for (q <- SparkEntry.registry.sortBy(_.name) if !skip(q.name)) {
      try {
        val df = q.fn(spark, sfDir)
        // table-scan attribution: a query that re-reads the same table
        // N times pays N full scans at 100 TB — the q552 lesson (its
        // first per-rung UNION form scanned documents 4x)
        val scanTables = PlanAudit.parquetScanTables(df)
        val scans = scanTables.size
        val tables = scanTables.distinct.size
        if (budgetsMode) {
          if (scans > tables) println(s"${q.name}\t$scans\t$tables")
        } else {
          val p = df.queryExecution.executedPlan.toString
          val cartesian = count(p, "CartesianProduct") + count(p, "BroadcastNestedLoopJoin")
          val single = count(p, "SinglePartition")
          val bhj = count(p, "BroadcastHashJoin")
          val smj = count(p, "SortMergeJoin")
          val shuffles = count(p, "Exchange hashpartitioning")
          val topk = count(p, "TakeOrderedAndProject")
          val flags = new StringBuilder
          if (cartesian > 0) flags ++= " !CARTESIAN"
          // a single-partition exchange is fine only for final tiny
          // results (global sort of an aggregated/limited set)
          if (single > 1) flags ++= " !MULTI-SINGLE-PARTITION"
          if (flags.nonEmpty) flagged += 1
          println(f"${q.name}%-28s bhj=$bhj smj=$smj shuf=$shuffles topk=$topk single=$single scans=$scans tables=$tables$flags")
        }
      } catch {
        case e: Exception =>
          println(f"${q.name}%-28s ERROR ${e.getMessage.take(80)}")
      }
    }
    if (!budgetsMode) println(s"flagged: $flagged")
    spark.stop()
  }
}
