package graft

/** CI gate of the round-16 scan audit (r16 verdict #2): without it,
  * nothing FAILED when a new query re-read a table N× needlessly — the
  * q552-first-draft class (its per-rung UNION scanned `documents` four
  * times where one pass suffices) could recur silently. This sweep
  * reads every registered query's planned parquet scans from
  * [[PlanCensus]] and enforces a per-query budget:
  *
  *   - queries listed in src/test/resources/scan_budgets.tsv (the
  *     inherent multi-scanners, seeded from the round-17 audit — e.g.
  *     q354's schema-wide inclusion-dependency sweep at 33 scans of 6
  *     tables, q308's per-feature drift passes, q179's independent DQ
  *     constraint probes, q91/q207's two-phase designs) may use at
  *     most their RECORDED scan count;
  *   - every other query must scan each distinct table at most once
  *     (scans ≤ distinct tables) — the `Fx.materialize` discipline
  *     for multi-consumer intermediates.
  *
  * Raising a budget (or adding a row) is a deliberate, reviewed edit
  * of the TSV. A failing sweep prints the complete regenerated TSV
  * body (every query whose scans exceed its tables) below its
  * offenders, ready to diff against the file.
  */
class ScanBudgetGuardSpec extends SparkSpec {
  private lazy val budgets: Map[String, Int] = {
    val in = getClass.getResourceAsStream("/scan_budgets.tsv")
    require(in != null, "scan_budgets.tsv missing from test resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val parts = l.split("\t")
        parts(0) -> parts(1).toInt
      }.toMap
    finally src.close()
  }

  /** Stated skip set (r17 verdict #4 — no silent exclusions): the
    * StreamingQueries entries EXECUTE a full streaming query inside
    * fn() and return the memory-sink table, so the frame this sweep
    * would audit has no parquet scans by construction (the sink is a
    * LocalRelation) and "compiling" them here would actually run all
    * the streams. Their scan discipline is gated instead by the
    * compensating streaming-source test below, which runs them and
    * pins each executed stream's file-source count from its own
    * progress events. */
  private val streamingSkip: Set[String] = PlanCensus.streaming

  /** The budget rule over one table name per planned scan: why it fails. */
  private def budgetViolation(name: String, scans: Seq[String]): Option[String] = {
    val budget = budgets.getOrElse(name, scans.distinct.size)
    if (scans.size > budget)
      Some(s"$name: ${scans.size} planned scans (budget $budget; " +
        s"tables ${scans.groupBy(identity).map { case (t, xs) => s"$t×${xs.size}" }.mkString(",")})")
    else if (budgets.contains(name) && scans.size < budget)
      // a plan that IMPROVED below its recorded budget must tighten
      // the TSV, or the stale slack silently re-admits regressions
      // up to the old count
      Some(s"$name: ${scans.size} planned scans BELOW recorded budget " +
        s"$budget — regenerate scan_budgets.tsv to keep the gate tight")
    else None
  }

  test("every registered query stays inside its planned parquet-scan budget") {
    val offenders = PlanCensus.entries.flatMap(e => budgetViolation(e.name, e.scanTables))
    lazy val regenerated = PlanCensus.entries.sortBy(_.name).collect {
      case e if e.scanTables.size > e.scanTables.distinct.size =>
        s"${e.name}\t${e.scanTables.size}\t${e.scanTables.distinct.size}"
    }
    assert(offenders.isEmpty,
      "queries outside their scan budget (re-reading a table costs a " +
        "full extra pass at 100 TB — materialize the shared intermediate " +
        "with Fx.materialize, or deliberately whitelist in scan_budgets.tsv; " +
        "improved plans must re-tighten the TSV):\n  " +
        offenders.mkString("\n  ") +
        "\nregenerated scan_budgets.tsv rows:\n" + regenerated.mkString("", "\n", "\n"))
  }

  test("skip set stays exactly the streaming registry — no other query escapes the sweep") {
    val names = SparkEntry.registry.map(_.name).toSet
    assert(streamingSkip.subsetOf(names),
      s"skip names not in registry: ${streamingSkip.diff(names).mkString(", ")}")
    // defined AS StreamingQueries.all, so this pins the INTENT: any
    // future skip-set broadening must rewrite this test with a stated
    // reason, the way the TSV states its budgets
    val streaming = graft.operators.StreamingQueries.all.map(_.name).toSet
    assert(streamingSkip === streaming)
    // and the census every plan gate reads holds each other query once
    assert(PlanCensus.entries.map(_.name).sorted ===
      SparkEntry.registry.map(_.name).filterNot(streaming).sorted)
  }

  /** Every streaming-skip entry must either carry its own pin in the
    * compensating gate below or name the pinned query of the SAME
    * source shape that stands in for it (r18 ADVICE: the skip set
    * auto-grows with StreamingQueries.all, so without this closure a
    * new streaming query would silently join the skip set with no
    * compensating entry). Adding a streaming query now forces an edit
    * HERE, the way a multi-scan batch query forces a TSV row. */
  private val streamRepresentatives: Map[String, String] = Map(
    // keyed transformWithState / stateful dedup, single file source → q74
    "q337_stream_cusum" -> "q74_streaming_dedup",
    "q262_stream_clamped_balance" -> "q74_streaming_dedup",
    "q180_stream_neardup_tws" -> "q74_streaming_dedup",
    "q191_stream_timer_sessions" -> "q74_streaming_dedup",
    "q114_streaming_content_dedup" -> "q74_streaming_dedup",
    // windowed / chained aggregation, single file source → q72
    "q79_streaming_sessions" -> "q72_streaming_hourly",
    "q82_sliding_windows" -> "q72_streaming_hourly",
    "q151_chained_stream_agg" -> "q72_streaming_hourly",
    // two-source stream-stream joins → q88
    "q145_stream_outer_join" -> "q88_stream_stream_join")

  /** The compensating gate's pins: representative streaming query →
    * file-stream source count its executed micro-batches must report
    * (shared by the executed-stream test and the coverage closure). */
  private val pinned = Map(
    "q72_streaming_hourly" -> 1, // single-source windowed agg
    "q74_streaming_dedup" -> 1, // keyed transformWithState
    "q88_stream_stream_join" -> 2, // stream-stream join: two sources inherent
    "q75_stream_static_join" -> 1) // static side is a batch broadcast, not a stream source

  private def pinnedStreamNames: Set[String] = pinned.keySet

  test("every streaming-skip entry is pinned or has a stated pinned representative") {
    assert(streamRepresentatives.values.toSet.subsetOf(pinnedStreamNames),
      "a representative must itself be a pinned query: " +
        streamRepresentatives.values.toSet.diff(pinnedStreamNames).mkString(", "))
    val covered = pinnedStreamNames ++ streamRepresentatives.keySet
    val uncovered = streamingSkip.diff(covered)
    assert(uncovered.isEmpty,
      "streaming queries in the batch-sweep skip set with neither a " +
        "file-source pin nor a stated same-shape representative — add a " +
        "pinned entry or a streamRepresentatives row:\n  " +
        uncovered.mkString("\n  "))
    val stale = covered.diff(streamingSkip)
    assert(stale.isEmpty,
      s"stale coverage rows for retired streaming queries: ${stale.mkString(", ")}")
  }

  test("compensating gate: executed streaming queries use exactly their pinned file-source counts") {
    // The batch sweep above can't see a stream's scans (stated on
    // streamingSkip); this runs a REPRESENTATIVE streaming query per
    // source shape at sf0.001 and pins the number of file-stream
    // sources its executed micro-batches actually read — the streaming
    // analogue of the scan budget (a redundant second readStream of
    // the same table would double the 100 TB ingest exactly like a
    // redundant batch scan).
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    import scala.jdk.CollectionConverters._
    for ((name, want) <- pinned.toSeq.sortBy(_._1)) {
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
      try {
        byName(name).fn(spark, PlanCensus.sf).collect()
        // listener bus is async — poll briefly for the progress events
        val deadline = System.nanoTime() + 10000000000L
        while (events.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      } finally spark.streams.removeListener(listener)
      val sourceCounts = events.asScala.map(_.sources.length).toSeq.distinct
      assert(sourceCounts === Seq(want),
        s"$name: executed stream reported source counts $sourceCounts, pinned $want")
      val descs = events.asScala.flatMap(_.sources.map(_.description)).toSeq.distinct
      assert(descs.forall(_.startsWith("FileStreamSource")),
        s"$name: unexpected source kinds: $descs")
    }
  }

  test("budget rows stay live: every whitelisted name is a registered query") {
    // a renamed/retired query must drop its TSV row, or the whitelist
    // rots into a list of names the sweep never checks
    val names = SparkEntry.registry.map(_.name).toSet
    val dead = budgets.keys.filterNot(names)
    assert(dead.isEmpty, s"stale scan_budgets.tsv rows: ${dead.mkString(", ")}")
  }

  test("positive control: the guard catches the q552-first-draft redundant-scan shape") {
    // Reconstruct the regression class this sweep exists for: a
    // per-rung UNION that re-reads `documents` once per rung instead
    // of deriving all rungs from one scan. The budget logic (unlisted
    // query → scans ≤ distinct tables) must flag it.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${PlanCensus.sf}/documents.parquet")
    def rung(w: Int) = docs.select(col("doc_id"), lit(w).as("wlen"))
    val regressed = rung(8).union(rung(16)).union(rung(32)).union(rung(64))
    val scans = PlanCensus.parquetScanTables(regressed)
    assert(scans.size === 4 && scans.distinct.size === 1,
      s"fixture did not produce the expected 4×-scan plan: $scans")
    assert(budgetViolation("q552_first_draft", scans).nonEmpty,
      "guard predicate failed to flag the deliberately-regressed fixture")
  }
}
