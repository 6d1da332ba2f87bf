package graft

/** Mechanical guard against the q163/q174 straggler shape: a window
  * partitioned ONLY by known low-cardinality enum keys (event types,
  * sources, priorities, …) applied to an UNCOLLAPSED base relation
  * funnels each group's entire history through one task — fine at
  * sf0.01, a straggler by construction at 100 TB. The scale-safe
  * re-expression is `Ranking.groupRanks` (two-phase rank) or a prior
  * aggregate that collapses the relation to group-domain size; this
  * sweep fails the build when anyone reintroduces the raw shape.
  *
  * "Uncollapsed" = some file-scan leaf is reachable from the window's
  * child without crossing an Aggregate (which bounds rows to the
  * group domain) or a GlobalLimit. Windows with a high-cardinality
  * key anywhere in the partition spec (user_id, doc_id, o_custkey)
  * scale out naturally and are exempt. Both rules (the GLOBAL one
  * stricter about Aggregates) live in [[PlanCensus]].
  */
class WindowStragglerGuardSpec extends SparkSpec {

  test("no GLOBAL (unpartitioned) window over a corpus-growing relation") {
    val offenders = PlanCensus.entries.filter(_.globalWindows.nonEmpty).map(_.name)
    assert(offenders.isEmpty,
      s"global window over a corpus-growing relation (one task sorts " +
        s"data that grows with the corpus — use Ranking.seqIds): " +
        offenders.mkString("; "))
  }

  test("positive control: the guard fires on the retired q166 rarity-rank shape") {
    // Reconstruct exactly what IndexingQueries.q166 shipped through
    // r12: row_number() over an unpartitioned window above a vocab
    // (groupBy token) aggregate of a file scan. The sweep must flag
    // it — this is the proof the extension bites, not a tautology.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val docs = spark.read.parquet(s"${PlanCensus.sf}/documents.parquet")
    val old = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .withColumn("r", row_number().over(W.orderBy(col("df"), col("w"))))
    assert(PlanCensus.globalWindows(old.queryExecution.optimizedPlan).nonEmpty,
      "guard failed to flag the known-straggler global vocab-rank window")
  }

  test("q166's prefix-join path carries no unpartitioned window at all") {
    // The r12 verdict's named straggler: the vocab rarity rank was a
    // single-partition window; now Ranking.seqIds. Pin the absence.
    val globals = PlanCensus("q166_prefix_jaccard_join").unpartitionedWindows
    assert(globals.isEmpty,
      s"q166 regained an unpartitioned window: ${globals.mkString(";")}")
  }

  test("no window partitioned only by low-cardinality keys over an uncollapsed base relation") {
    val offenders = PlanCensus.entries.flatMap(e => e.lowCardWindows.map(k => s"${e.name}[$k]"))
    assert(offenders.isEmpty,
      s"low-cardinality window over an uncollapsed relation (use " +
        s"Ranking.groupRanks or pre-aggregate): ${offenders.mkString("; ")}")
  }
}
