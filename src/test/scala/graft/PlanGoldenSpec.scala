package graft

/** Golden plan-shape regression guard for the batch bench set: the
  * physical-plan feature counts (BroadcastHashJoin, SortMergeJoin,
  * hash-partitioning Exchange) of every headline query, pinned at the
  * shapes the round-9 plan audit signed off. A silent optimizer-
  * visible regression — a broadcast degrading to a sort-merge join, a
  * new shuffle appearing in a reworked operator — fails HERE instead
  * of surfacing as a mystery slowdown three rounds later. Counts are
  * derived from [[PlanCensus]]'s pre-execution plans (deterministic for
  * fixed config/data); streaming queries have no executedPlan before
  * start and are excluded (their guards live in the streaming specs).
  */
class PlanGoldenSpec extends SparkSpec {

  private val golden: Map[String, (Int, Int, Int)] = Map(
    "q01_pricing_summary" -> ((0, 0, 1)),
    "q03_join_topk" -> ((1, 0, 1)),
    "q04_broadcast_join_agg" -> ((1, 0, 1)),
    "q05_snowflake_join" -> ((4, 0, 1)),
    "q07_window_lag" -> ((0, 0, 1)),
    "q09_distinct_agg" -> ((0, 0, 2)),
    "q101_stop_grams" -> ((0, 0, 1)),
    "q104_funnel" -> ((0, 0, 1)),
    "q120_waiting_suppliers" -> ((2, 0, 2)),
    "q122_bm25_ranking" -> ((2, 0, 4)),
    "q125_incremental_dedup" -> ((2, 0, 2)),
    "q139_forecast_revenue" -> ((0, 0, 0)),
    "q140_repeated_substrings" -> ((0, 0, 1)),
    "q148_bloom_decontamination" -> ((2, 0, 3)),
    "q149_salted_join" -> ((2, 0, 2)),
    "q152_span_dedup_rewrite" -> ((2, 0, 4)),
    "q164_bigram_lm_score" -> ((2, 0, 5)),
    // re-signed round 19: toks and docArr are now materialized (one
    // corpus scan instead of four) and the exact verify reads the doc
    // rank-ARRAYS (two joins against docArr + in-row array_intersect)
    // instead of re-joining the exploded token relation with itself —
    // the q554 verify discipline. Joins behind the checkpoint
    // boundaries carry no size stats, so they PLAN as SortMergeJoin
    // (scale-safe default); AQE re-picks broadcast at runtime where a
    // side is measured small.
    "q166_prefix_jaccard_join" -> ((0, 3, 7)),
    "q175_sliding_window_agg" -> ((0, 0, 1)),
    "q177_heavy_hitter_cube" -> ((0, 0, 1)),
    "q181_ks_drift" -> ((1, 0, 3)),
    "q184_temperature_mixing" -> ((0, 0, 2)),
    "q186_mmr_rerank" -> ((0, 0, 1)),
    "q188_touch_attribution" -> ((0, 0, 2)),
    "q190_ann_eval" -> ((2, 0, 2)),
    "q197_interval_overlap" -> ((1, 0, 1)),
    "q200_audience_overlap" -> ((0, 0, 5)),
    // re-signed round 19: ONE session_window aggregation via
    // IntervalJoin.selfOverlapOrdered (materialized cell relation self-join)
    // instead of building the identical session relation per join side
    // — two of the three hash exchanges (the duplicate session agg +
    // its cell shuffle) are gone
    "q205_session_overlap" -> ((1, 0, 1)),
    "q20_clean_cast_pipeline" -> ((0, 0, 0)),
    "q212_scd2_enrichment" -> ((0, 0, 3)),
    "q214_segment_gini" -> ((1, 0, 2)),
    // re-signed round 19: the spine is ONE global aggregation (bounds +
    // bounded priority domain via collect_set) instead of a bounds agg
    // + a distinct + a broadcast cross-join — the distinct's hash
    // exchange is gone
    "q215_linear_interpolation" -> ((1, 0, 0)),
    // re-signed round 13: Fx.materialize on the orders aggregate ended
    // the triple U/I/D recompute (SCALE.md), deleting 3 of 5 exchanges
    "q225_cdc_merge" -> ((1, 1, 2)),
    "q22_keyword_flags" -> ((0, 0, 1)),
    "q234_rolling_active_users" -> ((0, 0, 3)),
    "q237_document_roundtrip" -> ((1, 0, 2)),
    "q260_clamped_balance" -> ((1, 0, 3)),
    "q300_pipeline_funnel" -> ((0, 0, 1)),
    "q30_native_topk" -> ((0, 0, 1)),
    "q41_quality_score" -> ((0, 0, 0)),
    "q42_langid_confusion" -> ((0, 0, 1)),
    "q47_top_bigrams" -> ((0, 0, 1)),
    "q50_exact_dedup" -> ((1, 0, 3)),
    "q51_minhash_signatures" -> ((0, 0, 1)),
    "q53_near_dup_pairs" -> ((2, 0, 3)),
    // signed round 18 with q554's bench promotion: two broadcasts (the
    // verify stage's two array-lookup joins against the materialized
    // base), hash exchanges for the signature agg / band buckets /
    // candidate distinct — no sort-merge join anywhere
    "q554_blocked_set_join" -> ((2, 0, 3)),
    "q55_simhash16_hamming" -> ((1, 0, 2)),
    "q58_embedding_near_dup" -> ((3, 0, 2)),
    "q60_cosine_topk" -> ((0, 0, 1)),
    "q62_ann_ivf_topk" -> ((1, 0, 1)),
    "q64_shipping_priority" -> ((2, 0, 1)),
    "q65_local_supplier_volume" -> ((5, 0, 1)),
    "q70_sessionize" -> ((0, 0, 1)),
    "q71_asof_join" -> ((0, 0, 1)),
    "q73_range_join" -> ((1, 0, 1)),
    "q78_large_volume_orders" -> ((4, 0, 3)),
    "q92_tfidf_top_terms" -> ((0, 0, 3)),
    "q93_repetition_filter" -> ((0, 0, 0)),
    "q95_decontamination" -> ((1, 0, 2)),
  )

  test("bench-query plan shapes match the signed-off golden counts") {
    val names = SparkEntry.benchQueries.map(_.name).filterNot(PlanCensus.streaming)
    assert(names.toSet === golden.keySet,
      "bench set changed - regenerate the golden map (PlanCensus report)")
    val bad = names.flatMap { name =>
      val e = PlanCensus(name)
      val got = (e.count("BroadcastHashJoin"), e.count("SortMergeJoin"),
        e.count("Exchange hashpartitioning"))
      if (got == golden(name)) None
      else Some(s"$name: got $got, golden ${golden(name)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("ANN family keeps the native bounded-heap operator in its physical plan") {
    // join/exchange counts alone would not catch the heap silently
    // degrading to a full window sort (same shuffle count, O(candidates
    // per query) memory in one task) — pin the operator itself. The
    // round-10 idle A/B (r8 HEAD vs r9 HEAD, twice each, SCALE.md)
    // cleared the trio's reported drift as driver-environment load:
    // identical plans, statistically identical idle times.
    val ann = Seq("q60_cosine_topk", "q62_ann_ivf_topk", "q190_ann_eval")
    ann.foreach { name =>
      val p = PlanCensus(name).executedPlan
      assert(p.contains("TopKPerGroup"),
        s"$name lost the bounded-heap top-k operator:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name grew a cartesian")
    }
  }
}
