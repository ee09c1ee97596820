package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shuffle-budget regression net: every SparkEntry query's INITIAL
  * physical plan is pinned to its current shuffle-exchange count
  * (measured by `runMain graft.tools.Probe shuffles all <sf0.001 dir>`,
  * whose counter `Probe.shuffleExchanges` this spec calls — broadcast
  * exchanges excluded, they are the cheap alternative these budgets push
  * toward).
  * A query whose plan silently gains an Exchange — a stats change
  * flipping a broadcast to a shuffle join, a new non-prefix sort, an
  * accidental repartition — fails here long before it shows up as a
  * 100 TB regression. Counts may DROP (improvement): the assertion is
  * count <= budget; tighten the table when they do.
  *
  * dd9_incremental_dedup is exempt: its plan shape depends on whether
  * the persisted fingerprint store exists (bootstrap vs roll-forward),
  * which this suite does not control.
  *
  * EAGER-CONSTRUCTION EXEMPTION (explicit, the same class as dd9's):
  * queries whose builder runs jobs at CONSTRUCTION time —
  * localCheckpoint(true) subtrees (tpch_q11_shape, v7, w3b, x17b,
  * ev4b, x18b, x23, dd6, dd13's staged store) and store writes (ivm1/
  * ivm2/ivm3/ivm3b/ivm4's view builds) — are pinned here on the FINAL
  * plan only; the shuffles inside the eager subtree are real work the
  * query still performs but are not counted by this net. They are
  * covered instead by the bench gate (BENCH_r*.json trends the total
  * cost, eager stages included) and by each site's own scaladoc trade
  * note (e.g. q11's checkpoint materializes a |parts|-sized table to
  * buy a three-scan→one-scan rewrite). A listener-based count across
  * construction + execution was considered and rejected: it would pin
  * fixture-build shuffles (store writes that exist only to create the
  * incremental-read situation) as if they were query cost. Note also
  * that localCheckpoint is lossy under executor failure — at
  * deployment scale the same truncation points become persisted
  * checkpoints/tables (each site's scaladoc carries that mapping).
  */
class ShuffleBudgetSpec extends AnyFunSuite with SparkSuite {

  private val budgets: Map[String, Int] = Map(
    "a10_rollup" -> 2,
    "a10b_cube" -> 2,
    "a10c_grouping_sets" -> 2,
    "a11_quantiles" -> 2,
    "a11b_quantiles_exact" -> 2,
    // a12: two per-type median windows + their rollups + the final sort
    "a12_mad_outliers" -> 5,
    // a13: one partial-aggregated moment groupBy + final sort
    "a13_covar_corr" -> 2,
    // a14: a13's moment groupBy shape + final sort
    "a14_ols_fit" -> 2,
    "a1_mode_majority" -> 3,
    "a2_distinct" -> 2,
    "a2b_count_distinct" -> 3,
    // a2c: bounded-oracle form carries the exact countDistinct twin
    // (two-phase distinct agg) beside the HLL sketch
    "a2c_approx_distinct" -> 3,
    "a3_dup_audit" -> 2,
    "a4_count" -> 2,
    "a5_minmax" -> 2,
    "a6_avg" -> 2,
    "a7_histogram" -> 2,
    "a8_vector_sum" -> 2,
    "a8b_vector_sum_typed" -> 2,
    "a9_running_sum" -> 2,
    "dd1_exact_dedup" -> 2,
    // dd2: the signature-attachment joins are SIZE-GATED (round 14,
    // verdict #6): below the session broadcast threshold the reps side
    // broadcasts (this sf0.01 plan — the r13 unconditional shuffle_hash
    // hint's +4 exchanges are back to the r12 shape, measured sf0.1
    // 2.49 → 2.08 s), above it they hash-join with both sides keyed
    // (sf10 unchanged at ~15 s, pair set bit-identical at both scales:
    // 123,871 / 14,228,635). Sort-merge stays forbidden at every scale —
    // it externally sorts |pairs| × sig_bytes (~75 GB at sf100), the
    // first thing to die on a single node's disk (DedupOps.repPairs).
    "dd2_minhash_lsh" -> 11,
    // dd3/dd3b: round 15 — the simhash_sig kernel sheds the explode →
    // 64-sum groupBy's doc-keyed exchange (the dd2 round-12 shape)
    "dd3_simhash" -> 1,
    "dd3b_simhash_lsh" -> 9,
    "dd4_ngram_jaccard" -> 1,
    "dd4b_shingle_jaccard" -> 1,
    "dd5_embedding_neardup" -> 0,
    "dd5b_embedding_lsh_neardup" -> 0,
    "dd6_dedup_clusters" -> 3,
    "dd7_embedding_clusters" -> 3,
    "dd8_chunk_dedup" -> 3,
    "dd9_incremental_dedup" -> 6,
    // dd10: pair join keyed on cent + distinct + verdict join/sort over
    // the localCheckpointed assignment (itself shuffle-free argmax)
    "dd10_semdedup" -> 3,
    // dd12: filter build (word groupBy + single-row collapse) + the
    // exact-audit join (distinct + both join sides) + final sort; the
    // production bloom verdict itself is a map-side forall over the
    // broadcast word array
    "dd12_bloom_probe" -> 7,
    // dd11: chunking is map-side HOFs; first-occurrence window + per-doc
    // agg + final sort
    "dd11_cdc_chunks" -> 3,
    // dd13: the dd9 verdict machinery probing the STAGED eval store
    // with internalDedup=false (round 8) — the store's own aggs moved
    // into the one-time stage write and the within-train dup_new stage
    // (which decontamination discarded anyway) is skipped, leaving the
    // candidate distinct + agreement groupBy + final sort
    // (was 9 with in-plan stores, 6 with the internal stage)
    "dd13_cross_decontam" -> 3,
    "e1_json_extract" -> 2,
    // ev1: span agg + the per-user LOCF window + presentation sort
    "ev1_resample_locf" -> 3,
    // ev2: cohort agg + user join + retention-cell agg + final sort
    "ev2_cohort_retention" -> 4,
    // ev3: three chained per-user stage aggs with their joins; the
    // single-row stage counts collapse the rest
    "ev3_funnel" -> 8,
    // ev4: per-user agg + the user-table quartile windows + final sort
    // (windows run over user cardinality, not events)
    "ev4_rfm_segments" -> 3,
    // ev4b: per-dimension histogram agg + its single-partition cut
    // window (histogram-sized input, ≤1024 rows at any corpus size) ×3
    // + final sort; the user aggregate sits behind the checkpoint
    "ev4b_rfm_segments_hist" -> 7,
    // ev5: calendar distinct, DAU agg, the contribution join +
    // two-phase WAU distinct, final join/sort (the shared user-day
    // distinct sits behind its checkpoint since round 8)
    "ev5_rolling_active" -> 5,
    // ev6: first-seen agg + daily split agg + the calendar-cardinality
    // cumulative window/sort (the shared user-day distinct sits behind
    // its checkpoint since round 8)
    "ev6_growth_accounting" -> 3,
    // er1: trigram-block agg + candidate-pair distinct + the two
    // set-join sides feeding the Jaccard filter/sort
    "er1_fuzzy_match" -> 4,
    // er2: CC rounds run eagerly; captured plan is the label join +
    // final sort over the (tiny) name vocabulary
    "er2_canonical_entities" -> 3,
    // ft1: per-(row,bucket) agg + final sort (hashing is map-side)
    "ft1_feature_hash" -> 2,
    // ft2: category agg + final sort; encode join is broadcast
    "ft2_target_encode" -> 2,
    "e2_json_typed" -> 1,
    "e3_variant_extract" -> 2,
    // g1: 5 unrolled power-iteration rounds, each a node-keyed join +
    // per-dst aggregation, plus the final sort; the edge/degree tables
    // are lineage-truncated and their exchanges reused across rounds
    // (measured 17 = 5×3 + final join exchange + range sort)
    "g1_pagerank" -> 17,
    // g1b: the bucketed layout's point, visible right here — 6 vs g1's
    // 17: only the five per-round dst-contribution sums + the final
    // sort remain; every per-round src-side exchange is satisfied by
    // the bucketed scan
    "g1b_pagerank_bucketed" -> 6,
    // g2: relaxation rounds run eagerly (localCheckpoint); captured
    // plan is the final -1 fill + sort
    "g2_bfs_hops" -> 1,
    "j1_hash_join" -> 2,
    // j11: broadcast nested-loop band probe + presentation sort
    "j11_band_join" -> 1,
    "j2_zip_join" -> 1,
    "j3_map_lookup" -> 1,
    "j4b_map_join" -> 2,
    "j5_radius_join" -> 1,
    "j6_semi_join" -> 1,
    "j7_anti_join" -> 1,
    "j8_asof_join" -> 2,
    "j9_notin_anti" -> 2,
    "k1_export_roundtrip" -> 2,
    // k7: the captured plan is the read-back audit (agg + sort); the
    // merge writes execute as side effects before it
    "k7_upsert_dynamic" -> 2,
    // k8: same audit shape — the compaction itself is coalesce-only
    "k8_compact_small_files" -> 2,
    "k5_jsonl_roundtrip" -> 2,
    "k6_csv_roundtrip" -> 2,
    // k9: the captured plan is the pruned-file-list agg + final sort;
    // manifest consultation happens at planning time
    "k9_manifest_prune" -> 2,
    // k10: same digest-audit read-back shape as k5/k6
    "k10_orc_roundtrip" -> 2,
    // k9b: two snapshot aggregates + their join + final sort
    "k9b_snapshot_diff" -> 3,
    "mm1_binary_ingest" -> 1,
    "mm2_chunk_features" -> 1,
    "mm3_frame_sample" -> 1,
    "nn1_knn_brute" -> 2,
    "nn2_lsh_ann" -> 2,
    "nn3_ivf_ann" -> 4,
    "nn4_int8_quant" -> 1,
    "nn5_pq_ann" -> 4,
    "nn6_ivfpq_ann" -> 6,
    // nn6b: nn6's ADC pipeline + the rerank-cut window; the exact
    // re-rank itself is broadcast-joined (no data-side exchange)
    "nn6b_ivfpq_refine" -> 7,
    // nn7: round 15 fused the power iterations into one single-row
    // expression fold (count covers the ENTIRE query since then); round
    // 16 collapsed the count+μ+outer-product passes into the one-pass
    // CovMomentsAgg kernel — 8 → 4 (two scan fan-outs, the kernel's
    // buffer exchange, the presentation sort)
    "nn7_pca_power" -> 4,
    // nn8: max-norm stats agg + sig-keyed bucket join + per-query
    // top-k window + final sort (nn2's shape plus the one-row lift agg)
    "nn8_mips_ann" -> 4,
    // nn9: the Lloyd rounds run eagerly behind localCheckpoint; the
    // captured plan is the final map-side assignment + its sort
    "nn9_kmeans_lloyd" -> 2,
    "p1_project" -> 1,
    "p2_array_slice" -> 1,
    "p3_mask_filter" -> 1,
    "p4_range_filter" -> 1,
    "p5_key_lookup" -> 1,
    "p6_entry_index" -> 0,
    "p7_category_filter" -> 2,
    "pipe1_clean_corpus" -> 4,
    // pipe2: content-hash dedup window + countDistinct two-phase split
    // agg + final sort; scoring/chunking are map-side
    "pipe2_training_chunks" -> 4,
    "r1_bernoulli_sample" -> 1,
    "r2_shuffle_epoch" -> 0,
    "r5_stratified_sample" -> 1,
    // r6: per-language hash-rank window + final sort
    "r6_fixed_stratified" -> 2,
    // r7: broadcast max + map-side weighted draw + presentation sort
    "r7_weighted_sample" -> 2,
    "s1_root_facade" -> 1,
    "s9_dpp_star" -> 2,
    "s9b_dpp_zorder_star" -> 2,
    "set1_union" -> 2,
    "set2_except" -> 2,
    "set3_intersect" -> 2,
    "set4_union_all" -> 2,
    "st1_window_agg" -> 2,
    "st1b_sliding_agg" -> 2,
    "st2_sessionize" -> 2,
    "st2b_session_window" -> 2,
    "st3_interval_join" -> 1,
    "st3b_interval_join_custom" -> 3,
    "st3c_interval_join_outer" -> 3,
    "t11_lut_color" -> 1,
    "t12_cast" -> 1,
    "t13_date_arith" -> 1,
    "t14_null_fill" -> 2,
    "t2_reshape3" -> 1,
    "t4_pivot" -> 3,
    // j10: dim groupBy + BOTH sides of the salted shuffled join (the
    // shuffle_hash hint makes the shuffle explicit — the whole point) +
    // post-join groupBy + final sort
    "j10_skew_salted" -> 5,
    "t4b_unpivot" -> 3,
    "t4c_coo_scatter" -> 2,
    "t5_elementwise" -> 1,
    "t6_clip" -> 1,
    "t7_vector_norm" -> 1,
    "tpch_q1" -> 2,
    "tpch_q10_shape" -> 1,
    // q11: the fact-table groupBy runs eagerly inside the checkpoint;
    // counted are the threshold's single-row agg + the final sort
    "tpch_q11_shape" -> 2,
    "tpch_q12_shape" -> 2,
    "tpch_q13" -> 3,
    "tpch_q14_shape" -> 1,
    "tpch_q15_shape" -> 4,
    "tpch_q16_shape" -> 3,
    "tpch_q17" -> 4,
    "tpch_q18" -> 3,
    "tpch_q19_shape" -> 1,
    "tpch_q20_shape" -> 3,
    "tpch_q21_shape" -> 2,
    "tpch_q22_shape" -> 6,
    "tpch_q2_shape" -> 3,
    "tpch_q3" -> 1,
    "tpch_q4" -> 2,
    "tpch_q5" -> 2,
    "tpch_q6" -> 1,
    "tpch_q7_shape" -> 2,
    "tpch_q8_shape" -> 2,
    "tpch_q9_shape" -> 2,
    "v1_voxelize" -> 2,
    "v2_voxel_labels" -> 3,
    "v3_threshold" -> 1,
    "v4_triplet_join" -> 2,
    "v5_keypoint_score" -> 2,
    "v5b_keypoint_gauss" -> 2,
    "v6_sce_lut" -> 1,
    // v7: CC rounds run eagerly (localCheckpoint); captured plan is the
    // label join + instance agg + sort
    "v7_voxel_instances" -> 4,
    // v8: fixture build (distinct + groupBy event), the event-index
    // distinct + single-partition row_number, aggregateInstances'
    // groupBys and join, final sort — shared subtrees counted once per
    // consumer; components are found inside each event row, so no CC
    // rounds or checkpoint
    "v8_instance_cc" -> 13,
    "w2_topk" -> 0,
    "w3_ntile" -> 1,
    // w3b: histogram agg + its single-partition cut window (≤1024-row
    // input) + final sort; the binned base sits behind the checkpoint
    "w3b_ntile_hist" -> 3,
    "w4_argmax" -> 2,
    "w5_rank" -> 2,
    "w6_lag_delta" -> 2,
    "w7_percent_rank" -> 2,
    "w8_above_avg" -> 2,
    "w9_range_frame" -> 2,
    "w10_first_last" -> 2,
    // w11: one per-entity lead window + the presentation sort
    "w11_scd2_history" -> 2,
    "x10_repetition" -> 1,
    "x11_redact" -> 1,
    "x12_tfidf" -> 6,
    "x13_source_mixture" -> 4,
    "x14_budget_select" -> 2,
    "x15_ngram_topk" -> 1,
    "x16_heavy_hitters" -> 1,
    "x17_quality_buckets" -> 2,
    // x17b: (lang, bin) histogram agg + histogram-sized windows + final
    // sort — the windows run over ≤ langs×1024 rows, never the data
    "x17b_quality_buckets_hist" -> 3,
    // x18: lang-count agg, single-row total agg, per-lang rank window,
    // broadcast keep-table join, final range sort
    "x18_temperature_mixture" -> 5,
    // x18b: lang counts + single-row total + final sort; selection is a
    // map-side hash threshold — no rank window at all
    "x18b_temperature_threshold" -> 4,
    // x19: explode + slice are map-side; only the presentation sort
    "x19_chunk_windows" -> 1,
    "x1_token_count" -> 1,
    // x21: gram-count agg + per-doc agg downstream of the gram join +
    // final sort
    "x21_dup_ngram_frac" -> 3,
    // x22: map-side regex counts + presentation sort
    "x22_readability" -> 1,
    // x20: LM-build groupBy + per-doc score agg + final sort
    "x20_bigram_familiarity" -> 3,
    "x1b_bpe_tokens" -> 1,
    "x2_quality_score" -> 1,
    "x3_langid" -> 1,
    "x4_fingerprint" -> 1,
    "x5_winnow_fingerprint" -> 1,
    "x6_string_funcs" -> 1,
    "x7_seq_packing" -> 2,
    "x8_split_assign" -> 2,
    "x9_decontaminate" -> 4,
    // x23: the LM-fit groupBy, total agg and per-doc score agg all run
    // EAGERLY inside localCheckpoint(true) during plan construction and
    // never appear in the counted plan (the w3b/x17b pattern); what
    // remains is the top-k verdict (TakeOrderedAndProject + broadcast,
    // exchange-free) over the checkpointed score table + the final sort
    // (round 11 measured 1 — tightened per this suite's contract)
    "x23_dsir_select" -> 1,
    // ivm1: delta partial agg + merge re-agg + presentation sort (the
    // base-store build is an eager write during construction), plus the
    // broadcast-scalar cut's single-partition exchange
    "ivm1_delta_agg" -> 4,
    // ivm2: one-pass changelog derivation (when-chain, not a 3-branch
    // union) + merge re-agg + sort + the cut's single-partition exchange
    "ivm2_cdc_agg" -> 3,
    // ivm2b: full-view CDC refresh with min/max — count/sum retraction
    // agg + the changelog value-summary agg + the extremum-gate agg +
    // the touched-group semi-joined recompute agg + the view-sized
    // merge joins + final sort; every side is changelog- or view-sized
    // except the semi-gated recompute (touched groups' rows only)
    "ivm2b_cdc_minmax" -> 9,
    // ivm3: ONE exchange — the presentation sort over the substituted
    // view scan. This budget deliberately pins that MvRewriteRule
    // ENGAGED (the unrewritten aggregate would count 2); a silent
    // regression to the base-scan plan fails here
    "ivm3_mv_rewrite" -> 1,
    // ivm3b: the global rollup over the view — ONE exchange (the
    // re-aggregation's single-partition collect); pins the rollup
    // rewrite engaged (the fact-scan plan would shuffle the fan-out too)
    "ivm3b_mv_rollup" -> 1,
    // ivm3c: group-key filter pushed onto the substituted view scan —
    // still ONE exchange (the presentation sort); the filter is map-side
    "ivm3c_mv_key_filter" -> 1,
    // ivm3d: IN-list group-key read answered from the lineitem view —
    // ONE exchange (the presentation sort); the IN is map-side on the
    // substituted view scan (pins multi-view routing engaged)
    "ivm3d_mv_inlist" -> 1,
    // ivm3e: key-functional regroup — the band re-aggregation's hash
    // exchange + the presentation sort; both view-sized (pins the
    // regroup rewrite engaged — the fact-scan plan would also shuffle
    // the full base fan-out)
    "ivm3e_mv_regroup" -> 2,
    // ivm3f: count(DISTINCT key) + plain partials over the view — ONE
    // exchange (the global re-aggregation's single-partition collect);
    // pins the distinct-count rewrite engaged (the fact-scan plan
    // carries the two-phase distinct expansion and shuffles the base)
    "ivm3f_mv_count_distinct" -> 1,
    // ivm5: the declared lineitem view's full CDC refresh — ivm2b's
    // retraction algebra (count/sum retraction agg + changelog value
    // summary + extremum gate + touched-group semi-joined recompute +
    // view-sized merge joins + final sort) instantiated from the
    // ViewSpec; every side changelog- or view-sized except the
    // semi-gated recompute
    "ivm5_declared_view" -> 9,
    // ivm6: the two-source-extrema view's full CDC refresh — the same
    // ivm5/ivm2b retraction skeleton (the per-source removed/added pairs
    // ride the SAME changelog aggregations, adding columns not
    // exchanges); every side changelog- or view-sized except the
    // semi-gated recompute
    "ivm6_multi_ext" -> 9,
    // ivm7: events insert-only refresh — ivm1's shape on the events
    // vocabulary: delta partial agg + merge re-agg + presentation sort +
    // the broadcast-scalar cut's single-partition exchange
    "ivm7_events_view" -> 4,
    // ivm4: delta-join partial agg (dim broadcast, no dim shuffle) +
    // merge re-agg + sort + the cut's single-partition exchange
    "ivm4_join_view" -> 4,
    // ivm3g: the avg read through the MV rewrite — one presentation
    // sort over the view store (the division is a projection)
    "ivm3g_mv_avg" -> 1,
    // ivm8: the distinct-count view's CDC refresh — the ivm2 retraction
    // skeleton (changelog agg + view merge + sort + cut exchange) PLUS
    // the pair-store lane: pair-grain retraction agg, the per-group
    // pair count, and its view-key join — every side changelog-, pair-,
    // or view-sized, never fact-sized
    "ivm8_distinct_view" -> 7,
    // ivm8c: the sketched distinct (insert-only): core merge + sketch
    // union fold + estimate join, plus the exact-twin verification agg
    // (count_distinct's two-phase expansion) and the final sort; the
    // production read is the view alone — the exact twin exists only
    // for the bounded oracle
    "ivm8c_sketched_distinct" -> 9,
    // ivm8b: the distinct-count READ through the MV rewrite — one
    // presentation sort over the view store (the fact-scan plan would
    // carry the two-phase count-distinct expansion over lineitem)
    "ivm8b_mv_distinct" -> 1)

  private val exempt = Set("dd9_incremental_dedup")

  test("no query's plan exceeds its recorded shuffle-exchange budget") {
    val over = SparkEntry.all.filterNot(q => exempt(q.name)).flatMap { q =>
      val shuffles = graft.tools.Probe.shuffleExchanges(q.fn(spark, sf))
      val budget = budgets.getOrElse(q.name, 0)
      if (shuffles > budget) Some(s"${q.name}: $shuffles > $budget") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded:\n${over.mkString("\n")}")
  }
}
