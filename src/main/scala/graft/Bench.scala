package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SQLExecutionUIData
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main: times every inventory query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line on stdout (driver contract), ALSO writing it to a
  * file (`SPARK_GRAFT_BENCH_OUT`, default `bench_out.json`) — rounds 7-9
  * proved the driver's stdout capture truncates fat lines mid-JSON, which
  * cost each of those rounds its parseable bench artifact. The line itself
  * leads with the session-level fields (floor, regressions, total) so even
  * a truncated capture keeps the gate's evidence.
  *
  * Each query runs `Runs` times inside one JVM and reports the per-query
  * MEDIAN (spread = max-min feeds the regression stability check but is
  * not printed): single-run numbers on a 32-thread local JVM swing 3-6×
  * with JIT/GC timing, which makes regressions indistinguishable from
  * noise.
  *
  * Queries backed by a per-JVM materialized table (ANN signature buckets,
  * the IVF cell store, the MinHash/SimHash stores) are ingest-time work by
  * design — the warm-up region builds those stores explicitly so every
  * timed run measures steady-state serving. Without this, the one store
  * build lands in run 1 of a 3-run median and flips it (round 4 recorded
  * n2 = 6.0 s whose true steady state was 0.19 s).
  */
object Bench {
  private val Runs = 3

  /** Recorded intake drain rate (docs/sec) at sf0.1, local[32] — the
    * streaming-path analogue of [[BaselineMedians]]: 2000 documents
    * through the composed curate→dedup→pack+index step in 6
    * micro-batches with a mid-drain compact (so half the drain runs the
    * bucketed-store probe path). RE-RECORDED round 14 as the MEDIAN of
    * three sessions (56.9 / 59.2 / 51.9 — r13's value was the BEST of
    * its three, which made an in-spread reading look like a 35% drop;
    * r13 verdict #1), all three AFTER the committedNames listing fix,
    * which legitimately raised the drain's steady state from the
    * 28-45 range (the old recursive listings were per-step overhead).
    * The gate below re-drains once in isolation when a session reads
    * under HALF this value and flags a regression only if the re-drain
    * is low too — "low once" is machine noise, adjudicated in-artifact.
    *
    * RE-RECORDED round 17 (r16 verdict #5): 56.9 → 38.3 = the MEDIAN
    * of three post-r16 calm sessions (47.97, 38.28, 37.65), after four
    * consecutive below-recording readings. Causal honesty: r16's
    * fold-atomic additive `_termdf`/`_stats` layer added real per-batch
    * drain work and plausibly contributes, but the round's final calm
    * session then read 57.4 — above even the OLD recording — so the
    * dominant fact is a wide session spread (observed 23.8–57.4), not
    * a one-way code slowdown. The median recording is the conservative
    * center: the half-recording re-drain guard (19.2) stays meaningful
    * in slow sessions without re-drain churn, and readings above the
    * recording never fire. PLANS.md carries the full adjudication.
    */
  private val IntakeRateRecorded = 38.3

  /** Recorded intake-drain SCAN totals (sf0.1) — the deterministic
    * drain metric (r17 verdict #5): the wall rate above has an honest
    * 2.4× session spread, so under a 2× gate it can neither fire nor
    * reassure; these are row COUNTS from the drain's executed plans
    * (store-side emitted rows across every probe/fold read, and
    * documents-source rows), captured through the straggler-hardened
    * listener — a VM wave cannot move them, a probe-pruning regression
    * multiplies them. Gated raw-2× + >1000 rows ([[growthCountOver]]),
    * no floor, no retry; the wall rate stays in the artifact as color
    * with its half-recording re-drain adjudication as supporting
    * evidence. Recorded round 18 from a calm sf0.1 session (counts are
    * deterministic — one session defines them; re-recorded only when
    * the drain's code shape changes). Determinism verified at record
    * time: two independent r18 sf0.1 sessions read bit-identical
    * totals (6958 / 74152 / 0.28 MB) while their wall rates differed.
    */
  private val IntakeRowsStoreRecorded = 6958.0
  private val IntakeRowsSrcRecorded = 74152.0

  /** x37's phase-split recordings `(median, recording floor)` — r14
    * verdict #3: the combined 15.4 s entry times two workloads (store
    * build: seed steps + compact; probe: pruned+broadcast store probes
    * + the fate CASE), and only the PROBE carries a scale claim, so a
    * probe regression must not hide inside build-phase noise. Recorded
    * round 15 from an isolated 3-sample session at floor 0.064
    * (combined 14.31 — consistent with the r14 combined recording
    * 15.42); the combined [[BaselineMedians]] entry is unchanged and
    * still gates the total. The probe side gets its own floor-scaled
    * 2× gate below (same materiality bound as query entries).
    */
  private val X37BuildRecorded = (9.150, 0.064)
  private val X37ProbeRecorded = (5.164, 0.064)

  /** x45's phase-split recordings `(median, recording floor)` — r15
    * verdict #1, the x37 move applied to the MaxScore serve: the
    * combined entry times LiveIndex seed (two steps) + compact + the
    * pruned serve as one median by design (the store lifecycle IS the
    * operator), but the scale claim lives in the SERVE, so a serve
    * regression must not hide inside build-phase noise. Recorded round
    * 16 from an isolated 3-sample session (floor in the tuples); the
    * combined [[BaselineMedians]] entry still gates the total, and the
    * serve side gets its own floor-scaled 2× gate below. Recorded round
    * 16 from an isolated 3-sample session at floor 0.076 (combined
    * 6.524 — consistent with the r15 combined recording 5.918 at the
    * 1.21× floor ratio).
    */
  private val X45BuildRecorded = (5.582, 0.076)
  private val X45ServeRecorded = (0.942, 0.076)

  /** Load-bearing growth-curve recordings `(value, recording floor)` —
    * r16 verdict #3: the store-growth curves (probe/term wall time,
    * MaxScore scan rows) ARE the 100 TB scale evidence, but until round
    * 17 they had only presence asserts — a real regression (a store
    * scan landing unpruned, MaxScore degrading to full scoring) would
    * never fire anything. Recorded from the round-17 0.049-floor calm
    * isolated session. The same session ADJUDICATED the r16
    * `term_sec_at_64x` outlier (5.235 in the r16 driver session): the
    * calm read is 1.02 — consistent with the prior session's 1.244 —
    * so 5.235 is wave-attributed, and the gate below would have caught
    * a real one.
    *
    * Gate shape: floor-scaled 2× with >1 s materiality for wall-time
    * fields, exactly the x37/x45 phase-split gate — PLUS an in-place
    * retry: the grown stores exist only inside the growth block (no
    * post-suite isolated re-run is possible, unlike query medians), so
    * an over-threshold reading re-measures ONCE immediately and fires
    * only if the retry is also over (the j1/a6 isolated-adjudication
    * discipline, applied at the only moment the store still exists).
    * `maxscore_rows` is a deterministic row COUNT, not wall time: no
    * floor scaling, no retry — materiality is >1000 rows (a pruning
    * regression multiplies rows by the store factor, never adds 3).
    */
  private val GrowthRecordings: Map[String, (Double, Double)] = Map(
    "probe_sec_at_1x" -> ((5.581, 0.049)),
    "probe_sec_at_4x" -> ((3.183, 0.049)),
    "probe_sec_at_16x" -> ((3.266, 0.049)),
    "probe_sec_at_64x" -> ((2.811, 0.049)),
    "term_sec_at_1x" -> ((1.140, 0.049)),
    "term_sec_at_4x" -> ((0.550, 0.049)),
    "term_sec_at_16x" -> ((0.761, 0.049)),
    "term_sec_at_64x" -> ((1.020, 0.049)),
    "term_rare_sec_at_1x" -> ((2.119, 0.049)),
    "term_rare_sec_at_4x" -> ((0.900, 0.049)),
    "term_rare_sec_at_16x" -> ((0.645, 0.049)),
    "term_rare_sec_at_64x" -> ((0.622, 0.049)),
    "maxscore_rows_at_1x" -> ((4358.0, 0.049)),
    "maxscore_rows_at_4x" -> ((2376.0, 0.049)),
    "maxscore_rows_at_16x" -> ((2388.0, 0.049)),
    "maxscore_rows_at_64x" -> ((2439.0, 0.049)))

  /** Growth-gate fire predicates, extracted pure so the conditions are
    * spec-testable without a bench session (BenchGateSpec pins that the
    * r16 driver's term_sec_at_64x outlier FIRES against the calm
    * recording while the calm historical readings do not — the
    * sensitivity demonstration for a gate whose fixture, the grown
    * store, exists only mid-bench). Wall-time fields: the x37/x45
    * floor-scaled 2× + >1 s materiality. Deterministic scan-row
    * counts: raw 2× + >1000 rows, no floor (a VM wave cannot move a
    * row count; a pruning regression multiplies it).
    */
  private[graft] def growthTimeOver(v: Double, rec: Double, recFloor: Double,
      sessionFloor: Double): Boolean =
    v >= 0 && v > 2 * rec * math.max(1.0, sessionFloor / recFloor) && v - rec > 1.0

  private[graft] def growthCountOver(v: Double, rec: Double): Boolean =
    v >= 0 && v > 2 * rec && v - rec > 1000.0

  /** Recorded per-query `(median, recording floor)` (sf0.1, local[32],
    * 3-run interleaved medians under the noop-sink timed action) — the
    * regression baseline. The second element is the calibration floor
    * of the SESSION THAT RECORDED the median: per-job scheduling
    * overhead on this VM drifts severalfold between sessions
    * (0.005-0.17 s for identical code), and most sub-second medians
    * are ≈ jobs × floor, so a raw cross-session comparison measures
    * the VM, not the plan. The gate below scales each entry's
    * threshold by sessionFloor / recordingFloor.
    *
    * [[main]] asserts this keyset equals SparkEntry.queries' keyset so
    * coverage can't drift (the round-4..7 blind spot: queries missing
    * here were silently exempt).
    */
  private val BaselineMedians: Map[String, (Double, Double)] = {
    // RE-RECORDED round 12, all entries from ONE full-suite session at
    // sf0.1 (interleaved 3-run medians, session floor 0.063) after the
    // timed action changed from count() to the noop v2 sink: under a
    // count the optimizer pruned deterministic projections, aggregate
    // expressions, and final sorts, so map-side expression cost and
    // output materialization were invisible to every earlier recording
    // (suite total 62 s under count() vs 102 s under noop — the
    // difference IS the previously-unmeasured work, concentrated in
    // queries with heavy output columns or exact-decimal aggregate
    // ladders: d10 0.18→3.15, a10 0.26→2.32, a5 0.35→1.25). The
    // layered per-round recording history before this point lived in
    // git; one flat map re-baselines the whole inventory under the
    // honest action.
    val r12Floor = 0.063
    Map(
      "a10_moments" -> 2.324, "a11_filter_clause" -> 0.762,
      "a12_percentiles" -> 0.452, "a13_cms_freq" -> 0.832,
      "a14_hll_distinct" -> 0.693, "a15_histogram" -> 0.365,
      "a16_regression" -> 0.691, "a1_pricing_summary" -> 0.864,
      "a2_last_by_key" -> 0.497, "a3_distinct_agg" -> 0.771,
      "a4_rollup" -> 0.462, "a5_cube" -> 1.246,
      "a6_median" -> 0.332, "a7_approx_sketch" -> 1.116,
      "a8_grouping_sets" -> 0.596, "a9_pivot" -> 0.642,
      "d10_substring_dedup" -> 3.146, "d11_semantic_dedup" -> 0.514,
      "d12_line_dedup" -> 1.491, "d13_incremental_dedup" -> 0.829,
      "d14_fuzzy_dedup" -> 0.660, "d15_containment" -> 2.725,
      "d16_dedup_recall" -> 1.799, "d1_exact_dedup" -> 0.274,
      "d2_minhash_lsh" -> 0.686, "d3_ngram_jaccard" -> 0.782,
      "d4_simhash" -> 0.100, "d5_embedding_neardup" -> 1.113,
      "d6_simhash_pairs" -> 1.771, "d7_dedup_clusters" -> 1.549,
      "d8_contamination" -> 1.532, "d9_dedup_stats" -> 0.449,
      "f1_explode_tokens" -> 0.229, "f2_posexplode_zip" -> 0.289,
      "f3_inline_structs" -> 0.161, "f4_explode_outer" -> 0.145,
      "f5_unpivot" -> 0.245, "j10_shipping_priority" -> 0.710,
      "j11_local_supplier_volume" -> 0.817, "j12_returned_items" -> 0.688,
      "j13_market_share" -> 1.244, "j14_volume_shipping" -> 0.811,
      "j15_big_orders" -> 0.919, "j1_broadcast_join" -> 0.701,
      "j2_shuffle_join" -> 0.958, "j3_star_join" -> 0.697,
      "j4_left_outer" -> 0.474, "j5_semi_join" -> 0.312,
      "j6_anti_join" -> 0.286, "j7_range_join" -> 0.271,
      "j8_asof_join" -> 0.478, "j9_cross_join" -> 0.300,
      "m1_media_dedup" -> 0.485, "m2_frame_sample" -> 0.204,
      "n10_hybrid_rrf" -> 0.982, "n11_mmr" -> 0.271,
      "n12_range_search" -> 0.163, "n13_ann_recall" -> 0.664,
      "n14_ann_filtered" -> 0.077, "n15_ann_ivfpq" -> 0.343,
      "n1_ann_bruteforce" -> 0.361, "n2_ann_lsh" -> 0.064,
      "n3_topk_agg" -> 0.409, "n4_ann_ivf" -> 0.102,
      "n5_quantized_dot" -> 0.290, "n6_ann_kmeans" -> 0.079,
      "n7_ann_pq" -> 0.285, "n8_ann_multiprobe" -> 0.055,
      "n9_ann_batch" -> 1.161, "o1_serving_filter_limit" -> 0.151,
      "o2_topk" -> 0.150, "o3_offset" -> 0.120,
      "o4_zorder" -> 0.428, "o5_keyset_pagination" -> 0.135,
      "o6_global_rank" -> 0.896, "p1_appid_memo_filter" -> 0.208,
      "q2_point_lookup" -> 0.315, "q3_subqueries" -> 0.861,
      "q4_correlated" -> 0.515, "q5_lateral" -> 1.134,
      "q6_recursive_cte" -> 0.809, "q7_pipe_syntax" -> 0.341,
      "t10_translate_munge" -> 0.161, "t11_string_suite" -> 0.279,
      "t12_math_suite" -> 0.309, "t13_conditional_suite" -> 0.280,
      "t14_array_suite" -> 0.293, "t15_hash_suite" -> 0.150,
      "t16_datetime_suite" -> 0.232, "t17_json_suite" -> 0.204,
      "t18_higher_order_suite" -> 0.238, "t19_map_suite" -> 0.231,
      "t20_bitwise_suite" -> 0.164, "t21_variant_suite" -> 0.194,
      "t22_sql_udf" -> 0.251, "t5_epoch_roundtrip" -> 0.172,
      "t8_hex_sequence" -> 0.163, "t9_json_extract" -> 0.157,
      "u1_union_discriminated" -> 0.378, "u2_intersect" -> 0.436,
      "u3_except" -> 0.356, "u4_merge_upsert" -> 0.704,
      "u5_table_diff" -> 0.649, "w10_retention_cohorts" -> 0.668,
      "w11_scd2_intervals" -> 0.696, "w12_gap_fill" -> 0.903,
      "w13_event_transitions" -> 0.570, "w14_anomaly_zscore" -> 1.122,
      "w1_row_number" -> 0.346, "w2_lag_delta" -> 0.415,
      "w3_running_sum" -> 0.510, "w4_sessionize" -> 0.692,
      "w5_tumbling_window" -> 0.390, "w6_ranking_suite" -> 1.045,
      "w7_session_window_native" -> 0.803, "w8_range_interval" -> 0.646,
      "w9_funnel" -> 0.322, "x10_unigram_lm" -> 0.881,
      "x11_pipeline" -> 0.829, "x12_pii_scrub" -> 0.820,
      "x13_k_anonymity" -> 0.978, "x14_bm25" -> 0.658,
      "x15_domain_mix" -> 0.548, "x16_quality_rules" -> 0.366,
      "x17_bigram_lm" -> 1.519, "x18_textrank" -> 1.336,
      "x19_vocab_stats" -> 0.290, "x1_langid" -> 0.601,
      "x20_bpe_train" -> 0.148, "x21_bpe_encode" -> 0.437,
      "x22_temperature_mix" -> 0.661, "x23_ccnet_buckets" -> 1.652,
      "x24_nb_classifier" -> 0.878, "x25_dsir_selection" -> 2.454,
      "x26_inverted_index" -> 1.638, "x27_pmi_collocations" -> 0.652,
      "x28_nfc_normalize" -> 0.181, "x29_chunk_overlap" -> 0.309,
      "x2_quality_score" -> 0.452, "x30_intake_audit" -> 2.200,
      "x31_intake_contract" -> 1.490, "x32_token_budget" -> 0.676,
      "x33_leakage_split" -> 1.899, "x34_l_diversity" -> 1.143,
      "x35_winnowing" -> 1.877, "x36_cdc_chunks" -> 1.207,
      "x3_token_count" -> 0.356, "x4_fingerprint" -> 0.343,
      "x5_rolling_hash" -> 0.190, "x6_hash_sampling" -> 0.157,
      "x7_tfidf" -> 1.096, "x8_sequence_pack" -> 0.302,
      "x9_repetition" -> 0.568
    ).view.mapValues((_, r12Floor)).toMap +
      // re-recorded after the d10 linear-window respelling (the
      // occurrence-stream self-join that ran the gram pipeline twice
      // became one pre-aggregate + gh window): 3.146 -> 1.917, from a
      // 0.068-floor isolated session
      ("d10_substring_dedup" -> ((1.917, 0.068))) +
      // re-recorded round 13 after the bucketed-store probe respell
      // (the per-batch priorIds groupBy became a plain left join —
      // x30's store side is no longer aggregated per batch; x31 probes
      // empty stores and reads flat): 2.947/2.137 -> 2.719/2.138, from
      // a 0.052-floor isolated session (first of three sessions read
      // 4.10/3.31 at floor 0.076 — VM stall pattern, not reproduced at
      // 0.094 or 0.052)
      ("x30_intake_audit" -> ((2.719, 0.052))) +
      ("x31_intake_contract" -> ((2.138, 0.052))) +
      // NEW round 13: the bucketed-store probe path under the oracle
      // gate — the timed work includes the real store build plus the
      // pruned+broadcast probe, by design: the store build IS the
      // operator. RE-RECORDED round 14 (5.503 -> 14.620, 0.085-floor
      // isolated session) after the seeding became honest: r13's lone
      // seed batch never refolded, so the old recording covered a
      // flat store with NO fold at all; the query now pays two seed
      // steps and three bucketed refolds (distinct + 64-way re-layout
      // per store) before the probe — the full store lifecycle the
      // oracle now hash-verifies. Re-recorded again after the sorted-
      // fold + In(key)-pushdown layer (14.620 -> 15.422, 0.062-floor
      // isolated session): the in-bucket sorts and the per-probe key
      // collects are the delta, paid for row-group pruning at scale.
      ("x37_intake_bucketed" -> ((15.422, 0.062))) +
      // NEW round 13: o6's quantile-boundary skew variant under the
      // same global-ranking oracle. Re-recorded after the boundary
      // determinism fix (approx_percentile collected once to driver
      // literals instead of a broadcast subtree evaluated per arm —
      // the extra blocking job costs ~0.2 s and buys rank correctness
      // independent of exchange reuse): 0.990 -> 1.240 from the same
      // 0.065-floor session.
      ("o7_global_rank_skew" -> ((1.240, 0.065))) +
      // NEW round 13: t-closeness (exact-rational TVD, x34's agg+join
      // shape); recorded from a 0.067-floor isolated session
      ("x38_t_closeness" -> ((1.676, 0.067))) +
      // NEW round 13 (late adds), recorded from one 0.048-floor isolated
      // session: x39 Hamilton stratified sample (strata agg + one keyed
      // window), m3 hex-cell byte histogram + entropy re-agg. a17
      // RE-RECORDED from the calm 0.053-floor full-suite session: its
      // isolated recording (0.772) read ~40% below every in-suite
      // median (1.06-1.10 across three calm sessions) — the composite-
      // key distinct's corpus-wide exchange is contention-sensitive, so
      // the in-suite number is the honest steady state
      ("a17_quality_checks" -> ((1.062, 0.053))) +
      // x39 RE-RECORDED round 14 (0.618 -> 1.119, 0.063-floor isolated
      // session) after its skew guard landed (stratumRanked's
      // max-stratum-share agg is one extra blocking job over the
      // quota-joined corpus — the same o6->o7 trade x41 paid)
      ("x39_stratified_sample" -> ((1.119, 0.063))) +
      ("m3_byte_entropy" -> ((0.669, 0.048))) +
      // x40 seeded-Laplace DP count release: one combinable agg + pure
      // map noise; recorded from a 0.049-floor isolated session
      ("x40_dp_release" -> ((0.288, 0.049))) +
      // n16 per-dim z-scoring (posexplode + DIM-row broadcast + keyed
      // re-agg) and x41 preference pairs (one source-keyed exchange,
      // two window sorts, (source, idx)-keyed self-join), recorded
      // from one 0.066-floor isolated session
      ("n16_embedding_standardize" -> ((1.003, 0.066))) +
      // x41 RE-RECORDED round 14 (0.556 -> 0.757, 0.085-floor isolated
      // session) after the skew guard landed: the max-source-share
      // planning agg is one extra blocking job (~0.2 s), the same
      // trade o6->o7 documented — paid so a dominant source routes
      // through the keyed quantile two-pass instead of a single-task
      // window sort
      ("x41_preference_pairs" -> ((0.757, 0.085))) +
      // w15 rolling median/MAD (one user-keyed window, 7-double frames,
      // index arithmetic only); recorded from a 0.056-floor isolated session
      ("w15_rolling_median" -> ((0.845, 0.056))) +
      // x42 DP sum/mean release (per-user clamp groupBy — the one
      // corpus-sized exchange — + group re-agg + pure map noise);
      // RE-RECORDED round 18 (0.820 -> 0.998, 0.071-floor isolated
      // session) after the dense-grid respell: the grid × vocabulary
      // broadcast join over zero cells is real added work, the r17
      // x40 precedent
      ("x42_dp_sum_release" -> ((0.998, 0.071))) +
      // x43 exponential-mechanism argmax release (the same
      // one-corpus-exchange shape as x40 plus a grid-sized row_number
      // window); RE-RECORDED round 18 (0.384 -> 0.589, 0.071-floor
      // isolated session) after the dense-day-grid respell (64
      // day-winners instead of observed days)
      ("x43_dp_argmax_release" -> ((0.589, 0.071))) +
      // NEW round 15: x44 exponential-mechanism median release (one
      // corpus (event_type, bin) exchange + group-sized candidate
      // windows); recorded from a 0.068-floor isolated session
      ("x44_dp_median_release" -> ((0.537, 0.068))) +
      // NEW round 15: x45 store-backed MaxScore BM25 serve — the timed
      // work includes the LiveIndex seed (two steps) + compact + the
      // pruned serve, by design (the store lifecycle IS the operator,
      // the x37 posture); recorded from a 0.058-floor isolated session
      // AFTER the fold-side additive-stats layer landed
      ("x45_bm25_maxscore" -> ((5.918, 0.058))) +
      // NEW round 16: x46 DP budget ledger (one corpus distinct-day
      // exchange + a ledger-sized cumulative window); recorded from the
      // round's 0.076-floor isolated session
      ("x46_dp_budget" -> ((0.512, 0.076))) +
      // NEW round 16: x47 tree-mechanism continual release (one corpus
      // day groupBy + public-window-sized node/decomposition joins);
      // recorded round 17 from a 0.049-floor isolated 3-run session
      // (r16 advice: the 9.999 placeholder shipped, gating nothing)
      ("x47_dp_continual" -> ((0.591, 0.049))) +
      // NEW round 17: x48 two-window rollover under the ledger (same
      // plan shape as x47 × 2 windows + the nWindows-row stitch);
      // recorded from the same 0.049-floor isolated session as x47
      ("x48_dp_rollover" -> ((0.724, 0.049))) +
      // NEW round 17: x49 user-level DP count (user-keyed distinct +
      // per-user row_number cap window + cell-keyed combinable count +
      // public-grid broadcasts); recorded from a 0.054-floor isolated
      // 3-run session
      ("x49_dp_user_count" -> ((0.709, 0.054))) +
      // NEW round 17: x50 Gaussian/zCDP count release (the x40 plan
      // shape — one combinable corpus agg + pure map Box–Muller noise);
      // recorded from a 0.066-floor isolated 3-run session
      ("x50_dp_gaussian" -> ((0.626, 0.066))) +
      // NEW round 17: x51 SVT AboveThreshold (one combinable day
      // groupBy + public-grid broadcast + a 64-row halting window);
      // recorded from a 0.076-floor isolated 3-run session
      ("x51_dp_above_threshold" -> ((0.510, 0.076))) +
      // NEW round 18: x52 user-level DP sum/mean (the x49 plan shape —
      // user-cell groupBy + per-user cap window + cell re-agg + grid
      // broadcasts — with x42's decimal clamp in the first exchange);
      // recorded from a 0.071-floor isolated 3-run session
      ("x52_dp_user_sum" -> ((1.121, 0.071))) +
      // NEW round 18: x53 numeric-sparse SVT, c = 2 (one corpus day
      // groupBy materialized to 64 local cells + two chained episode
      // frames — more tiny jobs than x51, same corpus cost); recorded
      // from a 0.065-floor isolated 3-run session of the materialized
      // spelling
      ("x53_dp_sparse" -> ((0.822, 0.065))) +
      // NEW round 18: x54 stability histogram (one combinable window
      // groupBy + pure-map noise/threshold/clamp — strictly simpler
      // than x40, no grid join); recorded from a 0.059-floor isolated
      // 3-run session
      ("x54_dp_stable_histogram" -> ((0.355, 0.059))) +
      // NEW round 18: x55 user-level stability histogram (the x49 plan
      // shape — user-cell distinct + per-user cap window + cell count —
      // with x54's pure-map threshold, no grid side); recorded from a
      // 0.072-floor isolated 3-run session (a first 0.13-floor noisy
      // session read 1.006 and was discarded for the calmer re-run)
      ("x55_dp_user_histogram" -> ((0.704, 0.072))) +
      // NEW round 19: x56 subsampled count release (the x40 plan with a
      // pure-map Bernoulli filter ahead of the one combinable groupBy,
      // plus the full-corpus vocabulary distinct); recorded from a
      // 0.079-floor isolated 3-run session
      ("x56_dp_subsampled" -> ((1.046, 0.079))) +
      // NEW round 19: x57 unigram-LM train — reads the memoized
      // per-dataset model store; the first call pays training (one
      // corpus tokenize+count, two composition-join Viterbi passes over
      // the word vocabulary), which lands in the same-session x58 or
      // the warmup, exactly like x20's store. Recorded from a
      // 0.079-floor isolated 3-run session
      ("x57_unigram_train" -> ((0.422, 0.079))) +
      // NEW round 19: x58 unigram-LM encode — broadcast (word →
      // n_pieces) into the exploded corpus + one combinable per-doc
      // count (the x21 shape); recorded from a 0.079-floor isolated
      // 3-run session
      ("x58_unigram_encode" -> ((0.576, 0.079))) +
      // NEW round 19: x59 unigram prune — reads the pruned-model store
      // (the third table the training memo writes); same serve shape as
      // x57. Recorded from a 0.078-floor isolated 3-run session
      ("x59_unigram_prune" -> ((0.802, 0.078))) +
      // NEW round 19 (continuation): x60 subsampled GAUSSIAN release —
      // x56's plan with the Box–Muller tail (two md5 uniforms instead
      // of one); recorded from a 0.065-floor isolated 3-run session
      ("x60_dp_subsampled_gaussian" -> ((0.455, 0.065))) +
      // NEW round 19 (continuation): x61 RDP accountant readout — pure
      // driver math (63-row LocalRelation, zero corpus scans; the
      // ScaleSpec pin), so the entry is floor-scale by construction.
      // RE-RECORDED same round from a 0.099-floor isolated 3-run
      // session after the first (0.222 @ 0.112) loaded-afternoon
      // recording read 2.5x the calm full-suite value — the re-record
      // discipline follows the measurement in either direction
      ("x61_rdp_account" -> ((0.142, 0.099))) +
      // NEW round 19 (continuation): x62 local-DP randomized response —
      // a pure-map per-record coin, one combinable <= k-key groupBy, a
      // broadcast k-row vocabulary join, and the estimator as a map
      // (plus the corpus vocab distinct at plan build, the x56 shape).
      // Recorded from a 0.066-floor isolated 3-run session
      ("x62_local_rr_freq" -> ((0.958, 0.066))) +
      // NEW round 19 (continuation): x63 range-tree release — one
      // combinable day groupBy (the x47 corpus exchange), 127-node
      // noisy tree + 349-row public cover frame as broadcasts.
      // Recorded from a 0.062-floor isolated 3-run session
      ("x63_dp_range_tree" -> ((0.669, 0.062))) +
      // NEW round 19 (continuation): x64 quantile release — x44's plan
      // (one combinable (type, bin) groupBy; candidate-frame windows)
      // crossed with the 4-row public quantile frame plus the tiny
      // monotonize self-join. Recorded from a 0.058-floor isolated
      // 3-run session
      ("x64_dp_quantiles" -> ((0.907, 0.058))) +
      // RE-RECORDED round 19 after the over2x_isolated gate fired in
      // the round's final full session (0.135 in-suite, 0.122 in the
      // in-session isolated retry, vs the r12-era 0.055): the wave
      // protocol's TWO independent isolated calm sessions read 0.178
      // (floor 0.083) and 0.188 (floor 0.087) — persistent, not a
      // spike, on source untouched since round 13, so the r12
      // recording is stale for the current environment (sub-0.2 s
      // micro-query; the adjudication entry is in PLANS.md)
      ("n8_ann_multiprobe" -> ((0.188, 0.087))) ++
      // RE-RECORDED round 16 (r15 verdict #5): the 25 r15-era
      // `light_trimmed` keys, from one 0.076-floor isolated 3-run
      // session with SPARK_GRAFT_NO_TRIM=1 (full medians, not the
      // trim's min-of-two) — their r12 recordings predated three rounds
      // of code; all read within floor scaling of the old values (the
      // "never moved" premise re-measured, worst t19 1.48× raw at a
      // 1.21× floor ratio). Keys whose refreshed median crosses the
      // 0.25 s trim cutoff self-evict from the trim set (it derives
      // from these entries), trading ~3 s of suite time for recordings
      // that match the shipped code.
      Map(
        "f1_explode_tokens" -> 0.324, "f3_inline_structs" -> 0.225,
        "f4_explode_outer" -> 0.202, "f5_unpivot" -> 0.313,
        "m2_frame_sample" -> 0.337, "o1_serving_filter_limit" -> 0.183,
        "o2_topk" -> 0.182, "o3_offset" -> 0.141,
        "o5_keyset_pagination" -> 0.176, "p1_appid_memo_filter" -> 0.305,
        "t10_translate_munge" -> 0.214, "t15_hash_suite" -> 0.221,
        "t16_datetime_suite" -> 0.334, "t17_json_suite" -> 0.233,
        "t18_higher_order_suite" -> 0.314, "t19_map_suite" -> 0.343,
        "t20_bitwise_suite" -> 0.212, "t21_variant_suite" -> 0.271,
        "t5_epoch_roundtrip" -> 0.253, "t8_hex_sequence" -> 0.223,
        "t9_json_extract" -> 0.230, "x20_bpe_train" -> 0.220,
        "x28_nfc_normalize" -> 0.243, "x5_rolling_hash" -> 0.216,
        "x6_hash_sampling" -> 0.225
      ).view.mapValues((_, 0.076)).toMap
  }

  /** Local cores of the harness mains' session (Bench, Verify, Profile, Explain). */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The harness mains' session: [[Engine.session]] on [[cpus]] local
    * cores, one shuffle partition per core.
    */
  def session(): SparkSession = {
    val spark = Engine.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up pass: JVM/JIT, codegen compiler, parquet footers, plus the
    * one-time materializations (ingest-time work at the design point) —
    * outside the timed region, so timed runs measure steady-state
    * serving and the first real query isn't charged for them.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    Tables.events(spark, sfDir).count()
    graft.operators.Dedup.ensureStores(spark, sfDir)
    graft.operators.Similarity.ensureStores(spark, sfDir)
    graft.operators.Ivf.ensureStores(spark, sfDir)
    graft.operators.Pq.ensureStores(spark, sfDir)
    // NOTE: with training warmed here, the timed x20_bpe_train entry
    // measures only a driver-local toDF over the memoized merge rules —
    // by design (training is ingest-time work; x21 still measures the
    // serving-path encode join). Read its median as memo overhead, not
    // training cost.
    graft.operators.Bpe.ensureTrained(spark, sfDir)
  }

  /** `SPARK_GRAFT_ONLY` (comma-separated names) limits a local run of
    * Bench or Verify to those queries; unset, both run the full
    * inventory, which the regression gate needs.
    */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").forall(_.split(",").contains(name))

  /** Every node of an executed plan: through AQE's wrapper into the
    * final adaptive plan (reused stages show only there), each query
    * stage and the plan under it, and every subquery.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** One root SQL execution as Spark's status store recorded it: wall
    * from submission to completion, and the jobs of the execution and of
    * every execution nested under it.
    */
  final case class Execution(id: Long, description: String, wallSec: Double, jobs: Int)

  /** What [[captureExecutions]] saw while its body ran: the body's
    * result, the QueryExecution of every action it ran (executed plans
    * with their metrics), and its root executions in submission order.
    */
  final case class Capture[A](result: A, plans: Seq[QueryExecution],
    executions: Seq[Execution])

  /** Runs `body` and captures every execution it runs. Plans come from
    * a QueryExecutionListener, jobs and walls from the session's SQL
    * status store (kept with the UI off). The listener is async on the
    * shared bus: before the body, three consecutive quiet 250 ms windows
    * must pass and everything that arrived is discarded (events from
    * executions that COMPLETED before registration can still be
    * delivered to it when the bus is backlogged); after the body, three
    * quiet windows again, with every execution submitted since the body
    * began completed in the status store, before reading (under load a
    * single quiet window can elapse while events are still queued,
    * silently undercounting). Time the body inside it: the waits sit
    * outside. Deadline-bounded: continuous activity on the shared
    * session must degrade the capture, never hang the caller — after
    * 30 s a wait proceeds with whatever arrived (calm sessions never hit
    * it).
    */
  def captureExecutions[A](spark: SparkSession)(body: => A): Capture[A] = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { qes.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val store = spark.sharedState.statusStore
    def submittedSince(ms: Long): Seq[SQLExecutionUIData] =
      store.executionsList().filter(_.submissionTime >= ms)
    def quiesce(since: Long): Unit = {
      var last: Any = None
      var quiet = 0
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (quiet < 3 && System.nanoTime() < deadline) {
        Thread.sleep(250)
        val execs = submittedSince(since)
        val now = (qes.size, execs.map(e => (e.executionId, e.completionTime, e.jobs.size)))
        if (now == last && execs.forall(_.completionTime.isDefined)) quiet += 1
        else { quiet = 0; last = now }
      }
    }
    spark.listenerManager.register(listener)
    try {
      quiesce(Long.MaxValue)
      qes.clear()
      val since = System.currentTimeMillis()
      val result = body
      quiesce(since)
      val execs = submittedSince(since)
      val roots = execs.filter(e => e.executionId == e.rootExecutionId)
        .sortBy(_.executionId).map { r =>
          val wall = r.completionTime.map(_.getTime - r.submissionTime).getOrElse(0L)
          Execution(r.executionId, r.description, wall / 1e3,
            execs.filter(_.rootExecutionId == r.executionId).map(_.jobs.size).sum)
        }
      import scala.jdk.CollectionConverters._
      Capture(result, qes.asScala.toSeq, roots)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `f` with AQE's empty-relation folding off, restoring the
    * session's prior exclusion list after. The fold replaces an
    * empty-result stage with an empty relation, deleting its
    * (already-executed) scan from the final plan, so a plan walk would
    * undercount: metrics executions run under this, timed runs keep
    * production behaviour. Restore, not unset: unset would clobber an
    * exclusion list a caller or config set.
    */
  private def keepingEmptyScans[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    try f finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def main(args: Array[String]): Unit = {
    // Baseline coverage must track the inventory exactly: a query missing
    // here is silently exempt from the regression gate (the round-4..7
    // blind spot), a stale extra key is a typo. Fail loudly either way.
    val missing = SparkEntry.queries.keySet -- BaselineMedians.keySet
    val stale = BaselineMedians.keySet -- SparkEntry.queries.keySet
    require(missing.isEmpty && stale.isEmpty,
      s"BaselineMedians drift — missing: $missing, stale: $stale")
    // README's headline query count is asserted like the keysets (r16
    // verdict #1: the count drifted to "168" while the inventory grew to
    // 169 — prose numbers need the same drift guard code constants get).
    // Skipped silently only when README.md is not in the cwd (a
    // non-repo-root launch); the driver and local runs both launch from
    // the repo root.
    val readme = new java.io.File("README.md")
    if (readme.exists()) {
      val text = new String(java.nio.file.Files.readAllBytes(readme.toPath), "UTF-8")
      """all (\d+) carry""".r.findFirstMatchIn(text).foreach { m =>
        require(m.group(1).toInt == SparkEntry.queries.size,
          s"README.md claims 'all ${m.group(1)}' gate queries but " +
            s"SparkEntry.queries has ${SparkEntry.queries.size} — update the README")
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Baseline-comparable sessions are EXACTLY the recorded config's
    // directory — an exact basename match, not a substring (`contains`
    // also fired for hypothetical sf0.15-style dirs, where comparing
    // against sf0.1 recordings would flag phantom regressions; r14
    // advice).
    val isBaselineSf = new java.io.File(sfDir).getName == "sf0.1"
    // phase timestamps on STDERR (the artifact line owns stdout): lets a
    // wall-clock-capped driver run attribute where the time went
    val tStart = System.nanoTime()
    def phase(tag: String): Unit =
      System.err.println(f"[bench] $tag at ${(System.nanoTime() - tStart) / 1e9}%.0f s")
    val spark = session()
    warmUp(spark, sfDir)
    phase("warmup done")
    // Streaming-path throughput artifact (the batch medians above never
    // time the continuous intake): drain the documents slice through the
    // COMPOSED live step (curate→dedup→pack + BM25 index maintenance) in
    // 6 micro-batches with a mid-drain compact, so the back half runs
    // the bucketed-store probe path a long-lived intake lives on. One
    // number, docs/sec over the whole drain (store commits included).
    // -1 on a throw (the errors discipline: a crash must never read as
    // a fast drain — and it feeds `errors` below).
    // Executed-plan scan metrics for the STORE side of a probe (r14
    // verdict #1): after an action has run on `df`, walk its (adaptive)
    // executed plan for parquet scans whose relation roots live under
    // `root` and sum numFiles / filesSize / numOutputRows. filesSize is
    // the bytes SELECTED after partition (bucket) pruning; numOutputRows
    // is what the reader actually emitted after row-group/page skipping
    // from the pushed `In(key)` filters — the two layers of the 100 TB
    // probe-I/O claim, now measured instead of pinned-only. (Defined
    // before drainIntake, which reuses it for the drain's scan totals.)
    def storeScanStats(plan: SparkPlan, root: String): (Double, Double, Double) = {
      val scans = planNodes(plan).collect { case f: FileSourceScanExec => f }
        .filter(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)))
      def m(name: String): Double =
        scans.flatMap(_.metrics.get(name).map(_.value)).sum.toDouble
      (m("numFiles"), m("filesSize"), m("numOutputRows"))
    }

    // Drain outcome: wall-clock rate (noisy — the honest session spread
    // is 23.8–57.4 docs/s, r17's adjudication) plus DETERMINISTIC scan
    // totals captured from every execution the drain ran (r17 verdict
    // #5 — the maxscore_rows treatment for the intake): `rowsStore` =
    // rows the drain's OWN stores (dedup fold, index postings, audit)
    // emitted across all probe/fold reads, `rowsSrc` = rows read from
    // the documents source, `mbStore` = store bytes selected after
    // pruning (color — bytes move with layout). Row counts cannot be
    // moved by a VM wave; a probe-pruning regression multiplies them —
    // so THESE carry the regression gate and the wall rate is color
    // (its half-recording re-drain adjudication stays as supporting
    // evidence).
    final case class DrainStats(rate: Double, rowsStore: Double,
      rowsSrc: Double, mbStore: Double)
    def drainIntake(): DrainStats = try {
      val root = java.nio.file.Files.createTempDirectory("graft-bench-intake").toString
      val cfg = graft.streaming.LivePipeline.Config(s"$root/pipe")
      val idx = graft.streaming.LiveIndex.Config(s"$root/idx")
      import org.apache.spark.sql.functions.col
      val slice = Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "text").filter(col("doc_id") % 10 < 4)
      val nDocs = slice.count().toDouble // outside the timed region
      val drain = captureExecutions(spark) {
        val t0 = System.nanoTime()
        for (i <- 0 until 6) {
          graft.streaming.LivePipeline.stepWithIndex(
            slice.filter(col("doc_id") % 6 === i), i.toLong, cfg, idx)
          if (i == 2) graft.streaming.LivePipeline.compact(spark, cfg)
        }
        nDocs / ((System.nanoTime() - t0) / 1e9)
      }
      val plans = drain.plans.map(_.executedPlan)
      val store = plans.map(p => storeScanStats(p, root))
      val src = plans.map(p => storeScanStats(p, sfDir))
      DrainStats(drain.result, store.map(_._3).sum, src.map(_._3).sum,
        store.map(_._2).sum / 1e6)
    } catch { case _: Throwable => DrainStats(-1.0, -1.0, -1.0, -1.0) }
    // r14 verdict #2 (intake-drain adjudication experiment): when
    // SPARK_GRAFT_INTAKE_FRESH=1, drain ONCE on this fresh post-warmup
    // JVM — before any timed pass has aged the session — so one bench
    // run yields the paired fresh-vs-post-suite comparison that decides
    // whether the recorded rate reflects a fresh JVM the in-suite drain
    // can never see. -2.0 = hook not enabled (the default; the driver's
    // artifact is unchanged unless the experiment is being run).
    val intakeFresh: Double =
      if (sys.env.get("SPARK_GRAFT_INTAKE_FRESH").contains("1")) drainIntake().rate
      else -2.0
    if (intakeFresh != -2.0) phase("fresh intake drain done")
    // Machine-calibration floor: median wall time of a trivial fixed job
    // (1M-row range count — no I/O, no shuffle). Per-job scheduling
    // overhead on this VM varies severalfold between sessions (measured
    // 0.008 s vs 0.13 s for identical code), which dominates sub-second
    // query medians; recording the floor lets cross-round comparisons
    // subtract the machine from the plan.
    val floor = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1000000L).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(2)
    }
    // Runs are INTERLEAVED (whole suite × Runs, round-robin) rather than
    // per-query back-to-back: a transient machine stall — the recurring
    // failure mode on this VM — spans a contiguous wall-clock window, so
    // back-to-back runs let it inflate EVERY run of the few queries that
    // happened to be executing (which then read as "stable regressions":
    // round 8's driver bench flagged o2/o3 + t14-t18 at 10-19 s, round
    // 9's first local run flagged o1-o4 at 7-19 s, neither reproducible
    // in isolation). Interleaved, a stall shorter than one full suite
    // pass lands in at most one of a query's Runs samples and the median
    // discards it.
    // Local-iteration filter: time one query without paying for the
    // whole suite.
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => selected(name) }
      .sortBy(_._1)
    // Timed action: a noop v2 write, not count(). Under a count the
    // optimizer prunes deterministic projections and eliminates final
    // sorts, so a map-only query's expression cost (the t-suites, x5's
    // rolling hash, x28's NFC normalize) was invisible to the bench
    // and its regression gate — a 100x slowdown in any map-side
    // expression left every median unchanged. The noop sink evaluates
    // every output column of every row and discards them; baselines
    // were re-recorded under this action (round 12).
    // Test-only chaos hook for the gate-sensitivity demonstration (r14
    // verdict #5): "name:seconds[,name:seconds…]" injects a sleep INTO
    // the timed region of the named queries, so a seeded perturbation
    // can prove the regression gate still fires after any suite
    // trimming. Never set by the driver; documented in PLANS.md.
    // Parsed defensively (r15 advice): this env var is hand-typed during
    // the sensitivity demo, and a MatchError at startup would kill the
    // whole bench before any timed work. Malformed entries (missing
    // colon, empty segment, non-numeric seconds, trailing comma) fail
    // fast with a message naming the bad entry instead.
    val perturb: Map[String, Double] = sys.env.get("SPARK_GRAFT_PERTURB")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split(":", 2) match {
          case Array(k, v) if k.nonEmpty && v.toDoubleOption.isDefined =>
            (k, v.toDouble)
          case _ => sys.error(
            s"SPARK_GRAFT_PERTURB entry '$kv' is not 'name:seconds'")
        }
      }.toMap).getOrElse(Map.empty)
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        perturb.get(name).foreach(s => Thread.sleep((s * 1000).toLong))
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
    // Suite-weight trim (r14 verdict #5): sub-0.25 s SCALAR-CLASS
    // queries — no materialized store behind them (d*/n* serving reads
    // and the intake gates keep all Runs samples: a store build landing
    // in the serving path is exactly the regression class the gate
    // exists for) — skip the final pass and report the MIN of their two
    // samples. For a ≈ jobs×floor query the min is the honest
    // steady-state read (every inflation mechanism — stall, GC, JIT —
    // is one-sided), and a real plan regression shifts the whole
    // distribution, min included: the seeded-perturbation demo in
    // PLANS.md shows the gate firing unchanged on a trimmed entry. The
    // set derives from the RECORDED medians, so it is stable across
    // sessions and self-describing (`light_trimmed` in the artifact).
    // SPARK_GRAFT_NO_TRIM=1 disables the trim for RECORDING sessions
    // (r15 verdict #5): re-recording a trimmed key's baseline needs the
    // same 3-run median the original recordings used, not the trim's
    // min-of-two.
    val lightTrim: Set[String] =
      if (sys.env.get("SPARK_GRAFT_NO_TRIM").contains("1")) Set.empty
      else BaselineMedians.collect {
        case (k, (m, _)) if m < 0.25 && !k.startsWith("d") && !k.startsWith("n") &&
          !k.startsWith("x3") => k
      }.toSet
    // x37 build/probe attribution (r14 verdict #3): the query's store
    // build runs eagerly inside the query function and records its wall
    // time (Dedup.lastX37BuildSec); each timed sample splits into
    // (build, total - build) and the two medians ship beside the
    // combined entry, so the probe — the phase with the 100 TB scale
    // claim — is gated separately from build-phase noise.
    val x37Splits = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // x45 build/serve attribution (r15 verdict #1): same discipline —
    // the query records its store build (LiveIndex seed + compact) wall
    // time and each timed sample splits into (build, total − build);
    // the serve is the MaxScore-bounded phase with the scale claim.
    val x45Splits = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val samples = (1 to Runs).flatMap { r =>
      val pass = ordered.collect {
        case (name, fn) if r < Runs || !lightTrim(name) =>
          val t = run(name, fn)
          if (name == "x37_intake_bucketed" && t >= 0) {
            val b = graft.operators.Dedup.lastX37BuildSec
            if (b >= 0 && b <= t) x37Splits += ((b, t - b))
          }
          if (name == "x45_bm25_maxscore" && t >= 0) {
            val b = graft.operators.Retrieval.lastX45BuildSec
            if (b >= 0 && b <= t) x45Splits += ((b, t - b))
          }
          (name, t)
      }
      phase(s"timed pass $r done")
      pass
    }
    val results = ordered.map { case (name, _) =>
      val times = samples.collect { case (`name`, t) => t }.sorted
      // any crashed sample poisons the whole entry to -1: a crash must
      // read as a BROKEN query in the artifact, never as a fast sample
      // the gate mistakes for a speedup (the isolated-run guard below,
      // applied to the main timed loop too).
      // Lower median: times(1) of 3 full-pass samples, times(0) = min
      // of a light-trimmed pair.
      if (times.head < 0) (name, -1.0, 0.0)
      else (name, times((times.length - 1) / 2), times.last - times.head)
    }
    // One stdout line, kept SMALL (doubles rounded to 3 decimals — 1 ms,
    // below the measurement floor; the per-query spread map stays
    // internal, feeding only the stability check below) and ordered so
    // the session-level fields survive tail truncation.
    def r3(v: Double): String = f"$v%.3f"
    def json(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qs = json(results.map { case (k, m, _) => (k, m) })
    // Regression gate: median > 2× the recorded baseline median — FLOOR-
    // SCALED PER ENTRY — AND the delta is material (> 1 s) AND stable
    // (spread < median — not a one-off GC/JIT outlier). Floor scaling:
    // most sub-second queries are ≈ jobs × floor, so each entry's
    // threshold is scaled by sessionFloor / ITS OWN recording floor
    // (clamped at 1 — a faster-than-recording session should tighten
    // nothing, it already reads uniformly faster). This makes the gate
    // measure the plan, not the VM, while the class it exists for — a
    // store build or corpus scan landing in the serving path (round-4's
    // n2 0.19 s → 6.0 s) — still trips it at any realistic floor. Only
    // meaningful at the baseline's own config (sf0.1); at other scale
    // factors overheads dominate.
    // Every entry over 2× its floor-scaled recording, material or not.
    // The gate below adds the >1 s materiality and stability bounds for
    // FIRING, but a sub-second query can sit over 2× forever without
    // ever crossing them (round-11 verdict #2: w5 at 5.3× never fired) —
    // so the isolated-triage re-run covers this whole set, and the JSON
    // line carries the adjudication evidence for every member.
    val over2x = if (!isBaselineSf) Seq.empty[(String, Double, Double)]
      else results.collect {
        case (k, m, s) if BaselineMedians.get(k).exists { case (b, recFloor) =>
          m > 2 * b * math.max(1.0, floor / recFloor)
        } => (k, m, s)
      }
    val regressions = over2x.collect {
      case (k, m, s) if m - BaselineMedians(k)._1 > 1.0 && s < m => (k, m)
    }
    // Stall triage, automated (round-10 verdict #6, widened round 12):
    // re-run every >2× entry — gate-fired or not — once in ISOLATION,
    // after the interleaved suite is done. A transient VM stall or a
    // suite-position GC carry-over inflates the interleaved samples but
    // not this quiet re-run, so "interleaved 3.3× / isolated ≈ baseline"
    // reads as machine noise while "both high" is a real plan regression —
    // the a7-style ambiguity becomes data instead of a round-long debate.
    val isolated = over2x.map { case (k, _, _) =>
      // a crash must NOT masquerade as a fast isolated run ("isolated ≈
      // fast → machine noise" would invert the verdict) — run() records
      // -1 on a throw. The perturb hook applies here too, so a seeded
      // perturbation adjudicates as a REAL regression — the property the
      // sensitivity demo checks.
      (k, run(k, SparkEntry.queries(k)))
    }
    val regKeys = regressions.map(_._1).toSet
    val iso = json(isolated.filter(kv => regKeys(kv._1)))
    val iso2x = json(isolated)
    val total = results.collect { case (_, m, _) if m >= 0 => m }.sum
    phase("isolated re-runs done")
    val intakeStats = drainIntake()
    val intakeRate: Double = intakeStats.rate
    phase("intake drain done")
    // The comparison the r13 comment promised but never performed (r13
    // verdict "What's wrong #1"): the drain is commit-dominated, so a
    // single session's rate swings with scheduling noise — the recorded
    // value is now the MEDIAN of three calm sessions, and a measured
    // rate below HALF of it triggers one quiet isolated re-drain after
    // the suite (the query-median triage discipline). "Low twice" is a
    // real streaming-path regression and lands in `regressions`;
    // "low once, re-drain fine" reads as machine noise, with the
    // re-drain value in the artifact as the adjudication evidence.
    // intake_redrain = -1.0 means the re-drain was not needed —
    // UNLESS "intake_redrain" appears in `errors`, which marks a
    // re-drain that ran and CRASHED (a crash must never adjudicate as
    // "machine noise, no regression"; the errors discipline).
    val redrainNeeded = intakeRate >= 0 && isBaselineSf &&
      intakeRate < IntakeRateRecorded / 2
    val intakeRedrain: Double = if (redrainNeeded) drainIntake().rate else -1.0
    val intakeRegressed = redrainNeeded &&
      intakeRedrain >= 0 && intakeRedrain < IntakeRateRecorded / 2
    val redrainCrashed = redrainNeeded && intakeRedrain < 0

    // Store-growth flatness artifact (r13 verdict, next-round #1): the
    // bucketed-probe plan shape is PINNED (ScaleSpec), but pins don't
    // show probe TIME staying flat as the folded store grows — this
    // measures it. The intake store is seeded at 1×, then grown to 4×
    // and 16× the documents slice with id-offset, payload-varied copies
    // (every word suffixed per copy, so copies are neither exact nor
    // near dups and the stores genuinely grow; offset ids keep copies
    // disjoint from each other and from the probe batch), compacted to
    // the bucketed fold at each size, and an IDENTICAL probe batch is
    // timed (3-run median, noop sink) against each store size. The same
    // growth drives the LiveIndex postings store, with the fixed
    // QueryTerms BM25 serve timed at each size. Flat-within-noise
    // probe/term times against an 16× store are the measured local
    // evidence for the 100 TB claim; -1s on a throw.
    // Store-growth flatness artifact (r13 verdict, next-round #1; scan
    // metrics + 64× point added for r14 #1): the bucketed-probe plan
    // shape is PINNED (ScaleSpec), but pins don't show probe COST
    // staying bounded as the folded store grows — this measures it, as
    // wall time AND as store-scan bytes/rows read out of the executed
    // plans. The intake store is seeded at 1×, then grown to 4×/16×/64×
    // the documents slice with id-offset copies, compacted to the
    // bucketed fold at each size, and an IDENTICAL probe batch is timed
    // (3-run median, noop sink) against each store size, followed by
    // one metrics execution. The same growth drives the LiveIndex
    // postings store, with the fixed QueryTerms BM25 serve timed at
    // each size; -1s on a throw.
    val growthSizes = Seq(1, 4, 16, 64)
    def growthKeys(n: Int) = Seq(s"store_docs_at_${n}x", s"probe_sec_at_${n}x") ++
      Seq("probe", "smallprobe").flatMap(t => Seq(s"${t}_files_at_${n}x",
        s"${t}_mb_at_${n}x", s"${t}_rows_at_${n}x", s"${t}_io_mb_at_${n}x")) ++
      Seq(s"term_sec_at_${n}x", s"term_rare_sec_at_${n}x",
        s"maxscore_rows_at_${n}x", s"maxscore_postings_at_${n}x",
        s"maxscore_cands_at_${n}x") ++
      // r16 verdict #3: gated growth fields ship their recording and
      // their in-place retry beside the measurement (the x37/x45
      // recorded-field convention; retry = -1.0 means "never needed")
      Seq(s"probe_sec_at_${n}x", s"term_sec_at_${n}x",
        s"term_rare_sec_at_${n}x").flatMap(k => Seq(s"${k}_rec", s"${k}_retry")) :+
      s"maxscore_rows_at_${n}x_rec"
    // Growth-curve regression gate (r16 verdict #3), [[GrowthRecordings]]:
    // fires into the headline `regressions` field. Wall-time fields get
    // the floor-scaled 2× + >1 s materiality gate with ONE in-place
    // retry (the grown store exists only here — this is the only moment
    // an isolated adjudication is possible); the deterministic
    // maxscore_rows count gates at 2× + >1000 rows, no floor, no retry.
    val growthRegB = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // captured before the growth block's functions._ import shadows the
    // name with the SQL floor()
    val sessionFloor = floor
    val growthFields: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions._
      val root = java.nio.file.Files.createTempDirectory("graft-bench-growth").toString
      val cfg = graft.streaming.LivePipeline.Config(s"$root/pipe")
      val idx = graft.streaming.LiveIndex.Config(s"$root/idx")
      val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
      // the CURVE is the artifact (probe cost vs 1x/4x/16x/64x store),
      // not absolute store size — a 1-in-10 seed slice keeps seeding
      // from dominating bench wall-time at sf0.1
      val base = docs.filter(col("doc_id") % 10 === 0)
      val probe = docs.filter(col("doc_id") % 10 === 7)
      // Copy j for the PIPE (dedup) store: id-offset and — for j ≥ 1 —
      // payload-varied by a per-copy word suffix, so copies are neither
      // exact nor near dups and the dedup stores genuinely grow. Copy 0
      // stays UNSUFFIXED (the 1× store is the real slice). 1e12 id
      // stride: a 1e8 stride collides copy j of doc d with copy j+1 of
      // doc d−1e8 once real doc_ids reach 1e8 (silent id_collision
      // quarantines would under-grow the store).
      // the suffix lands only on words of ≥ 4 chars: the quality gate's
      // stopword lexicon is all ≤ 3 chars, so suffixing every word
      // zeroed stop_hits and the admission ladder rejected ~80% of the
      // copies as low_quality — the store silently under-grew its label
      // (caught by store_docs_at_* in the r15 smoke run). Long-word
      // suffixes disrupt every shingle containing one (near-total
      // Jaccard separation between copies) while quality features —
      // token count, stopword density — survive.
      def suffixed(j: Int) = concat_ws(" ", transform(split(col("text"), " "),
        w => when(length(w) >= 4, concat(w, lit(s"c$j"))).otherwise(w)))
      def pipeCopy(j: Int) = if (j == 0) base else base.select(
        (col("doc_id") + lit(j * 1000000000000L)).as("doc_id"), col("lang"),
        suffixed(j).as("text"))
      // The zipfian probe term for the rare+common serve (MaxScore's
      // design regime): one deterministic rare long word from the base
      // slice (min count, then lexical). Computed BEFORE the index
      // copies are defined — they suffix exactly this word, see below.
      val rareTerm: String = base
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 8)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c"), col("w")).limit(1)
        .collect().headOption.map(_.getString(0)).getOrElse("spark")
      // Copy j for the INDEX postings store keeps the ORIGINAL text —
      // EXCEPT the one rare probe term, suffixed per copy for j ≥ 1:
      // id-offset with real text grows the commons' posting lists 64×
      // so Retrieval.QueryTerms actually MATCH at every size (r14's
      // all-suffixed spelling timed a zero-match serve — r14 advice),
      // while the probe's rare term must stay ABSOLUTELY rare, the way
      // a real corpus grows (new content multiplies common terms'
      // postings; a given rare term's df stays tail-sized — copies
      // multiplying EVERY df 64× pushed the rare df past pushMax and
      // degraded the serve's In(doc_id) point-reads to semi-join scans,
      // measuring the harness, not the mechanism; caught by the r16
      // maxscore_rows curve on its first sf0.1 run).
      def idxCopy(j: Int) = base.select(
        (col("doc_id") + lit(j * 1000000000000L)).as("doc_id"),
        (if (j == 0) col("text")
         else concat_ws(" ", transform(split(col("text"), " "),
           w => when(w === lit(rareTerm), concat(w, lit(s"c$j"))).otherwise(w))))
          .as("text"))
      var nextBatch = 0L
      def grow(pairs: Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]): Unit = {
        pairs.foreach { case (p, ix) =>
          graft.streaming.LivePipeline.step(p, nextBatch, cfg)
          graft.streaming.LiveIndex.step(ix, nextBatch, idx)
          nextBatch += 1
        }
        graft.streaming.LivePipeline.compact(spark, cfg)
        graft.streaming.LiveIndex.compact(spark, idx)
      }
      // Seed batches UNION several copies each (3 copies → 1 batch at
      // 4×, 6 per batch at 16×, 8 per batch at 64×): per-step commit
      // overhead (listings, markers, cursor snapshots) is constant per
      // batch, so one-copy steps would spend the growth phase timing
      // the committer 60 times over; the copies are id-disjoint and
      // mutually non-dup, so admissions are batching-independent and
      // the folded store content is identical either way.
      def growCopies(groups: Seq[Seq[Int]]): Unit = grow(groups.map { g =>
        (g.map(pipeCopy).reduce(_.unionByName(_)),
          g.map(idxCopy).reduce(_.unionByName(_)))
      })
      // the artifact names its own store sizes: distinct ADMITTED docs
      // in the ids store after each growth stage (one scan-count job;
      // outside the timed probes), so "16x" is a measured row count,
      // not a label
      def storeDocs(): Double = {
        val (_, _, ids, _) =
          graft.streaming.LivePipeline.probeFrames(spark, cfg, nextBatch)
        ids.select("doc_id").distinct().count().toDouble
      }
      def probeAuditOf(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val (exact, bands, ids, cursors) =
          graft.streaming.LivePipeline.probeFrames(spark, cfg, nextBatch)
        graft.streaming.LivePipeline.curatePack(batch, exact, bands, cursors, ids, cfg).audit
      }
      def probeAudit(): org.apache.spark.sql.DataFrame = probeAuditOf(probe)
      // The steady-state micro-batch for the SCAN-METRICS curve: the
      // timed probe above keeps r14's 1-in-10 slice (500 docs at sf0.1)
      // for wall-time comparability, but at that batch:store ratio both
      // pruning layers SATURATE by construction — 500 keys hit all 64
      // buckets, and an n-key In(...) or-chain must read ~one row group
      // per key per bucket file, so rows read are bounded by
      // buckets × keys × rowGroupRows, a ceiling far above these toy
      // stores. A long-lived intake's real ratio is the opposite (tiny
      // batch, huge store) — this 1-in-1000 slice measures THAT regime,
      // where the bound binds and store-scan rows stay ~flat while the
      // store grows 64×.
      val smallProbe = docs.filter(col("doc_id") % 1000 === 7)
      def scanFields(tag: String, n: Int, batch: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
        keepingEmptyScans(spark) {
          // actual bytes read off the local `file` FS across the whole
          // execution (tasks share this JVM on local[N], and Hadoop
          // FileSystem statistics aggregate across threads): the
          // filesSize metric above is bytes SELECTED after partition
          // pruning — whole hit-bucket files — while this delta is what
          // the reader actually pulled, i.e. footers plus only the row
          // groups/pages the pushed In(key) filters kept. Includes the
          // constant batch-side documents read (self-describing:
          // constant across store sizes); shuffle/spill traffic goes
          // through java.io, not a Hadoop FS, so it does not pollute
          // the delta.
          def fsBytesRead(): Long =
            org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
              .get("file") match {
              case null => 0L
              case s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)
            }
          val io0 = fsBytesRead()
          val df = probeAuditOf(batch)
          df.collect() // bounded: audit rows are batch-sized
          val ioMb = (fsBytesRead() - io0) / 1e6
          val (nf, bytes, rows) = storeScanStats(df.queryExecution.executedPlan, root)
          Seq(s"${tag}_files_at_${n}x" -> nf,
            s"${tag}_mb_at_${n}x" -> bytes / 1e6,
            s"${tag}_rows_at_${n}x" -> rows,
            s"${tag}_io_mb_at_${n}x" -> ioMb)
        }
      // min of two runs (the corpus-growth discipline: one-sided
      // inflation is what a second sample discards, and the curve's
      // signal is SHAPE at 0.3-3.5 s, far above the floor) — the r15
      // wall-time trim; the r14 points were 3-run medians.
      // `key` is the artifact field being measured: the perturb hook
      // (r14 #5 discipline, extended to the growth gate in r17) keys
      // on it so a seeded sleep lands inside the timed region of BOTH
      // the measurement and its in-place retry — the end-to-end
      // demonstration that the growth gate fires (PLANS.md).
      def timedGrowth(key: String)(action: => Unit): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        action
        perturb.get(key).foreach(s => Thread.sleep((s * 1000).toLong))
        (System.nanoTime() - t0) / 1e9
      }.min
      def timeProbe(key: String): Double = timedGrowth(key) {
        probeAudit().write.format("noop").mode("overwrite").save()
      }
      def timeTerm(key: String): Double = timedGrowth(key) {
        graft.streaming.LiveIndex.bm25(spark, idx,
          graft.operators.Retrieval.QueryTerms, 10)
          .write.format("noop").mode("overwrite").save()
      }
      // The rare+common serve — the zipfian regime the MaxScore pruning
      // (Retrieval.bm25TopFromStore, r15) exists for: the rare probe
      // term (fixed df — only copy 0 carries it, see idxCopy) + the
      // three common QueryTerms whose postings grow with the store.
      // With all-common terms (term_sec above) θ cannot clear the
      // common ubs and pruning degrades to ~naive; here the commons
      // fall in the non-essential prefix, so their corpus-sized posting
      // lists are read only point-wise for the rare candidates.
      def timeTermRare(key: String): Double = timedGrowth(key) {
        graft.streaming.LiveIndex.bm25(spark, idx,
          rareTerm +: graft.operators.Retrieval.QueryTerms, 10)
          .write.format("noop").mode("overwrite").save()
      }
      // MaxScore pruning measured by SCAN ROWS, not wall time (r15
      // verdict #2): the flat term_rare_sec curve shows the serve's
      // COST, this shows its MECHANISM — `maxscore_rows` is every row
      // the index-store scans actually emitted across ALL of one pruned
      // serve's jobs (the internal df/θ/candidate collects plus the
      // final union; captured via a QueryExecutionListener, since the
      // serve is multi-action and the final frame's plan alone would
      // undercount), vs `maxscore_postings` — the full matched
      // posting-list size a naive full-scoring serve reads (one count
      // job over the same bucket-pruned read, outside the serve).
      // rows ≪ postings at 64× is the measured claim that common
      // terms' corpus-sized posting lists are only read point-wise.
      // `maxscore_cands` names the candidate-set size (pass-1 df +
      // pass-2 page) the pushes are bounded by. AQE's empty-relation
      // folding is excluded for the metrics execution (the r15 probe
      // discipline) so executed-but-empty scans keep their counts.
      def maxscoreScanFields(n: Int): Seq[(String, Double)] = {
        val terms = rareTerm +: graft.operators.Retrieval.QueryTerms
        val postings = graft.streaming.LiveIndex
          .matchedPostingsCount(spark, idx, terms).toDouble
        keepingEmptyScans(spark) {
          val serve = captureExecutions(spark) {
            graft.streaming.LiveIndex.bm25(spark, idx, terms, 10).collect()
          }
          // postings scans ONLY (doclens/aux reads are candidate-pushed
          // and bounded; the claim under measurement is about posting
          // lists) — at toy store sizes the candidate machinery's
          // repeated point-reads can exceed the naive read (pruning
          // pays when postings ≫ candidates), so the SLOPE vs the
          // postings curve is the signal, not the intercept
          val rows = serve.plans
            .map(qe => storeScanStats(qe.executedPlan, s"$root/idx/postings")._3).sum
          Seq(s"maxscore_rows_at_${n}x" -> rows,
            s"maxscore_postings_at_${n}x" -> postings,
            s"maxscore_cands_at_${n}x" ->
              graft.operators.Retrieval.lastServeCands.toDouble)
        }
      }
      // Granularity emulation for the growth stores' FOLD WRITES: a
      // production bucket file spans many parquet row groups (128 MB
      // default over GB-scale buckets), so the sorted-fold + In(key)
      // layer skips row groups WITHIN a pruned bucket; these toy
      // buckets are single-row-group, single-page files where nothing
      // can be skipped regardless of layout. Shrinking the writer's
      // row-group/page targets for this phase's writes recreates the
      // per-store-row granularity a real store has, so probe_rows_at_*
      // measures the skipping mechanism, not the toy file layout. The
      // knobs are restored before the next phase.
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("parquet.block.size", "256")
      hc.set("parquet.page.size", "256")
      hc.set("parquet.page.row.count.limit", "16")
      // the writer only CHECKS accumulated size every
      // parquet.page.size.row.check.min records (default 100) — above
      // the whole toy bucket, so without this knob every bucket file
      // stayed one row group no matter the block size (measured: the
      // knob alone turns a 10k-row sorted file into ~220 row groups and
      // an In(4 keys) probe reads 62 rows instead of 10k)
      hc.set("parquet.page.size.row.check.min", "10")
      try {
        val out = Seq.newBuilder[(String, Double)]
        def gateTime(k: String, v: Double, again: () => Double): Unit = {
          val (rec, recFloor) = GrowthRecordings(k)
          out += (s"${k}_rec" -> rec)
          def over(x: Double) =
            isBaselineSf && growthTimeOver(x, rec, recFloor, sessionFloor)
          val retry = if (over(v)) again() else -1.0
          out += (s"${k}_retry" -> retry)
          if (over(v) && over(retry)) growthRegB += (k -> v)
        }
        def gateCount(k: String, v: Double): Unit = {
          val (rec, _) = GrowthRecordings(k)
          out += (s"${k}_rec" -> rec)
          if (isBaselineSf && growthCountOver(v, rec)) growthRegB += (k -> v)
        }
        def measure(n: Int): Unit = {
          out += (s"store_docs_at_${n}x" -> storeDocs())
          val pk = s"probe_sec_at_${n}x"
          val pv = timeProbe(pk)
          out += (pk -> pv)
          gateTime(pk, pv, () => timeProbe(pk))
          out ++= scanFields("probe", n, probe)
          out ++= scanFields("smallprobe", n, smallProbe)
          val tk = s"term_sec_at_${n}x"
          val tv = timeTerm(tk)
          out += (tk -> tv)
          gateTime(tk, tv, () => timeTerm(tk))
          val rk = s"term_rare_sec_at_${n}x"
          val rv = timeTermRare(rk)
          out += (rk -> rv)
          gateTime(rk, rv, () => timeTermRare(rk))
          val ms = maxscoreScanFields(n)
          out ++= ms
          gateCount(s"maxscore_rows_at_${n}x",
            ms.find(_._1 == s"maxscore_rows_at_${n}x").map(_._2).getOrElse(-1.0))
          phase(s"store growth ${n}x measured")
        }
        // the 1× seed splits into TWO batches so compact() lays the
        // bucketed fold even at the smallest size (a lone flat part is
        // never refolded) — all four points measure the SAME bucketed
        // probe path, differing only in store size. The split is
        // HASH-parity, not id-parity: the base slice is doc_id % 10 == 0
        // (every id even), so an id % 2 split would leave one batch
        // EMPTY, step() would skip it, and the 1× point would silently
        // measure the flat path (the x37 r13 blind spot all over again —
        // caught in round-14 review)
        val p0 = pipeCopy(0); val i0 = idxCopy(0)
        def half(df: org.apache.spark.sql.DataFrame, side: Int) =
          df.filter(pmod(hash(col("doc_id")), lit(2)) === side)
        grow(Seq((half(p0, 0), half(i0, 0)), (half(p0, 1), half(i0, 1))))
        measure(1)
        growCopies(Seq(1 to 3))
        measure(4)
        growCopies(Seq(4 to 9, 10 to 15))
        measure(16)
        growCopies((16 until 64).grouped(16).toSeq)
        measure(64)
        out.result()
      } finally {
        hc.unset("parquet.block.size")
        hc.unset("parquet.page.size")
        hc.unset("parquet.page.row.count.limit")
        hc.unset("parquet.page.size.row.check.min")
      }
    } catch { case _: Throwable =>
      growthSizes.flatMap(growthKeys).map(_ -> -1.0)
    }
    phase("store growth done")
    // Data-marginal curves for two corpus-heavy BATCH operators (r14
    // verdict #6): d7 (LSH cluster label propagation) and x33 (leakage
    // split) are the engine's iterative/loop-shaped plans — where a
    // hidden superlinearity would live — timed against 1×/4×/16×
    // synthesized corpora (id-offset, word-suffixed copies written as
    // real documents tables: mutually non-dup, so the candidate graph
    // grows ~linearly while cluster diameters stay fixed — growth must
    // multiply per-round work, never round count). Signature stores
    // materialize per corpus OUTSIDE the timed region (ensureStores —
    // ingest-time work, the suite's design point). Each point is the
    // MIN of two runs: one-sided inflation (stall/GC/JIT) is what a
    // second sample discards, and the signal here is the SHAPE of a
    // 1.5–25 s curve, far above the session floor (recorded beside it).
    val corpusGrowthSizes = Seq(1, 4, 16)
    def corpusKeys(n: Int) = Seq(s"corpus_docs_at_${n}x",
      s"d7_sec_at_${n}x", s"x33_sec_at_${n}x")
    val corpusGrowthFields: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions._
      val root = java.nio.file.Files.createTempDirectory("graft-bench-corpus").toString
      val docs = Tables.documents(spark, sfDir)
      // ≥4-char-word suffix, same rationale as the store-growth copies:
      // vary payloads without collapsing the quality features
      def copy(j: Int) = if (j == 0) docs else docs.select(
        (col("doc_id") + lit(j * 1000000000000L)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          w => when(length(w) >= 4, concat(w, lit(s"c$j"))).otherwise(w))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      val out = Seq.newBuilder[(String, Double)]
      for (n <- corpusGrowthSizes) {
        val dir = s"$root/x$n"
        (0 until n).map(copy).reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        graft.operators.Dedup.ensureStores(spark, dir)
        out += (s"corpus_docs_at_${n}x" ->
          spark.read.parquet(s"$dir/documents.parquet").count().toDouble)
        for ((q, tag) <- Seq("d7_dedup_clusters" -> "d7", "x33_leakage_split" -> "x33")) {
          val ts = (1 to 2).map(_ => run(q, (s, _) => SparkEntry.queries(q)(s, dir)))
          out += (s"${tag}_sec_at_${n}x" ->
            (if (ts.exists(_ < 0)) -1.0 else ts.min))
        }
      }
      out.result()
    } catch { case _: Throwable =>
      corpusGrowthSizes.flatMap(corpusKeys).map(_ -> -1.0)
    }
    phase("corpus growth done")
    // `nonsignal`: timed entries whose median is NOT the operator's
    // cost, kept in the suite for keyset/oracle coverage — x20's
    // training is warmed in setup (ingest-time work), so its entry
    // measures only the per-query memo overhead. Listed here so the
    // artifact is self-describing (r12 verdict #3).
    val nonsignal = """["x20_bpe_train"]"""
    // errors/regressions assembled LAST so the intake adjudication
    // feeds them like query medians do (r13 verdict #1)
    // x37 build/probe attribution fields + the probe-side regression
    // gate (same shape as the per-query gate: floor-scaled 2× with
    // >1 s materiality; stability comes from the median of the splits).
    def splitMed(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply((xs.length - 1) / 2)
    val x37Fields: Seq[(String, Double)] = Seq(
      "x37_build_sec" -> splitMed(x37Splits.map(_._1).toSeq),
      "x37_probe_sec" -> splitMed(x37Splits.map(_._2).toSeq),
      "x37_build_sec_recorded" -> X37BuildRecorded._1,
      "x37_probe_sec_recorded" -> X37ProbeRecorded._1)
    val x45Fields: Seq[(String, Double)] = Seq(
      "x45_build_sec" -> splitMed(x45Splits.map(_._1).toSeq),
      "x45_serve_sec" -> splitMed(x45Splits.map(_._2).toSeq),
      "x45_build_sec_recorded" -> X45BuildRecorded._1,
      "x45_serve_sec_recorded" -> X45ServeRecorded._1)
    // Deterministic intake-drain I/O: recorded+gated rows (the
    // maxscore_rows convention — raw 2× + >1000 rows, no floor, no
    // retry), store bytes as color ([[IntakeRowsStoreRecorded]]).
    val intakeRowsFields: Seq[(String, Double)] = Seq(
      "intake_rows_store" -> intakeStats.rowsStore,
      "intake_rows_store_rec" -> IntakeRowsStoreRecorded,
      "intake_rows_src" -> intakeStats.rowsSrc,
      "intake_rows_src_rec" -> IntakeRowsSrcRecorded,
      "intake_mb_store" -> intakeStats.mbStore)
    val intakeRowsReg: Seq[(String, Double)] =
      if (!isBaselineSf) Nil
      else Seq(
        ("intake_rows_store", intakeStats.rowsStore, IntakeRowsStoreRecorded),
        ("intake_rows_src", intakeStats.rowsSrc, IntakeRowsSrcRecorded))
        .collect { case (k, v, rec) if growthCountOver(v, rec) => k -> v }
    // phase-only regression gates (x37 probe / x45 serve): the same
    // floor-scaled 2× + >1 s materiality shape as the per-query gate,
    // applied to the phase median — the seeded-perturbation demo shows
    // a sleep inside the serve fires this while the combined median's
    // gate alone would have let it hide in build noise
    def phaseReg(name: String, med: Double, rec: (Double, Double)): Seq[(String, Double)] = {
      val (b, recFloor) = rec
      if (isBaselineSf && med >= 0 &&
          med > 2 * b * math.max(1.0, floor / recFloor) && med - b > 1.0)
        Seq(name -> med)
      else Nil
    }
    val x37ProbeReg = phaseReg("x37_probe_sec",
      x37Fields.find(_._1 == "x37_probe_sec").map(_._2).getOrElse(-1.0), X37ProbeRecorded)
    val x45ServeReg = phaseReg("x45_serve_sec",
      x45Fields.find(_._1 == "x45_serve_sec").map(_._2).getOrElse(-1.0), X45ServeRecorded)
    val errors = results.collect { case (k, m, _) if m < 0 => k } ++
      (if (intakeRate < 0) Seq("intake_drain") else Nil) ++
      (if (redrainCrashed) Seq("intake_redrain") else Nil)
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reg = json(regressions ++
      (if (intakeRegressed) Seq("intake_docs_per_sec" -> intakeRate) else Nil) ++
      intakeRowsReg ++ x37ProbeReg ++ x45ServeReg ++ growthRegB)
    val extras = growthFields ++ corpusGrowthFields ++ x37Fields ++ x45Fields ++
      intakeRowsFields
    // Growth/attribution-field keyset parity (r15 verdict #6): these
    // fields are load-bearing evidence (probe I/O curves, phase splits)
    // but nothing pinned their presence the way BaselineMedians pins
    // the query keyset — a refactor could silently drop a curve. Fail
    // loudly on any drift, both directions (the error paths emit the
    // exact same keysets with -1 values, so parity holds there too).
    val expectedExtras = (growthSizes.flatMap(growthKeys) ++
      corpusGrowthSizes.flatMap(corpusKeys) ++
      Seq("x37_build_sec", "x37_probe_sec",
        "x37_build_sec_recorded", "x37_probe_sec_recorded",
        "x45_build_sec", "x45_serve_sec",
        "x45_build_sec_recorded", "x45_serve_sec_recorded",
        "intake_rows_store", "intake_rows_store_rec",
        "intake_rows_src", "intake_rows_src_rec", "intake_mb_store")).toSet
    require(extras.map(_._1).toSet == expectedExtras,
      s"growth-field drift — missing: ${expectedExtras -- extras.map(_._1).toSet}, " +
        s"stale: ${extras.map(_._1).toSet -- expectedExtras}")
    val growthJson = extras.map {
      case (k, v) => "\"" + k + "\":" + r3(v) }.mkString(",")
    val lightJson = lightTrim.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$Runs,"floor":${r3(floor)},"errors":$errs,"regressions":$reg,"regressions_isolated":$iso,"over2x_isolated":$iso2x,"nonsignal":$nonsignal,"light_trimmed":$lightJson,"intake_docs_per_sec":${r3(intakeRate)},"intake_docs_per_sec_recorded":${r3(IntakeRateRecorded)},"intake_redrain":${r3(intakeRedrain)},"intake_fresh":${r3(intakeFresh)},$growthJson,"sf":"$sfDir","queries":$qs}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // stdout already has the line
    spark.stop()
    // Machine-recoverable summary (r19 verdict #1): the full line above
    // is ~6 KB (186 per-query entries) and is followed by sbt's
    // [success] trailer, so a tail-bounded capture (the driver keeps
    // 2000 chars) truncates it mid-JSON. This compact line — totals,
    // floor, gate COUNTS, no per-query map, < 300 chars — is printed as
    // the very LAST act after spark.stop() so any stdout tail contains
    // at least one intact, parseable JSON result. The canonical full
    // artifact stays `bench_out.json` (see README).
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""runs":$Runs,"floor":${r3(floor)},"n_queries":${results.size},""" +
      s""""n_errors":${errors.size},"n_regressions":${reg.count(_ == ':')},""" +
      s""""n_regressions_isolated":${iso.count(_ == ':')},""" +
      s""""n_over2x_isolated":${iso2x.count(_ == ':')},""" +
      s""""intake_docs_per_sec":${r3(intakeRate)},"cpus":"$cpus",""" +
      s""""sf":"$sfDir","full_result":"$outFile"}"""
    println(summary)
  }
}
