"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``arango_clickhouse_replica_spark.queries.QUERIES`` — the
central registry where every implemented operator from SURVEY.md §2 lives
as a named (Spark builder, DuckDB oracle SQL) pair.

The driver verifies a bounded window of ``queries()`` per round, in dict
order. To get EVERY registered query a driver correctness row across
rounds, ``queries()`` rotates: names without a prior driver verification
(no ``hash_match: true`` row, and no rows-only check for oracle-less
entries, in any ``CORRECTNESS_r*.json`` the driver has written back into
the repo) are emitted FIRST; already-verified names follow as regression
coverage, least-recently-verified first.

ROTATION BUDGET (round-5 verdict item #7): ``queries()`` emits at most
150 names — 3 driver rounds at the 50-slot window — so a regression in
any emitted query is re-verified within 3 rounds, and the cycle length
stays bounded as the registry grows. (Never-verified names are always
emitted, so the cap binds only once names have driver history — the
steady state.) Early relational variants whose
semantics are fully subsumed by other emitted queries are
rotation-EXEMPT (``ROTATION_EXEMPT`` below): each has 5 consecutive
green driver rounds (r1-r5), stays registered in ``QUERIES`` (so the
per-query plan-quality guard in tests/test_plan_quality.py still covers
it), and remains available to users — it just no longer consumes
rotation slots. Exempt names re-enter automatically if the emitted set
falls below the budget.

PER-ROUND HABIT (r7 verdict item 3): because the exempt pool grows with
every registration, each round must also run the FULL registry —
``python tools/driver_check.py --all --json VERIFY_FULL_r{N}.json`` —
and commit the record, so rotation-exempt queries' oracle evidence
never ages beyond one round. r7 and r8 records are in-repo.

EXEMPT DRIVER SAMPLING (r12, verdict r11 item 4): the first
``EXEMPT_SAMPLE_SLOTS`` (5) emitted slots each round go to the exempt
names whose last DRIVER row is oldest (ties by registry order), so
every exempt name re-earns a driver-written correctness row on a
bounded cycle of ceil(|exempt| / 5) rounds (~33 at the current pool)
instead of relying on the self-run VERIFY_FULL alone. The cycle
self-advances: once the driver verifies a sampled name, its last-seen
round updates and the next-oldest five rotate in.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))

from arango_clickhouse_replica_spark.queries import QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q3_revenue_by_nation"

# Emit at most this many names: 3 driver rounds x 50-slot window.
ROTATION_BUDGET = 150

# Early relational variants subsumed by other emitted queries (each with
# 5 green driver rounds r1-r5; still registered, plan-quality-checked,
# and user-visible — see module docstring). Chosen as the nearest
# duplicate of a sibling that stays emitted, named in the comment.
ROTATION_EXEMPT = frozenset({
    "q_customers_with_open_orders",   # semi-join: q_exists_high_value_order
    "q_customers_without_orders",     # anti-join: q_null_semantics NOT IN
    "q_window_rank_vs_dense",         # rank family: q_window_distribution
    "q_window_first_last_nth",        # window nav: q_forward_fill_purchase
    "q_window_lag_lead_gap",          # LAG deltas: q_event_transitions
    "q_distinct_customers_per_status",  # count distinct: q_approx_distinct_*
    "q_histogram_order_totals",       # width buckets: curation_perplexity_buckets
    "q_string_functions",             # scalar smoke: every text_* query
    "q_date_functions",               # scalar smoke: q_gap_fill_daily_revenue
    "q_conditional_buckets",          # CASE buckets: q_percentiles_by_segment
    "q_array_functions",              # array HOFs: every embed_*/ann_* kernel
    "q_set_ops_all_multiset",         # set ops: q_set_ops_nation_segments
    "q_unpivot_order_metrics",        # stack(): mm_ahash_near_dup bands
    "q_pct_of_total_by_nation",       # share-of-total: curation_domain_mixture_weights (rotating) computes the same share-of-total shape
    "q_weighted_avg_discount",        # weighted agg: q1_pricing_summary
    # Grown r7 alongside the 3 color-codec registrations (each pick has
    # 6 green driver rounds r1-r6):
    "q_orders_per_customer",            # plain groupBy count: q_top_customers
    "q_window_running_spend",           # rows-frame running sum: q_window_range_30d_spend
    # Grown r7 alongside the 4 retrieval/LM/curation registrations
    # (rrf, bigram LM, matryoshka, DSIR); each pick has 4-6 green
    # driver rounds plus the r7 full-registry record:
    "q_json_extract_props",           # JSON paths: cdc_schema_migration_plan (rotating) parses real JSON key sets end-to-end
    "q_explode_token_counts",         # explode+count: every text_* explode query
    "q_argmax_latest_order",          # argmax: q_asof_join_latest_order, cdc_latest_state
    "q_top_customers",                # global top-N: every *_topk TakeOrdered query
    # Grown r7 alongside text_c4_heuristics (6 green driver rounds):
    "q_supplier_part_volume",         # multi-join agg: q3_revenue_by_nation
    # Grown r7 alongside embed_hard_negatives + mm_mjpeg_scene_cuts
    # (each pick 6 green driver rounds r1-r6 + the r7 full-registry
    # record):
    "q_scd2_event_intervals",         # interval assembly: cdc_scd2_history
    "q_window_top_orders_per_customer",  # per-group top-N window: ann_* rank windows
    # Grown r8 alongside the 4 new registrations (unimax, knn-label,
    # ttr, audio clipping); each pick has 7 green driver rounds r1-r7
    # incl. the r7 full-registry record:
    "q_pivot_status_by_year",         # pivot: q_grouping_sets_revenue + q_unpivot pair covers the reshape surface
    # Grown r8 alongside the PMI/quant-error/shard-balance registrations
    # (each pick has 7 green driver rounds r1-r7 incl. the full-registry
    # record):
    "q_stat_moments_by_segment",      # per-segment distribution stats: q_rolling_tukey_outliers (rotating) + q_weighted_avg_discount cover the family
    "q_funnel_conversion",            # event-sequence analytics: q_clickhouse_window_funnel (rotating) runs the stricter windowed ordered chain; q_clickhouse_retention keeps the cohort-flag lane
    "text_bigram_heavy_hitters",      # raw pair-count top-k: text_cooccurrence_pmi + text_bigram_logprob are the kept pair-statistics siblings
    "dsl_mapping_events",             # same cast kernel as dsl_mapping_documents (exempt since r11; the kernel rotates via cdc_migration_applied_deadletter) + dsl_deadletter_split (kept) on another table
    # Grown r8 alongside curation_dedup_survivorship_bias:
    "q_salted_skew_agg",              # salting demo: the production salting lives in operators/blocking.py + AQE (DESIGN.md §3); cdc_hot_key_skew_report now measures the skew itself
    "q_cohort_retention",             # cohort-offset matrix: q_clickhouse_retention (rotating) keeps the retention lane (CH-function scalar shape); q_event_transitions keeps sequence pairs
    # Grown r8 alongside the interval-merge/late-arrival/temperature/
    # fertility registrations (each pick has 2-3 green driver rounds
    # plus the r7 AND r8 full-registry records):
    "dedup_simhash_fingerprints",     # fingerprint build: dedup_simhash_hamming_pairs builds the same signatures AND the band join
    "text_token_stats",               # basic token counts: text_doc_length_percentiles + text_c4_line_cleaning cover the family
    # Grown r8 alongside embed_ood_mahalanobis + curation_coreset_kcenter
    # (each pick has 7 green driver rounds r1-r7 plus the r7 and r8
    # full-registry records):
    "q_exists_high_value_order",      # EXISTS semi-join: q_scalar_subquery_above_avg keeps the correlated-subquery surface
    "q_mode_ship_priority",           # mode(): q_argmax_latest_order + text_doc_length_percentiles (rotating) cover the order-statistic family
    # Grown r8 alongside mm_video_frame_dedup:
    "mm_mjpeg_frame_sample",          # every-2nd-frame demux: mm_scene_keyframes + mm_video_frame_dedup decode the full frame stream
    # Grown r8 alongside text_length_outlier_mad + q_event_anomaly_zscore:
    "text_word_entropy",              # unigram entropy: text_char_entropy + text_zipf_slope keep the distribution-shape surface
    "mm_wav_frame_features",          # framed energy/ZCR build: mm_audio_vad_segments consumes the same framed primitives end-to-end
    # Grown r8 alongside mm_phash_dct_near_dup:
    "mm_ahash_near_dup",              # gray spatial-domain hash: mm_color_ahash_near_dup (luma aHash) + mm_phash_dct_near_dup (DCT) keep both hash families emitted
    # Grown r8 alongside cdc_compaction_savings + text_kneser_ney_logprob:
    "dedup_lsh_precision_report",     # per-layout precision: dedup_minhash_band_sweep measures the same tradeoff across three layouts
    "ann_lsh_bucketed",               # LSH scale path: ann_recall_report composes it against IVF + exact every round
    # Grown r8 alongside mm_image_entropy_census:
    "mm_png_decode_features",         # gray PNG decode moments: mm_rgb_png_decode_features + the phash/entropy consumers re-prove the decoder every round
    # Grown r8 alongside mm_audio_fingerprint_dedup:
    "mm_wav_resample_features",       # resample kernel: mm_wav_decode_features + the fingerprint/VAD/clipping consumers re-prove the WAV codec every round
    # Grown r8 alongside cdc_tick_gap_census + curation_filter_agreement:
    "cdc_deleted_keys",               # tombstone listing: cdc_compaction_savings counts the same dead keys; cdc_scd2_history keeps the delete intervals
    "text_lang_stopword_id",          # stopword lang-ID: text_lang_char_ngram + text_lang_confusion_matrix keep the family emitted
    # Grown r8 alongside mm_media_dataset_card:
    "q_tumbling_hourly",              # tumbling window: q_session_windows_5m + the streaming windows parity suite keep the event-time surface emitted
    # Grown r8 alongside q_rolling_tukey_outliers:
    "q_percentiles_by_segment",       # static percentile table: q_rolling_tukey_outliers exercises exact quantiles in a window frame; text_doc_length_percentiles keeps the rank-based lane
    # Grown r9 alongside cdc_watermark_sizing, dedup_winnowing_fingerprints,
    # text_self_retrieval_mrr, embed_recall_at_k_curve (each pick has 8
    # green driver rounds r1-r8 incl. the r7/r8 full-registry records):
    "text_fingerprint_dedup",         # whole-doc md5: dedup_winnowing_fingerprints keeps the fingerprinting family rotating with strictly stronger (local) coverage; dedup_exact_union_self keeps exact dedup
    "ann_ivf_probed",                 # IVF path: composed into ann_recall_report, ann_ivf_nprobe_sweep AND embed_recall_at_k_curve every round
    "ann_pq_adc_rerank",              # PQ path: composed into both recall reports (recall@5 + the k-curve) every round; stays a pinned bench query
    "q_sliding_hourly_30m",           # sliding window: q_session_windows_5m (rotating) + the streaming windows parity suite keep the event-time surface
    "mm_jpeg_decode_features",        # gray JPEG decode moments: mm_phash_dct_near_dup + mm_image_entropy_census re-prove the gray decoder every round; mm_color_jpeg_decode_features keeps the color path
    # Grown r9 alongside mm_audio_snr_estimate + curation_anneal_mixture:
    "mm_wav_decode_features",         # whole-file WAV moments: mm_audio_snr_estimate + mm_audio_clipping_report + mm_audio_fingerprint_dedup re-prove the WAV decoder every round
    # Grown r9 alongside q_distinct_minvalue_sketch (pick has 8 green
    # driver rounds r1-r8 incl. the r7/r8 full-registry records):
    "q_approx_distinct_customers",    # HLL++ within-5pct boolean: q_distinct_sketch_merge (rotating) keeps a sketch lane rotating whose estimates themselves hash-match the oracle (strictly stronger check)
    # Grown r9 alongside cdc_txn_boundary_report, text_c4_line_cleaning
    # (each pick has 8 green driver rounds r1-r8 incl. the r9 211/211
    # full-registry record):
    "text_c4_heuristics",             # whole-doc C4 pass flags: text_c4_line_cleaning (rotating) applies the same four rules per LINE and proves the reassembled text by checksum — strict superset of the rule surface
    "q_variant_schemaless",           # JSON-path extraction over schemaless props: cdc_schema_migration_plan (rotating) parses real variant payload key sets end-to-end (json_object_keys over three producer versions)
    "dedup_minhash_lsh_candidates",   # raw LSH candidate listing: dedup_minhash_band_sweep (rotating) rebuilds the same shingle->lane-min->band-bucket join across three layouts with exact-Jaccard verification every round
    "text_bpe_merge_pairs",           # single merge-pair count: text_bpe_train_steps (rotating) re-runs the pair counting inside every training step
    # Grown r9 alongside decontam_bloom_prefilter, q_heavy_hitters_countmin,
    # mm_aspect_resize_plan (each pick has 8 green driver rounds r1-r8
    # incl. the r9 211/211 full-registry record):
    "decontam_ngram_overlap",         # exact eval-shingle overlap: decontam_bloom_prefilter (rotating) re-runs the same exact-overlap truth lane INSIDE its false-positive audit every round
    "q_approx_percentile_sketch",     # tolerance-checked percentile sketch: q_distinct_sketch_merge + q_heavy_hitters_countmin keep hash-exact sketch lanes rotating; exact-quantile lanes stay via q_rolling_tukey_outliers + text_doc_length_percentiles
    "mm_rgb_png_decode_features",     # color PNG decode moments: mm_color_ahash_near_dup consumes the same RGB decode and mm_color_jpeg_decode_features keeps the color-codec lane rotating
    # Grown r9 alongside q_distinct_sketch_merge + curation_pack_waste_report:
    "q_distinct_minvalue_sketch",     # registered earlier THIS round (driver-green at sf0.001+sf0.01 in-round): q_distinct_sketch_merge (rotating) rebuilds the identical bucket-min sketch per shard AND merged with the same exact-distinct comparison every round — strict superset
    "curation_importance_sample",     # hash-threshold importance draw: curation_stratified_sample (rotating) keeps the deterministic-sampling lane and curation_dsir_weights (rotating) keeps the importance-weight lane
    "embed_pair_sim_histogram",       # blocked cosine-pair distribution: dedup_embedding_cosine_blocked (rotating) exercises the same blocked cosine-pair kernel with a threshold decision; embed_recall_at_k_curve keeps the exact-cosine lane
    # Grown r9 alongside mm_scene_keyframes + embed_ivf_balance_report:
    "mm_mjpeg_scene_cuts",            # scene spans/means: mm_scene_keyframes (rotating) re-runs the IDENTICAL demux+decode+cut+island construction (_scene_frames) every round — a defect anywhere in that chain breaks its hash too; the span/mean lane stays in the per-round full-registry record
    "embed_centroid_outliers",        # distance-to-centroid outliers: embed_ood_mahalanobis (rotating) keeps the distance-to-profile outlier lane and embed_ivf_balance_report (rotating) re-runs the same centroid assignment
    # Grown r9 alongside curation_quality_decile_calibration +
    # q_time_weighted_average:
    "text_gopher_quality_flags",      # Gopher rule gate: the identical gate predicate is re-evaluated INSIDE curation_filter_agreement AND curation_quality_decile_calibration (both rotating) every round
    "text_quality_score",             # heuristic length/punct/stopword score: curation_quality_decile_calibration (rotating) keeps the quality-scoring lane with the stronger classifier-vs-gate check; text_length_outlier_mad keeps the robust length lane
    # Grown r9 alongside q_pagerank_handoff_graph:
    "q_mom_revenue_growth",           # month-over-month lag on a calendar aggregate: q_gap_fill_daily_revenue keeps the calendar-aggregate lane; the rolling z-score/Tukey windows keep the lag-delta lane
    # Grown r9 alongside q_clickhouse_window_funnel + q_clickhouse_retention:
    "q_click_purchase_attribution",   # last-touch attribution join: q_clickhouse_window_funnel (rotating) runs the stricter windowed ordered-sequence semantics over the same event chain
    "dedup_cluster_size_histogram",   # cluster-size distribution: dedup_near_dup_clusters (rotating) builds the same clusters and curation_funnel_report (rotating) reports the same mass reduction
    # Grown r9 alongside curation_benchmark_overlap_matrix +
    # embed_matryoshka_route_drift:
    "decontam_substring_spans",       # eval-substring spans: curation_benchmark_overlap_matrix + decontam_bloom_prefilter (both rotating) keep the shingle-decontam lanes; dedup_substring_spans keeps the span machinery itself rotating
    "embed_quantize_int8",            # int8 quantize build: ann_topk_int8_rerank (rotating) re-runs the same quantizer inside its rerank and embed_quantization_error_report keeps the width-sweep lane
    # Grown r10 alongside q_event_path_topk, q_bitmap_segment_census,
    # text_readability_report, dedup_url_canonical_groups,
    # q_sketch_intersection_estimate, curation_excess_surprisal_reweight
    # (each pick has 9 green driver rounds r1-r9 incl. the r7/r8/r9
    # full-registry records):
    "q_event_transitions",            # pairwise LAG transitions: q_event_path_topk (rotating) builds the full K-prefix ordered path through the same per-user (ts, event_id) window; q_pagerank_handoff_graph keeps the transition-edge lane
    "dedup_exact_union_self",         # exact hash-groupBy dedup: dedup_url_canonical_groups (rotating) runs the same exact group-dedup shape with the canonicalization stage on top; dedup_winnowing_fingerprints keeps the content-fingerprint lane
    "text_ttr_chunked",               # chunked lexical diversity: text_vocab_coverage_curve keeps the vocabulary-growth lane and text_readability_report (rotating) keeps the per-doc lexical-statistics census
    "text_oov_rate",                  # vocab-head OOV rate: curation_excess_surprisal_reweight (rotating) re-runs the same wordcount + rarity-bin machinery; text_vocab_coverage_curve + text_subword_fertility keep the coverage lanes
    "q_set_ops_nation_segments",      # INTERSECT/EXCEPT listing: q_bitmap_segment_census (rotating) computes the same set algebra as exact AND/OR/XOR cardinalities with integer lanes
    "q_distinct_sketch_merge",        # KMV shard-merge: q_sketch_intersection_estimate (rotating) re-runs the identical bucket-min fold for every pair's union sketch AND keeps the exact-comparison lane; q_distinct_minvalue_sketch stays the single-sketch reference
    # Grown r10 alongside q_clickhouse_sequence_count +
    # cdc_integrity_checksum (each pick has 9 green driver rounds
    # r1-r9 incl. the r7/r8/r9 full-registry records):
    "q_forward_fill_purchase",        # per-user ordered window nav (IGNORE NULLS): q_clickhouse_sequence_count (rotating) walks the same per-user (ts, event_id) order through stricter cross-engine machinery; q_gap_fill_daily_revenue keeps the fill lane
    "cdc_snapshot_overlap",           # snapshot ∪ CDC merge: its oracle IS _LATEST_ALIVE_SQL (identical to cdc_latest_state, emitted every round); the merge_upsert path stays proven by cdc_snapshot_diff (rotating) and tests/test_cdc.py
    # Grown r10 alongside q_event_rate_cusum + mm_ulaw_transcode_report
    # (each pick has 9 green driver rounds r1-r9 incl. the full-registry
    # records):
    "q_gap_fill_daily_revenue",       # calendar-bucket series + fill: q_event_rate_cusum (rotating) builds the same calendar aggregate series (hourly) with stricter fold machinery on top; sequence()/explode stays covered by curation_chunk_windows
    "mm_audio_clipping_report",       # decoded-sample magnitude census: mm_ulaw_transcode_report (rotating) re-proves the WAV decode + abs/max magnitude lanes inside the codec chain; mm_audio_vad_segments + mm_audio_snr_estimate keep the frame-energy QA lanes
    # Grown r10 alongside embed_binary_hamming_topk, cdc_time_travel_read,
    # text_instruction_format_census (each pick has 9 green driver
    # rounds r1-r9 incl. the full-registry records):
    "embed_quantization_error_report",  # quantizer width sweep: ann_topk_int8_rerank re-runs the int8 quantizer inside its rerank; embed_pq_codebooks + ann_pq_adc_rerank keep the PQ lane; embed_binary_hamming_topk (composed end-to-end in the rotating recall reports) adds the 1-bit extreme of the same axis
    "text_repetition_filter",         # duplicate-run filter: text_gopher_repetition (rotating) measures the same repeated-n-gram surface inside the full Gopher rule set; text_c4_line_cleaning keeps the rewrite lane
    # Grown r10 alongside q_window_funnel_strict +
    # curation_dataset_diff_card (each pick has 9 green driver rounds
    # r1-r9 incl. the full-registry records):
    "q_event_anomaly_zscore",         # per-user rolling z-score: its streaming twin re-proves the identical micro-unit lanes cross-batch in pytest every run; q_rolling_tukey_outliers keeps the robust rolling-window lane and q_event_rate_cusum (rotating) keeps the anomaly family rotating
    "curation_dataset_card",          # single-version card: curation_dataset_diff_card (rotating) reports the same per-source doc/token/char census for BOTH corpus versions plus retention — strict superset; mm_media_dataset_card keeps the card shape for media
    # Grown r10 alongside cdc_resync_catchup_plan:
    "cdc_late_arrival_report",        # per-user lateness census: cdc_watermark_sizing (rotating) keeps the global lateness/decision lane with the in-plan bound; the streaming late-arrival monitor re-proves the census machinery in pytest every run
    # Grown r10 alongside curation_split_leakage_audit +
    # mm_cross_container_dedup:
    "curation_train_val_test_split",  # hash split: curation_split_leakage_audit (rotating) re-runs the identical split rule inside the leakage rollup; curation_stratified_sample keeps the deterministic-sampling lane
    "mm_png_resize_features",         # PNG resize kernel: mm_aspect_resize_plan keeps the resize-decision lane; the PNG decoder is re-proven by mm_cross_container_dedup (rotating, bit-exact pixel digests) plus the phash/entropy consumers
    # Grown r10 alongside q_funnel_latency_histogram:
    "q_interval_merge_coverage",      # interval union/coverage: q_scd2_event_intervals (exempt) + cdc_scd2_history keep interval assembly; the windowed funnel family (q_clickhouse_window_funnel + q_funnel_latency_histogram, both rotating) keeps the time-bounded sequence lanes
    # Grown r11 alongside cdc_migration_applied_deadletter (pick has 10
    # green driver rounds r1-r10 incl. the full-registry records):
    "dsl_mapping_documents",          # DSL valid path on documents: cdc_migration_applied_deadletter (rotating) compiles and applies the full cast kernel (int/float casts, required rejection, optional defaults) end-to-end on real JSON payloads each round, and dsl_deadletter_split keeps the rejection-census lane
    # Grown r11 alongside the 5 other r11 registrations (summap parity,
    # multimaster conflicts, domain census, data-constrained budget,
    # mutual-kNN pairs, PCM silence census); each pick has 9-10 green
    # driver rounds incl. the r7-r10 full-registry records, and every
    # exempt name keeps per-round oracle evidence via the
    # VERIFY_FULL_r{N} full-registry drive:
    "ann_topk_vectorized",            # BLAS-matmul exact top-k: shares ann_cosine_topk_bruteforce's (rotating) oracle lane verbatim; ann_topk_int8_rerank (rotating) keeps the guarded-matmul shortlist shape; stays a pinned bench query so its perf lane is still measured every round
    "text_bpe_regex_tokens",          # GPT-2-style regex pretokenizer census: text_bpe_train_steps (rotating) runs the same pretokenization inside every training step
    "text_lang_char_ngram",           # char-ngram lang-ID scores: text_lang_confusion_matrix (rotating) evaluates the SAME classifier against truth labels end-to-end — strict superset
    # Grown r11 alongside q_clickhouse_quantile_weighted_parity +
    # q_event_sessionize_gap (each pick has 9-10 green driver rounds
    # incl. the full-registry records; still driven every round by
    # VERIFY_FULL_r{N}):
    "q_session_windows_5m",           # event-time session windows: the streaming windows parity suite re-proves the event-time surface in pytest every run; q_event_sessionize_gap (rotating) keeps the sessionization lane oracle-checked via the LAG-gap formulation
    "mm_bmp_decode_features",         # BMP decode moments: mm_cross_container_dedup (rotating) re-proves the BMP decoder bit-exactly every round via canonical decoded-pixel digests (same policy as the r8 mm_png_decode_features exemption); the byte-level orientation/padding cases stay in pytest
    "cdc_snapshot_diff",              # snapshot-vs-latest diff census: curation_dataset_diff_card (rotating) runs the same added/removed/changed census shape across corpus versions; cdc_integrity_checksum (rotating) keeps replica-vs-source divergence detection with bucket pinpointing; cdc_time_travel_read + cdc_scd2_history keep version reads
    # Grown r11 alongside q_sample_by_hash_parity, q_counter_rate_resets,
    # q_clickhouse_combinators_parity, q_simple_linreg_by_segment (each
    # pick has 2-3 green driver windows across rounds plus every
    # full-registry VERIFY_FULL record; still driven every round):
    "ann_cosine_topk_bruteforce",     # brute-force cosine truth lane: ann_recall_report (rotating) recomputes the same exact top-k as its ground truth every round; ann_topk_vectorized stays a pinned bench query
    "dedup_prefix_filter_pairs",      # raw prefix-filter pair listing: dedup_prefix_filter_clustered (rotating) rebuilds the same df-capped prefix-pair kernel and clusters it — strict superset; dedup_lsh_precision_report keeps candidate-vs-exact verification
    "embed_dim_stats",                # per-dimension moments: embed_whitening_check (rotating) consumes the same per-dim mean/var lanes inside its whitening audit every round
    "text_unigram_logprob",           # unigram LM logprob: text_kneser_ney_logprob (rotating) interpolates the same unigram distribution as its backoff floor; text_bigram_logprob keeps the n-gram logprob lane oracle-checked
    # Grown r11 alongside cdc_hot_key_skew_report, cdc_backfill_chunk_plan,
    # cdc_tombstone_gc_plan (each pick has green driver rounds plus every
    # full-registry VERIFY_FULL record; still driven every round):
    "q_window_range_30d_spend",       # RANGE frame window: q_time_weighted_average (rotating) keeps range-based temporal weighting; q_rolling_tukey_outliers keeps rolling frames; 4 green driver rounds r1-r10
    "embed_knn_label_consistency",    # kNN label agreement: embed_label_purity (rotating) keeps the label-vote lane and embed_mutual_knn_pairs (rotating) re-proves the kNN neighbor construction with the stricter mutuality check
    # Grown r11 alongside mm_qoi_decode_features, mm_adpcm_transcode_report,
    # mm_image_tile_dedup (each pick has green driver rounds plus every
    # full-registry VERIFY_FULL record; still driven every round):
    "mm_ulaw_transcode_report",       # memoryless G.711 transcode: mm_adpcm_transcode_report (rotating) runs the strictly harder STATEFUL transcode lane through the same WAV decode; mm_pcm_silence_census keeps the PCM sample lane
    "mm_audio_vad_segments",          # energy-threshold voice islands: mm_pcm_silence_census (rotating) proves the same silence/energy segmentation arithmetic on real WAVs end to end; mm_audio_fingerprint_dedup keeps the audio-content lane
    "mm_video_frame_dedup",           # frame-signature dedup: mm_scene_keyframes (rotating) re-runs the same MJPEG demux + frame-signature construction; mm_image_tile_dedup (rotating) adds the finer block-level dedup lane
    # Grown r11 alongside curation_concat_chunk_census (pick has 3 green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "curation_chunk_windows",         # overlap chunking generator: curation_concat_chunk_census (rotating) runs the harder cross-doc packing cut with the same token lanes; curation_token_pack_bins keeps best-fit binning
    # Grown r11 alongside text_boilerplate_line_census + text_code_detection
    # (each pick has 2 green driver rounds plus every full-registry
    # VERIFY_FULL record; still driven every round):
    "text_keyphrase_tfidf_topk",      # per-doc tf-idf keyphrases: dedup_tfidf_cosine_topk (rotating) re-runs the identical tf-idf weighting inside the cosine-pair kernel; text_bm25_topk keeps the term-weight ranking lane
    "text_char_entropy",              # char-distribution entropy: text_boilerplate_line_census + text_code_detection (rotating) keep character/symbol-statistics censuses; curation_excess_surprisal_reweight keeps the exact log2-bin entropy arithmetic
    # Grown r11 alongside q_array_hof_parity + embed_int8_ranking_shift
    # (each pick has 2-3 green driver rounds plus every full-registry
    # VERIFY_FULL record; still driven every round):
    "q_string_agg_segments",          # ordered string_agg: q_array_hof_parity (rotating) serializes ordered array lanes to the same canonical CSV shape; q_clickhouse_summap_parity keeps the ordered map-cell string lane
    "ann_topk_int8_rerank",           # two-stage SQ8 rerank: embed_int8_ranking_shift (rotating) re-runs the identical int8 quantizer + integer-matmul partition shortlist on TWO lanes; stays a pinned bench query and composed in both recall reports
    "dedup_containment_topk",         # asymmetric containment pairs: dedup_ngram_jaccard_topk (rotating) runs the identical df-capped single-shuffle grouped-pair kernel with the symmetric measure; dedup_prefix_filter_clustered keeps threshold-verified candidates
    # Grown r11 alongside mm_exif_orientation_census (pick has a green
    # driver round plus every full-registry VERIFY_FULL record):
    "mm_aspect_resize_plan",          # aspect bucket + resize decision: mm_exif_orientation_census (rotating) computes the same display-dimension normalization UPSTREAM of bucketing (the orientation transpose is what aspect bucketing must consume); mm_media_dataset_card keeps the dims census
    # Grown r11 alongside curation_language_gini + q_event_cooccurrence_lift
    # (each pick has 2-3 green driver rounds plus every full-registry
    # VERIFY_FULL record; still driven every round):
    "curation_stratified_sample",     # per-stratum deterministic draw: curation_reservoir_per_source (rotating) keeps the per-source bounded sampling lane; q_sample_by_hash_parity (rotating) keeps the deterministic hash-membership lane
    "text_lang_confusion_matrix",     # lang-ID evaluation matrix: curation_language_gini (rotating) consumes the same per-(source, lang) token census downstream; text_lang_char_ngram's classifier stays composed in it
    # Grown r12 alongside q_clickhouse_aggregate_state_merge AND the
    # 5 new exempt-sampling slots (EXEMPT_SAMPLE_SLOTS below), which
    # consume emission budget: steady state now needs
    # |exempt| >= |registry| - ROTATION_BUDGET + EXEMPT_SAMPLE_SLOTS.
    # Each pick has driver-green history (r11 or earlier) plus every
    # full-registry VERIFY_FULL record, and a rotating subsuming sibling:
    "mm_gif_decode_features",         # single-container decode census: mm_cross_container_dedup (rotating) decodes GIF87a through the SAME codec into the shared luma lane each round; mm_image_entropy_census keeps the decode-census output shape
    "mm_qoi_decode_features",         # single-container decode census: mm_cross_container_dedup (rotating) decodes QOI through the SAME codec into the shared luma lane; mm_image_tile_dedup keeps the QOI decode in its tile pipeline
    "mm_pcm_silence_census",          # WAV/G.711 silence framing: mm_audio_snr_estimate (rotating) runs the same PCM decode + frame-energy split; mm_adpcm_transcode_report keeps the PCM reference lane
    "text_bigram_logprob",            # bigram LM scoring: text_kneser_ney_logprob (rotating) builds the SAME unigram/bigram count tables and scores the same docs with KN smoothing layered on top
    "dedup_simhash_hamming_pairs",    # simhash band pairs: dedup_method_agreement (rotating) re-runs the identical 64-bit simhash + band join as one of its compared methods
    "q_window_funnel_strict",         # strict-order funnel: q_clickhouse_window_funnel (rotating) runs the same windowFunnel kernel (strict mode is the added predicate); q_funnel_latency_histogram keeps the step-latency lane
    # Grown r12 alongside cdc_txn_atomic_apply (pick has 3+ green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "cdc_txn_boundary_report",        # txn reconstruction census: cdc_txn_atomic_apply (rotating) consumes the SAME tid/marker lanes (2200/2201/2202) end-to-end and gates visibility on them; cdc_tick_gap_census keeps the WAL-continuity lane
    # Grown r12 alongside ann_graph_beam_topk (pick has 3+ green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "embed_binary_hamming_topk",      # binary-code ANN lane: embed_recall_at_k_curve + ann_recall_report (rotating) COMPOSE it end-to-end every round as the 'binary' method; ann_topk_int8_rerank keeps the quantized-code rerank lane
    # Grown r12 alongside the ClickHouse-parity / CDC-ops / PNM-ICO /
    # anisotropy / minhash-calibration batch (each pick has multi-round
    # green driver history plus every full-registry VERIFY_FULL record):
    "q_clickhouse_summap_parity",     # map-cell CSV aggregate: q_clickhouse_minmap_maxmap_parity (rotating) renders the same sorted k:v map cells WITH the two-level merge fold on top; q_clickhouse_combinators_parity keeps the sum-aggregate lanes
    "q_clickhouse_sequence_count",    # ordered-chain counting: q_clickhouse_window_funnel (rotating) runs the same windowed ordered-event-chain kernel; q_event_sessionize_gap keeps the gap-ordering lane
    "q_funnel_latency_histogram",     # funnel step latencies: q_clickhouse_window_funnel (rotating) matches the same step chains; q_clickhouse_quantile_weighted_parity keeps the weighted-distribution lane
    "text_doc_length_percentiles",    # doc-length distribution: text_length_outlier_mad (rotating) computes the same per-doc length relation with the robust stats on top; q_percentiles_by_segment keeps the percentile kernel
    "text_zipf_slope",                # rank-frequency fit: text_vocab_coverage_curve (rotating) consumes the same rank-ordered frequency relation; curation_perplexity_buckets keeps the unigram-LM lane
    "embed_whitening_check",          # covariance-identity validation: embed_pca_power_iteration (rotating) builds the same exact-decimal covariance aggregate; embed_ood_mahalanobis keeps the precision-consumer lane
    "embed_silhouette_approx",        # cluster-quality score: embed_label_purity (rotating) evaluates the same shared cell assignment; embed_ivf_balance_report keeps the occupancy lane
    "dedup_tfidf_cosine_topk",        # tf-idf weighted pairs: text_bm25_topk (rotating) builds the same idf-weighted postings kernel; dedup_prefix_filter_clustered keeps the cosine-pair lane
    "embed_matryoshka_recall",        # prefix-slice recall: embed_matryoshka_route_drift (rotating) re-runs the same full-vs-prefix assignment comparison; embed_recall_at_k_curve keeps the recall-curve kernel
    "text_hashed_ngram_classifier",   # hashed-feature classifier: curation_quality_decile_calibration (rotating) COMPOSES it end-to-end every round; curation_dsir_weights keeps the hashed-feature lane
    # Grown r12 alongside q_clickhouse_grouparray_sorted_parity /
    # cdc_mutation_rewrite_cost / curation_dedup_threshold_curve (each
    # pick has multi-round green driver history plus every VERIFY_FULL):
    "curation_dedup_keep_list",       # keep-list at a single gate: curation_dedup_threshold_curve (rotating) sweeps the SAME keep-lowest-id drop rule across four gates; curation_segment_dedup_rewrite keeps the rewrite lane
    "text_source_kl_mixture",         # source-divergence mixing: curation_excess_surprisal_reweight (rotating) computes the same per-source unigram-LM surprisal lanes; curation_domain_mixture_weights keeps the mixing decision
    "embed_pq_codebooks",             # PQ codebook training: ann_pq_adc_rerank (rotating) trains and applies the IDENTICAL _pq_codes subspace codebooks end-to-end every round
    # Grown r12 alongside q_sample_offset_parity (pick has multi-round
    # green driver history plus every VERIFY_FULL record):
    "curation_epoch_shuffle",         # salted-md5 permutation sharding: curation_shard_export (rotating) runs the same deterministic permutation assignment; curation_shard_balance_report (rotating) audits the same shard mass
    # Grown r13 alongside ann_incremental_index_parity (pick has 3+
    # green driver rounds plus every full-registry VERIFY_FULL record):
    "embed_kmeans_lloyd",             # seeded assignment + Lloyd round: embed_recall_at_k_curve / ann_recall_report (rotating) run the same seeded broadcast-argmax assignment every round, and ann_incremental_index_parity (rotating) re-runs it against frozen centroids; embed_pca_power_iteration keeps the exact-decimal centroid-fold shape
    # Grown r13 alongside q_clickhouse_uniq_hll_parity (pick has 4+
    # green driver rounds plus every full-registry VERIFY_FULL record):
    "cdc_latest_state",               # ReplacingMergeTree merge-on-read kernel: cdc_txn_atomic_apply and cdc_time_travel_read (rotating) run the same preprocess -> version-dedup -> latest_alive kernel end-to-end every round; stays a pinned bench query so its perf lane is still measured
    # Grown r13 alongside cdc_projection_advisor (pick has 3+ green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "curation_perplexity_buckets",    # unigram-LM perplexity bucketing: curation_excess_surprisal_reweight (rotating) computes the same per-source unigram-LM surprisal through the same bounded vocab, and text_kneser_ney_logprob (rotating) scores the same docs with the smoothed LM layered on top; stays a pinned bench query
    # Grown r13 alongside ann_incremental_search_read /
    # q_clickhouse_uniq_upto_parity / q_clickhouse_topk_weighted_parity
    # (each pick has multi-round green driver history plus every
    # full-registry VERIFY_FULL record):
    "q1_pricing_summary",             # grouped lineitem aggregate kernel: q_weighted_avg_discount (rotating) aggregates the same lineitem measure lanes with the same exact-decimal discipline; stays a pinned bench query so the flagship perf lane is measured every round
    "cdc_scd2_history",               # versioned-history windows: cdc_time_travel_read (rotating) reads the same versioned change stream at each version cut every round; cdc_snapshot_diff keeps the history-diff lane
    "text_pii_redaction",             # pattern-replacement transform lane: text_c4_line_cleaning (rotating) applies the same replace-based line transforms end-to-end; text_instruction_format_census keeps the regex census lane
    # Grown r13 alongside mm_tga_decode_features (pick has 3+ green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "decontam_minhash_fuzzy",         # fuzzy decontam via minhash banding: dedup_minhash_band_sweep (rotating) re-runs the identical shingle/lane-min/band kernel three ways every round, and curation_contamination_report (rotating) composes the decontam candidate lanes; decontam_bloom_prefilter keeps the decontam gate lane
    # Grown r14 alongside ann_incremental_pq_parity /
    # ann_incremental_graph_parity (each pick has 3+ green driver rounds
    # plus every full-registry VERIFY_FULL record):
    "dedup_semdedup_dropped",         # seeded-cell cosine drop rule: curation_cluster_representatives (rotating) evaluates the same seeded-cell assignment + within-cell cosine-to-centroid kernel every round (keepers instead of drops); curation_coreset_kcenter keeps the cell-local selection lane
    "curation_token_pack_bins",       # greedy token packing: curation_pack_waste_report (rotating) re-runs the identical deterministic bin-packing kernel and audits its waste every round; curation_concat_chunk_census keeps the chunk-boundary lane
    # Grown r14 alongside q_clickhouse_quantile_state_parity (pick has
    # 4 green driver rounds plus every full-registry VERIFY_FULL record):
    "text_vocab_build",               # bounded rank-ordered vocab: text_vocab_coverage_curve (rotating) rebuilds the same rank-ordered bounded vocabulary every round with the coverage curve on top; text_oov_rate keeps the vocab-membership lane; stays a pinned bench query
    # Grown r14 alongside ann_incremental_pq_search_read /
    # ann_incremental_graph_search_read (each pick has 3+ green driver
    # rounds plus every full-registry VERIFY_FULL record):
    "curation_fim_split",             # deterministic hash-split spans: curation_funnel_report (rotating) composes the curation decision lanes end-to-end, and curation_concat_chunk_census (rotating) audits the same span-boundary arithmetic; stays a pinned bench query via curation_shard_export's family
    "dedup_substring_spans",          # rolling-hash span matching: dedup_winnowing_fingerprints (rotating) selects window minima over the same rolling-hash shingle lane every round; decontam_substring_spans keeps the eval-side-broadcast orientation of the identical kernel
    # Grown r14 alongside mm_pcx_decode_features (pick has 5 green
    # driver rounds plus every full-registry VERIFY_FULL record):
    "q_asof_join_latest_order",       # as-of (latest-at-or-before) selection: cdc_time_travel_read (rotating) serves the same latest-at-or-before-cut selection over the versioned stream every round; q_argmax_latest_order keeps the argmax-latest lane and stays a pinned bench query
    # Grown r14 alongside q_clickhouse_max_intersections_parity (pick
    # has 5 green driver rounds plus every full-registry VERIFY_FULL):
    "q_range_join_event_bursts",      # time-range interval join: q_clickhouse_max_intersections_parity (rotating) sweeps the same derived activity intervals with the +1/-1 point kernel, and q_event_sessionize_gap (rotating) keeps the gap-ordered event lane; q_interval_merge_coverage keeps the islands-merge lane
})

# How many emitted slots per round go to the deterministic
# least-recently-driver-verified cycle over ROTATION_EXEMPT (module
# docstring, "EXEMPT DRIVER SAMPLING").
EXEMPT_SAMPLE_SLOTS = 5


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: broadcast-dim star join + grouped revenue."""
    return QUERIES[FLAGSHIP].build(spark, SMOKE_SF_DIR)


def _previously_verified() -> dict[str, int]:
    """Names with a prior driver correctness row that actually checked
    out, mapped to the LAST round number they were verified in.

    ``hash_match: true`` counts for oracle-backed queries; for oracle-less
    (rows-only) entries a recorded ``spark_rows`` with the ``no_oracle``
    marker counts as their (weaker, by design) check having run.
    """
    seen: dict[str, int] = {}
    for path in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match") is True
            if not ok and row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                # Rows-only check only still counts if the query is STILL
                # oracle-less; if an oracle was added since, re-verify.
                q = QUERIES.get(name)
                ok = q is not None and q.oracle is None
            if ok:
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def _ordered_names() -> list[str]:
    """Never-verified queries first (registry order); verified ones after,
    least-recently-verified first, so the bounded per-round window both
    covers new work immediately and cycles regression checks over old.
    Capped at ROTATION_BUDGET names: rotation-exempt entries are dropped
    first (never-verified names are always kept), and re-enter if the
    emitted set has room."""
    seen = _previously_verified()
    names = list(QUERIES)
    idx = {n: i for i, n in enumerate(names)}
    unseen = [n for n in names if n not in seen]
    green = sorted((n for n in names if n in seen), key=lambda n: (seen[n], idx[n]))
    # r12 exempt driver sampling: the oldest-driver-verified exempt names
    # lead the emission (green is already least-recently-verified-first,
    # so the first EXEMPT_SAMPLE_SLOTS exempt entries of green ARE the
    # cycle's next batch); they are pulled to the front so they land in
    # the driver's verification window, and protected from the drop.
    sample = [n for n in green if n in ROTATION_EXEMPT][:EXEMPT_SAMPLE_SLOTS]
    green = [n for n in green if n not in sample]
    ordered = sample + unseen + green
    if len(ordered) > ROTATION_BUDGET:
        excess = len(ordered) - ROTATION_BUDGET
        droppable = [n for n in ordered
                     if n in ROTATION_EXEMPT and n not in unseen
                     and n not in sample]
        # r13 (VERDICT r12 item 4): drop the FRESHEST-evidence exempt
        # names (droppable is LRU-ordered, so that's the tail). The old
        # head-drop evicted exactly the stalest exempt names, so window
        # slots left over after `sample + unseen` went to younger
        # non-exempt entries and exempt evidence aged ~8 rounds; keeping
        # the stale end lets otherwise-unused slots cycle the oldest
        # evidence regardless of exempt status.
        drop = set(droppable[max(0, len(droppable) - excess):])
        ordered = [n for n in ordered if n not in drop]
        if len(ordered) > ROTATION_BUDGET:
            # The exempt pool no longer covers the excess: a query was
            # registered without growing ROTATION_EXEMPT in the same
            # commit (or, legitimately, >150 names are never-verified and
            # must all be emitted). Warn loudly instead of silently
            # exceeding the documented 3-round re-verification bound;
            # tests/test_entry_contract.py asserts the steady-state
            # (all-verified) registry never takes this branch.
            print(
                f"WARNING __spark_entry__: emitting {len(ordered)} names > "
                f"ROTATION_BUDGET={ROTATION_BUDGET}; grow ROTATION_EXEMPT "
                "with a subsumed variant in the same commit as the new "
                "registration",
                file=sys.stderr,
            )
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2), rotation-ordered."""
    return {name: QUERIES[name].build for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted for non-SQL-expressible ops."""
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
