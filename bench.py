#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end to end with the noop sink; the flagship runs
once untimed as JVM warm-up. ``SPARK_GRAFT_ONLY=a,b,c`` runs just the
named queries. Wall time is reported, never gated. The gate is the
plan-shape ledger in BENCH_SELF.json: per query, the counts in
``plans/capture.SHAPE_NODES`` over the final plan plus every
localCheckpoint()ed subtree. A plan repeats exactly for the same code
and data, so a count above the committed entry at the same sf exits 2;
otherwise the run writes its entries into the ledger, and an intended
rise is a reviewed hand edit of the file. Jobs and stages are recorded
beside wall time but not gated: AQE timing moves them between runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from arango_clickhouse_replica_spark.plans.capture import (  # noqa: E402
    SHAPE_NODES,
    captured_checkpoint_subtrees,
    plan_shape,
    whole_computation_plans,
)
from arango_clickhouse_replica_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SELF_RECORDING = "BENCH_SELF.json"
GATED = tuple(SHAPE_NODES)

# Representative of every operator family; heavy pairwise ops use their
# scale-path variants. The jaccard pair join is back in the headline set
# now that its shingle blocking carries a hot-shingle document-frequency
# cap (operators/blocking.py).
HEADLINE = [
    "q1_pricing_summary",
    "q3_revenue_by_nation",
    "q_supplier_part_volume",
    "q_orders_per_customer",
    "q_window_top_orders_per_customer",
    "q_window_running_spend",
    "q_set_ops_nation_segments",
    "q_asof_join_latest_order",
    "q_window_range_30d_spend",
    "q_percentiles_by_segment",
    "q_argmax_latest_order",
    "dsl_mapping_documents",
    "q_json_extract_props",
    "q_explode_token_counts",
    "q_tumbling_hourly",
    "q_session_windows_5m",
    "cdc_latest_state",
    "cdc_snapshot_overlap",
    "text_fingerprint_dedup",
    "text_quality_score",
    "dedup_exact_union_self",
    "dedup_ngram_jaccard_topk",
    "llm_corpus_curation",
    "q_variant_schemaless",
    "dedup_minhash_lsh_candidates",
    "dedup_simhash_fingerprints",
    "ann_topk_vectorized",
    "embed_quantize_int8",
    "curation_shard_export",
    "text_vocab_build",
    "text_unigram_logprob",
    "text_source_kl_mixture",
    "text_bigram_heavy_hitters",
    "ann_topk_int8_rerank",
    "curation_segment_dedup_rewrite",
    "curation_perplexity_buckets",
    "text_hashed_ngram_classifier",
    "text_bm25_topk",
    "dedup_tfidf_cosine_topk",
    "text_zipf_slope",
    "embed_kmeans_lloyd",
    "embed_dim_stats",
    "curation_reservoir_per_source",
    "q_click_purchase_attribution",
    "embed_pq_codebooks",
    "ann_pq_adc_rerank",
    "text_oov_rate",
    "text_cross_source_dup_matrix",
    "dedup_prefix_filter_pairs",
    "cdc_scd2_history",
    "curation_train_val_test_split",
    "curation_importance_sample",
    "ann_recall_report",
    "text_vocab_coverage_curve",
    "curation_dedup_keep_list",
    "mm_wav_decode_features",
    "mm_png_decode_features",
    "dedup_simhash_hamming_pairs",
    "decontam_minhash_fuzzy",
    "text_bpe_merge_pairs",
    "cdc_snapshot_diff",
    "text_lang_confusion_matrix",
    "dedup_method_agreement",
    "curation_funnel_report",
    "dedup_substring_spans",
    "dedup_semdedup_dropped",
    "decontam_substring_spans",
    "mm_jpeg_decode_features",
    "mm_wav_resample_features",
    "embed_centroid_outliers",
    "curation_contamination_report",
    "curation_cluster_representatives",
    "text_keyphrase_tfidf_topk",
    "embed_pca_power_iteration",
    "mm_mjpeg_frame_sample",
    "mm_wav_frame_features",
    "text_bpe_train_steps",
    "dedup_lsh_precision_report",
    "text_ngram_novelty",
    "dedup_prefix_filter_clustered",
    "text_gopher_repetition",
    "text_gopher_quality_flags",
    "text_doc_length_percentiles",
    "curation_domain_mixture_weights",
    "curation_epoch_shuffle",
    "dedup_cluster_size_histogram",
    "embed_pair_sim_histogram",
    "mm_ahash_near_dup",
    "dedup_containment_topk",
    "curation_quality_weighted_mixture",
    "embed_whitening_check",
    "mm_audio_vad_segments",
    "ann_ivf_nprobe_sweep",
    "text_char_entropy",
    "embed_label_purity",
    "mm_rgb_png_decode_features",
    "mm_color_jpeg_decode_features",
    "mm_color_ahash_near_dup",
    "text_rrf_fusion",
    "text_bigram_logprob",
    "embed_matryoshka_recall",
    "curation_dsir_weights",
    "text_c4_heuristics",
    "embed_hard_negatives",
    "mm_mjpeg_scene_cuts",
    "embed_silhouette_approx",
    "dedup_minhash_band_sweep",
    "curation_unimax_budget",
    "embed_knn_label_consistency",
    "text_ttr_chunked",
    "mm_audio_clipping_report",
    "text_cooccurrence_pmi",
    "embed_quantization_error_report",
    "curation_shard_balance_report",
    "curation_dedup_survivorship_bias",
    "q_interval_merge_coverage",
    "cdc_late_arrival_report",
    "curation_temperature_mixture",
    "text_subword_fertility",
    "embed_ood_mahalanobis",
    "curation_coreset_kcenter",
    "mm_video_frame_dedup",
    "text_length_outlier_mad",
    "q_event_anomaly_zscore",
    "mm_phash_dct_near_dup",
    "cdc_compaction_savings",
    "text_kneser_ney_logprob",
    "mm_image_entropy_census",
    "mm_audio_fingerprint_dedup",
    "cdc_tick_gap_census",
    "curation_filter_agreement",
    "mm_media_dataset_card",
    "q_rolling_tukey_outliers",
    "cdc_watermark_sizing",
    "dedup_winnowing_fingerprints",
    "text_self_retrieval_mrr",
    "embed_recall_at_k_curve",
    "mm_audio_snr_estimate",
    "curation_anneal_mixture",
    "q_distinct_minvalue_sketch",
    "cdc_txn_boundary_report",
    "text_c4_line_cleaning",
    "decontam_bloom_prefilter",
    "q_heavy_hitters_countmin",
    "mm_aspect_resize_plan",
    "q_distinct_sketch_merge",
    "curation_pack_waste_report",
    "mm_scene_keyframes",
    "embed_ivf_balance_report",
    "curation_quality_decile_calibration",
    "q_time_weighted_average",
    "q_pagerank_handoff_graph",
    "q_clickhouse_window_funnel",
    "q_clickhouse_retention",
    "curation_benchmark_overlap_matrix",
    "embed_matryoshka_route_drift",
    "q_event_path_topk",
    "q_bitmap_segment_census",
    "text_readability_report",
    "dedup_url_canonical_groups",
    "q_sketch_intersection_estimate",
    "curation_excess_surprisal_reweight",
    "mm_bmp_decode_features",
    "q_clickhouse_sequence_count",
    "cdc_integrity_checksum",
    "q_event_rate_cusum",
    "mm_ulaw_transcode_report",
    "embed_binary_hamming_topk",
    "cdc_time_travel_read",
    "text_instruction_format_census",
    "q_window_funnel_strict",
    "curation_dataset_diff_card",
    "cdc_resync_catchup_plan",
    "cdc_schema_migration_plan",
    "curation_split_leakage_audit",
    "mm_cross_container_dedup",
    "q_funnel_latency_histogram",
    "cdc_migration_applied_deadletter",
    "q_clickhouse_summap_parity",
    "cdc_multimaster_conflicts",
    "text_url_domain_census",
    "curation_data_constrained_budget",
    "embed_mutual_knn_pairs",
    "mm_pcm_silence_census",
    "q_clickhouse_quantile_weighted_parity",
    "q_event_sessionize_gap",
    "mm_gif_decode_features",
    "q_sample_by_hash_parity",
    "q_counter_rate_resets",
    "q_clickhouse_combinators_parity",
    "q_simple_linreg_by_segment",
    "cdc_hot_key_skew_report",
    "cdc_backfill_chunk_plan",
    "cdc_tombstone_gc_plan",
    "mm_qoi_decode_features",
    "mm_adpcm_transcode_report",
    "mm_image_tile_dedup",
    "curation_concat_chunk_census",
    "text_boilerplate_line_census",
    "text_code_detection",
    "q_array_hof_parity",
    "embed_int8_ranking_shift",
    "mm_exif_orientation_census",
    "curation_language_gini",
    "q_event_cooccurrence_lift",
    "q_clickhouse_aggregate_state_merge",
    "cdc_txn_atomic_apply",
    "ann_graph_beam_topk",
    "q_clickhouse_minmap_maxmap_parity",
    "q_clickhouse_moving_sum_parity",
    "q_clickhouse_bitmap_ops_parity",
    "cdc_part_overlap_depth",
    "cdc_column_codec_advisor",
    "cdc_ttl_partition_drop_plan",
    "mm_pnm_decode_features",
    "mm_ico_container_census",
    "embed_anisotropy_report",
    "dedup_minhash_estimate_error",
    "q_clickhouse_grouparray_sorted_parity",
    "cdc_mutation_rewrite_cost",
    "curation_dedup_threshold_curve",
    "q_sample_offset_parity",
    "ann_incremental_index_parity",
    "q_clickhouse_uniq_hll_parity",
    "cdc_projection_advisor",
    "ann_incremental_search_read",
    "q_clickhouse_uniq_upto_parity",
    "q_clickhouse_topk_weighted_parity",
    "mm_tga_decode_features",
    "ann_incremental_pq_parity",
    "ann_incremental_graph_parity",
    "q_clickhouse_quantile_state_parity",
    "ann_incremental_pq_search_read",
    "ann_incremental_graph_search_read",
    "mm_pcx_decode_features",
    "q_clickhouse_max_intersections_parity",
]


def shape_of(spark, name: str, sf_dir: str = SF_DIR):
    """Build ``name`` and count the gated nodes of its whole computation.
    Returns ``(df, counts)``; building runs any eager checkpoints."""
    with captured_checkpoint_subtrees() as subtrees:
        df = QUERIES[name].build(spark, sf_dir)
    return df, plan_shape(whole_computation_plans(df, subtrees)[0])


def measure(spark, name: str, sf_dir: str = SF_DIR) -> dict:
    """One query's ledger entry. The first pass absorbs plan compilation,
    codegen and JIT and yields the plan-shape counts; the faster of two
    more passes gives the wall time, with the jobs and stages it ran
    (the min of two rejects one-off GC or scheduler hiccups)."""
    df, entry = shape_of(spark, name, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    best = None
    for i in range(2):
        group = f"bench:{name}:{i}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        if best is None or wall < best[0]:
            best = (wall, tracker.getJobIdsForGroup(group))
    wall, jobs = best
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = sum(len(i.stageIds) for i in infos if i is not None)
    return dict(entry, wall_s=round(wall, 3), jobs=len(jobs), stages=stages)


def check_plan_shape(entries: dict[str, dict], sf, path: Path | None = None) -> None:
    """Compare each entry's gated counts with the ledger's entry for the
    same query at the same sf. A query missing from the ledger, or a
    ledger at another sf, is recorded without comparison. Any count
    above the ledger exits 2 naming the query and the counter; otherwise
    the ledger is rewritten with this run's entries."""
    path = path or Path(__file__).resolve().parent / SELF_RECORDING
    ledger = json.loads(path.read_text()) if path.exists() else {}
    prior = ledger["queries"] if ledger.get("sf") == sf else {}
    grown = [
        f"{name}: {key} {prior[name][key]} -> {entry[key]}"
        for name, entry in entries.items() if name in prior
        for key in GATED if entry[key] > prior[name].get(key, entry[key])
    ]
    if grown:
        print(f"BENCH PLAN-SHAPE REGRESSION (gated counts above {path.name}; "
              "an intended rise is a reviewed edit of that file):",
              file=sys.stderr)
        for line in grown:
            print(f"  {line}", file=sys.stderr)
        raise SystemExit(2)
    payload = {"sf": sf, "queries": {**prior, **entries}}
    path.write_text(json.dumps(payload, indent=1, sort_keys=True) + "\n")


def main() -> None:
    from arango_clickhouse_replica_spark.session import get_spark

    only = os.environ.get("SPARK_GRAFT_ONLY")
    names = [n.strip() for n in only.split(",") if n.strip()] if only else HEADLINE
    unknown = sorted(n for n in names if n not in QUERIES)
    if unknown:
        raise SystemExit("SPARK_GRAFT_ONLY: unknown query name(s): "
                         + ", ".join(unknown))

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (JVM/codegen/parquet footer caches)
    QUERIES["q3_revenue_by_nation"].build(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    entries = {}
    for name in names:
        entries[name] = measure(spark, name)
        print(f"bench {name}: " + " ".join(
            f"{k}={v}" for k, v in entries[name].items()), file=sys.stderr)

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    # Compact machine line: the driver records only a ~2000-char stdout
    # tail, so print totals and the worst three; every entry is in the
    # ledger file.
    timings = {n: e["wall_s"] for n, e in entries.items()}
    worst3 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:3])
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3), "unit": "sec",
        "n": len(timings), "queries": worst3,
        "full_timings_file": SELF_RECORDING, "sf": sf,
    }))
    check_plan_shape(entries, sf)


if __name__ == "__main__":
    main()
