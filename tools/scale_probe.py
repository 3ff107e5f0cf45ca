#!/usr/bin/env python
"""Scale probe: synthesize ~K x sf0.1 data (default 10x ≈ sf1) and measure
how the headline operators scale, writing docs/SCALING.md.

Keys are shifted per replica so cardinalities grow with the data (joins,
dedup groups, and windows see K x as many keys, not K x hotter keys);
document text gets a per-replica salt so fingerprints stay distinct.
A near-linear time ratio (~K) means the operator is shuffle/partition
bound as designed; super-linear growth flags a pairwise blowup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = "/root/testdata/sf0.1"
K = int(os.environ.get("SCALE_PROBE_K", "10"))
# Selective re-probe: SCALE_PROBE_ONLY=a,b,c restricts to those queries
# and PATCHES their rows in the existing table instead of rewriting it.
ONLY = [s for s in os.environ.get("SCALE_PROBE_ONLY", "").split(",") if s]

PROBES = [
    "q1_pricing_summary",
    "q3_revenue_by_nation",
    "q_asof_join_latest_order",
    "cdc_latest_state",
    "text_fingerprint_dedup",
    "llm_corpus_curation",
    "dedup_minhash_lsh_candidates",
    "ann_topk_vectorized",
    "dedup_ngram_jaccard_topk",
    "decontam_ngram_overlap",
    "text_repetition_filter",
    "text_vocab_build",
    "curation_shard_export",
    "curation_chunk_windows",
    "curation_dataset_card",
    "embed_quantize_int8",
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
    "cdc_scd2_history",
    "curation_train_val_test_split",
    "curation_importance_sample",
    "ann_recall_report",
    "text_vocab_coverage_curve",
    "curation_dedup_keep_list",
    "dedup_simhash_hamming_pairs",
    "decontam_minhash_fuzzy",
    "text_bpe_merge_pairs",
    "cdc_snapshot_diff",
    "mm_wav_decode_features",
    "mm_png_decode_features",
    "mm_png_resize_features",
    "dedup_exact_union_self",
    "dedup_simhash_fingerprints",
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
    "q_recursive_order_chains",
    "q_funnel_conversion",
    "q_cohort_retention",
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


def synthesize(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    def replicate(df, key_cols: dict, salt_text: str | None = None):
        parts = []
        for i in range(K):
            d = df
            for col, span in key_cols.items():
                d = d.withColumn(col, F.col(col) + F.lit(i * span).cast("long"))
            if salt_text and i > 0:
                d = d.withColumn(salt_text,
                                 F.concat(F.col(salt_text), F.lit(f" r{i}")))
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    spans = {}
    # orders/customer first: their key spans parameterize lineitem
    for name in ("orders", "customer", "lineitem", "events",
                 "documents", "embeddings"):
        if name == "events":
            # keep ts as raw nanos long so load_table's micros conversion
            # applies identically to the synthesized copy
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        if name == "lineitem":
            out = replicate(df, {"l_orderkey": spans["orders"]})
        elif name == "orders":
            spans["orders"] = df.agg(F.max("o_orderkey")).collect()[0][0] + 1
            cspan = spark.read.parquet(f"{BASE}/customer.parquet").agg(
                F.max("c_custkey")).collect()[0][0] + 1
            spans["customer"] = cspan
            out = replicate(df, {"o_orderkey": spans["orders"],
                                 "o_custkey": cspan})
        elif name == "customer":
            out = replicate(df, {"c_custkey": spans["customer"]})
        elif name == "events":
            span = df.agg(F.max("event_id")).collect()[0][0] + 1
            out = replicate(df, {"event_id": span})
        elif name == "documents":
            span = df.agg(F.max("doc_id")).collect()[0][0] + 1
            out = replicate(df, {"doc_id": span}, salt_text="text")
        else:  # embeddings
            span = df.agg(F.max("vec_id")).collect()[0][0] + 1
            out = replicate(df, {"vec_id": span})
        out.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    for name in ("region", "nation", "supplier", "part"):
        spark.read.parquet(f"{BASE}/{name}.parquet").write.mode(
            "overwrite").parquet(f"{out_dir}/{name}.parquet")


def time_queries(spark, queries, sf_dir: str) -> dict[str, float]:
    # Min of repeated warm runs: the box is shared, and an external
    # noisy neighbor inflates a single timing by 2-10x (observed); the
    # MIN over a few runs estimates the uncontended cost.
    out = {}
    for name in (ONLY or PROBES):
        queries[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            queries[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 2)
    return out


def main() -> None:
    from arango_clickhouse_replica_spark.queries import QUERIES
    from arango_clickhouse_replica_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        print(f"synthesizing {K}x sf0.1 into {big_dir} ...", file=sys.stderr)
        synthesize(spark, big_dir)
        base_t = time_queries(spark, QUERIES, BASE)
        big_t = time_queries(spark, QUERIES, big_dir)
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)

    if ONLY:
        # patch mode: replace (or append) just the probed rows in place
        out = Path("docs/SCALING.md")
        txt_lines = out.read_text().splitlines()
        for name in ONLY:
            r = big_t[name] / base_t[name] if base_t[name] > 0 else float("nan")
            row = f"| {name} | {base_t[name]} | {big_t[name]} | {r:.1f}x |"
            for i, ln in enumerate(txt_lines):
                if ln.startswith(f"| {name} |"):
                    txt_lines[i] = row
                    break
            else:
                # append into the MAIN table only (before the first "## "
                # prose heading — later sections have their own tables)
                first_heading = next(
                    (i for i, ln in enumerate(txt_lines)
                     if ln.startswith("## ")), len(txt_lines))
                last = max(i for i, ln in enumerate(txt_lines[:first_heading])
                           if ln.startswith("| "))
                txt_lines.insert(last + 1, row)
        out.write_text("\n".join(txt_lines) + "\n")
        print(json.dumps({"K": K, "base": base_t, "big": big_t}))
        return

    lines = [
        "# SCALING — measured time ratios at Kx data",
        "",
        f"Synthesized {K}x sf0.1 (~sf{K/10:g}, keys shifted per replica so",
        "cardinalities scale too), warm-run timings on local[32].",
        f"A ratio near {K} = linear scaling (shuffle/partition bound);",
        "well below = fixed overhead still dominates; well above = blowup.",
        "",
        f"| query | sf0.1 (s) | ~sf{K/10:g} (s) | ratio |",
        "|---|---|---|---|",
    ]
    for name in PROBES:
        r = big_t[name] / base_t[name] if base_t[name] > 0 else float("nan")
        lines.append(f"| {name} | {base_t[name]} | {big_t[name]} | {r:.1f}x |")
    # Preserve any prose sections (## ...) appended after the table —
    # exonerations and per-round notes survive a re-probe.
    out = Path("docs/SCALING.md")
    notes = ""
    if out.exists():
        txt = out.read_text()
        idx = txt.find("\n## ")
        if idx != -1:
            notes = txt[idx:]
    out.write_text("\n".join(lines) + "\n" + notes)
    print(json.dumps({"K": K, "base": base_t, "big": big_t}))


if __name__ == "__main__":
    main()
