#!/usr/bin/env python
"""Regenerate docs/PLANS.md: formatted physical plans of the flagship
queries with plan-quality commentary. Run after plan-affecting changes."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"

COMMENT = {
    "q3_revenue_by_nation":
        "Star join: dims broadcast (no fact shuffle for dim joins); single "
        "hash aggregate with map-side partials.",
    "q1_pricing_summary":
        "Filter reaches the parquet scan (PushedFilters) and only "
        "referenced columns are read (ReadSchema).",
    "q_asof_join_latest_order":
        "As-of join: exactly ONE hash exchange on the key + sort + window "
        "carry-forward; no inequality join.",
    "cdc_latest_state":
        "ReplacingMergeTree semantics: one shuffle on the key, per-key "
        "top-1 window, soft-delete filter.",
    "dedup_minhash_lsh_candidates":
        "One md5 per shingle, 8 MIN lanes in a single map-side-combinable "
        "aggregate; band self-join is the only wide join.",
    "q_funnel_conversion":
        "Funnel stages aggregate to per-user minima BEFORE joining "
        "(broadcast user-cardinality sides), then one row of conditional "
        "counts — no event-x-event join anywhere.",
    "curation_token_pack_bins":
        "Sequence packing: one window per language partition (single hash "
        "exchange + sort), bin id derived arithmetically from the running "
        "sum — no second pass.",
    "decontam_ngram_overlap":
        "Decontamination: the eval shingle set BROADCASTS (it is tiny vs "
        "the corpus); the overlap probe is a broadcast-hash join on every "
        "shingle partition — the 100 TB corpus is never shuffled for the "
        "check.",
    "text_repetition_filter":
        "Repetition filter: one bigram explode feeding two stacked "
        "map-side-combinable aggregates on (doc, bigram) then (doc); the "
        "token-stats join is doc_id-keyed (broadcast at this scale, SMJ "
        "at 100 TB — both fine, high-cardinality key).",
    "curation_shard_export":
        "Shard export: ONE exchange on the 64-way shard key (the "
        "writer's partitionBy), per-shard window for the deterministic "
        "sequence; everything upstream is a narrow projection.",
    "curation_dataset_card":
        "Dataset card: Spark expands COUNT(DISTINCT) into a two-level "
        "aggregate — partial on (source, lang, fingerprint), final on "
        "(source, lang) — all map-side combinable, no join.",
    "embed_quantize_int8":
        "Int8 quantization: a pure narrow projection over the embedding "
        "scan (no exchange anywhere); the whole kernel is JVM-side "
        "codegen (transform/aggregate HOFs), no Python.",
    "text_unigram_logprob":
        "Unigram LM scoring (round-5 final shape): vocab CAPPED at "
        "top-65536 + <unk> (the CCNet bound), so the logprob relation "
        "is <= 65537 rows BY CONSTRUCTION and its broadcast onto the "
        "occurrence stream is justified at any corpus size; head "
        "selection is a distributed TakeOrderedAndProject, <unk> and "
        "corpus totals are 1-row broadcasts, and ONE "
        "map-side-combinable groupBy(doc_id) carries n_docs-bounded "
        "partials. Measured 1.2x at 10x data (was 3.8x as a word-keyed "
        "shuffle join; an unhinted join let the planner broadcast the "
        "CORPUS side — 5x). Log terms are rounded-DECIMAL lanes so the "
        "sums stay exact.",
    "text_source_kl_mixture":
        "Source-KL mixture stat: word-keyed hash joins, source totals "
        "broadcast (few strata), corpus total a 1-row broadcast; the KL "
        "sum is an exact decimal lane per (source, word) folded in one "
        "final aggregate.",
    "text_bigram_heavy_hitters":
        "Heavy-hitter bigrams: COUNT + COUNT(DISTINCT doc) expand to the "
        "standard two-level aggregate; the global top-20 is "
        "TakeOrderedAndProject (per-partition local top-k, driver merge) "
        "— never a single-partition sort of the full bigram table.",
    "ann_topk_int8_rerank":
        "Two-stage quantized ANN (round-4 shape): int8 code projection "
        "is narrow codegen; stage 1 is a mapInPandas scan scoring each "
        "Arrow batch against the broadcast query-code matrix with one "
        "exact-int64 matmul and emitting per-partition shortlists, so "
        "the exchange carries partitions*Q*(k+1) rows regardless of N; "
        "the full-precision rescore joins the tiny shortlist back to "
        "the vector table by broadcast.",
    "curation_segment_dedup_rewrite":
        "Segment-dedup rewrite: segments key on md5 digests; the dup set "
        "(df>=2) is tiny so the keep/drop decision join probes a small "
        "build side; reassembly is one per-doc aggregate whose state is "
        "bounded by document length.",
    "text_hashed_ngram_classifier":
        "Hashed-n-gram classifier: narrow unigram+bigram generator (no "
        "shuffle), broadcast hash join against the 1024-bucket weight "
        "table, one map-side-combinable per-doc aggregate — exact "
        "integer score lanes end to end.",
    "text_bm25_topk":
        "BM25: two stacked map-side-combinable aggregates (doc-term tf, "
        "term df); the query-term/idf relation is tiny and broadcasts; "
        "the per-doc length join shares the doc_id key with the score "
        "aggregate; top-20 is TakeOrderedAndProject.",
    "dedup_tfidf_cosine_topk":
        "TF-IDF cosine near-dup: the vector space is df-capped "
        "multiplicity-preserving shingles, so the shared-shingle pair "
        "join is bounded per shingle; weights/norms/dots all sum exact "
        "decimals in hash aggregates with map-side partials.",
    "embed_kmeans_lloyd":
        "Lloyd round: both assignment passes broadcast 16 centroids "
        "(narrow map, no exchange); the ONLY wide stages are the "
        "(cell, dim)-keyed centroid update and the final per-cell "
        "aggregate — K*dim and K result rows respectively.",
    "embed_dim_stats":
        "Dimension stats: one posexplode feeding a single hash "
        "aggregate keyed by dim (64 result rows); decimal moment lanes "
        "keep partial aggregation exact under any partitioning.",
    "q_click_purchase_attribution":
        "Interval join: user-keyed equi-join with a range condition on "
        "both event-times (the streaming twin's state-eviction bound); "
        "filters push to the scan, the per-user aggregate reuses the "
        "join's partitioning.",
    "curation_reservoir_per_source":
        "Reservoir sample: ONE window per source partition ordered by a "
        "salted md5 permutation — a single exchange on source, rank "
        "filter drops everything past 50 before any further stage.",
    "embed_pq_codebooks":
        "PQ encoder: 128-row codebook broadcasts; the subvector split is "
        "a narrow 1:8 generator; the encode argmin is map-side; the "
        "histogram is one map-side-combinable aggregate on (m, code).",
    "ann_pq_adc_rerank":
        "PQ ADC (round-4 shape): encoding argmin is a map-side "
        "min(struct) hash aggregate; the scale-6-decimal LUT is scaled "
        "to exact int64 and broadcast as one numpy tensor; the ADC scan "
        "is a mapInPandas pass over the 8-codes-per-vector table "
        "emitting per-partition shortlists only; Q*10 rows touch "
        "full-precision vectors in the rerank.",
    "text_oov_rate":
        "OOV rate: vocab head is distributed top-k (TakeOrderedAndProject)"
        " then broadcast into a LEFT join against per-doc counts — the "
        "corpus-side relation never reshuffles for the lookup.",
    "text_cross_source_dup_matrix":
        "Leakage matrix: distinct (fingerprint, source) hash aggregate, "
        "fingerprint-keyed self equi-join bounded at C(sources,2) rows "
        "per fingerprint, final aggregate on the source pair.",
    "dedup_prefix_filter_pairs":
        "Prefix filtering (round-5 shape — exact AllPairs bound): "
        "threshold-derived prefix |s| - ceil(t*|s|) + 1 per doc (rank "
        "and size windows share one doc_id exchange), candidate "
        "equi-join on prefix shingles (rare shingles = short doc lists),"
        " exact-Jaccard verification keyed on the candidate pair, "
        "exact-integer J >= t filter; complete for t = 0.8 by the "
        "AllPairs lemma, property-tested vs brute force.",
    "text_char_entropy":
        "Char explode -> (doc, char) -> doc hash-aggregate chain; "
        "-p*log2(p) terms as 6-dp decimal lanes before the per-doc sum; "
        "~100-row inner relation per doc.",
    "embed_label_purity":
        "Shared broadcast-seed assignment; label counts keyed (cell, "
        "label); majority via ONE packed-integer max aggregate (no "
        "second window); 16-key exchanges only.",
    "ann_ivf_nprobe_sweep":
        "Exact baseline computed once; three IVF probe joins (each "
        "touching ~nprobe/16 of the index via the cell equi-join) union "
        "into one hit aggregate; per-query recalls through decimal "
        "lanes. The sweep IS the measurement.",
    "dedup_containment_topk":
        "Shares the jaccard query's df-capped grouped-list pair "
        "generation (one shuffle, bounded lists); containment adds one "
        "least() per pair — no new exchanges.",
    "curation_quality_weighted_mixture":
        "One corpus explode pass yields both token counts and quality "
        "flags; reduces to one row per source; decimal-lane "
        "normalization; 1-row broadcasts.",
    "embed_whitening_check":
        "Two corpus explode passes keyed by dim (64-row map-side "
        "combinable exchanges); the 64-row stats relation broadcasts "
        "back for the standardization.",
    "mm_audio_vad_segments":
        "Frames aggregate map-side keyed by media_id; the "
        "gaps-and-islands window partitions by media_id (bounded by "
        "file length); integer active-threshold, no float compares.",
    "text_gopher_repetition":
        "Three explode -> (doc, gram) -> doc hash-aggregate chains "
        "(1/2/3-grams) joined on doc_id; integer counts, one final "
        "division per ratio; map-side combinable, no windows.",
    "text_gopher_quality_flags":
        "One word explode -> per-doc integer flag aggregate -> per-"
        "source pass-count aggregate; thresholds cross-multiplied "
        "integers, no float compares.",
    "text_doc_length_percentiles":
        "Exact type-1 quantiles: one row_number+count window per "
        "source partition (bounded key), conditional aggregate picks "
        "the ceil(q*n)-ranked value — both engines select the same row.",
    "curation_domain_mixture_weights":
        "Corpus reduces to one row per source; sqrt(share) tempered "
        "weights normalized through the 6-dp decimal lane; 1-row "
        "total/denominator attach by broadcast.",
    "curation_epoch_shuffle":
        "Narrow salted-md5 projection (doc x 3 epochs) + one (epoch, "
        "shard) aggregate whose order fingerprint hashes the exact "
        "permutation; at scale the same projection feeds a "
        "partitioned-by-shard write.",
    "dedup_cluster_size_histogram":
        "Cluster hub reuse: cluster_id count -> size histogram "
        "aggregate + singleton row from two 1-row counts; all "
        "map-side combinable.",
    "embed_pair_sim_histogram":
        "SemDeDup's cell blocking (broadcast seeds + shared max-struct "
        "assignment aggregate), cell-local pair join, floor(sim*10) "
        "hash aggregate — pair volume cell-bounded, never all-pairs.",
    "mm_ahash_near_dup":
        "mapInPandas PNG decode -> integer aHash bands (8 bytes/image), "
        "pigeonhole band join on 16-bit keys, bit_count(xor) verify; "
        "shuffles signatures, never pixels.",
    "dedup_prefix_filter_clustered":
        "Dup-dense-safe complete dedup composition: anti-join the "
        "shingle relation against the cached LSH cluster relation's "
        "non-canonical members, then the SAME complete AllPairs "
        "prefix pipeline over the survivor shingles; output is the "
        "5-row stage funnel (each row a 1-row count aggregate). "
        "Candidate volume is bounded by DISTINCT content, not replica "
        "count — the 50x salted probe measures the contrast with "
        "dedup_prefix_filter_pairs.",
    "cdc_scd2_history":
        "SCD2: envelope preprocess is narrow; ONE exchange on the key "
        "feeds the LEAD window; interval rows project directly — no "
        "self-join, state bounded per key.",
    "dedup_simhash_hamming_pairs":
        "SimHash banding (64-bit/16-bit bands): conv() turns each md5 "
        "into four int chunks, so all 64 bit-balance SUMs are shift/mask "
        "lanes in ONE map-side-combinable hash aggregate; the band "
        "self-join shuffles 8-byte signature keys only; xor+bit_count "
        "verification is codegen.",
    "decontam_minhash_fuzzy":
        "Fuzzy decontamination: ONE capped-shingle scan feeds both lane "
        "and band aggregates; the eval side BROADCASTS into the band "
        "probe and the lane-agreement join — the corpus relation is "
        "never reshuffled.",
    "cdc_snapshot_diff":
        "Snapshot diff: both sides reduce to keyed relations before one "
        "full outer join on the key; status/changed-cols are per-row "
        "projections — with a bucketed CDC target the join co-locates "
        "and the diff streams.",
    "curation_funnel_report":
        "Curation funnel: survival flags computed once (fingerprint "
        "window + broadcast-able left join against the small cluster "
        "relation); all four stage rows come from ONE aggregate over the "
        "flagged relation (filtered sums), then a 4-row union.",
    "text_bpe_merge_pairs":
        "BPE merge pairs: the corpus collapses to the weighted piece "
        "vocabulary FIRST (one hash aggregate); pair explosion runs over "
        "the tiny vocab; top-50 is TakeOrderedAndProject (distributed "
        "top-k, no global sort).",
    "mm_png_resize_features":
        "Real PNG resize (round 5): three chained 1:1 mapInPandas "
        "stages (encode, decode+box-filter+re-encode, decode+features) "
        "— zero exchanges anywhere; per-payload work is microseconds of "
        "zlib + integer filter math, so the pipeline is scan/IO-bound "
        "and trivially partition-parallel at 100 TB.",
    "dedup_substring_spans":
        "Substring-span dedup (round 5 — the Lee et al. suffix-array "
        "result without the suffix array): one row per corpus token "
        "(rolling 12-token window hash), ONE shuffle on the 16-byte "
        "hash serves both the >=2 count and the semi join back, then "
        "only DUPLICATED positions shuffle on doc_id for the "
        "gaps-and-islands span merge — linear end to end, no pair "
        "join.",
    "dedup_semdedup_dropped":
        "SemDeDup (round 5): broadcast-centroid argmin assignment "
        "(O(N*C) narrow pass, the allowlisted IVF shape), then a "
        "cell-local hash equi-join pair search with the sub-block "
        "occupancy guard; the drop aggregate is keyed on the dropped "
        "vec — global pair space is never touched.",
    "decontam_substring_spans":
        "Substring decontamination (round 5): eval window hashes "
        "broadcast into a semi join on the training window stream (no "
        "corpus shuffle); only colliding positions shuffle on doc_id "
        "for the span merge — leak localization priced at one narrow "
        "pass over the corpus.",
    "text_c4_heuristics":
        "C4 cleaning rules (round 7): pure string predicates folded "
        "into one per-source hash aggregate — a single narrow pass, "
        "map-side combinable, nothing wider than the source key "
        "shuffles.",
    "embed_hard_negatives":
        "Hard-negative mining (round 7): the brute-force ANN shape with "
        "the label-difference predicate fused into the broadcast-Q join "
        "condition — Q bounded by construction, one scan of the "
        "embedding table, per-query ranking window over the scored "
        "rows; any shortlist generator (IVF/LSH) composes in front "
        "unchanged.",
    "mm_mjpeg_scene_cuts":
        "Video scene cuts (round 7): narrow 1:N Arrow demux-decode "
        "stage, then pure JVM gaps-and-islands — lag window flags luma "
        "jumps, running sum assigns scene ids, one (media_id, scene_id) "
        "aggregate; a single shuffle on media_id with bounded "
        "frames-per-clip.",
    "embed_silhouette_approx":
        "Centroid silhouette (round 7): one 16-centroid broadcast "
        "scored per vector, top-2 kept by a bounded map-side "
        "collect+sort aggregate (no N x K window), K-row final "
        "aggregate — the kmeans assignment shape with a second-best "
        "lane.",
    "dedup_minhash_band_sweep":
        "LSH band sweep (round 7): one shared lane-min groupBy feeds "
        "three occupancy-capped (band, sig) equi-joins; exact-Jaccard "
        "verification runs once over the UNION of candidates; the "
        "only BNLJ is the 1-row true-total attach onto 3 rows.",
    "text_rrf_fusion":
        "Reciprocal-rank fusion (round 7): BM25 + query-likelihood LM "
        "rankers share the query-term parts; each list is a "
        "distributed TakeOrdered depth-50 cut, fusion is a full-outer "
        "hash join over two 50-row relations — O(depth) regardless of "
        "corpus size; the QL scan is one O(N*3) narrow pass.",
    "text_bigram_logprob":
        "Bigram LM scoring (r8 reshape): head collected once and "
        "re-shipped with dense vocab ids, all count tables keyed on "
        "one packed int64, per-doc counts computed first with global "
        "counts derived (single consumer of the corpus pair stream), "
        "one long-keyed equi-join, one groupBy(doc_id). Decimal log "
        "lanes end to end.",
    "embed_matryoshka_recall":
        "MRL truncation sweep (round 7): the exact baseline plus one "
        "broadcast-Q scan per prefix length; shortlists are Q*5 rows "
        "independent of N — same audit shape as ann_ivf_nprobe_sweep.",
    "curation_dsir_weights":
        "DSIR importance weights (round 7): one narrow hashed-feature "
        "pass, a structurally bounded 1024-row log-ratio relation "
        "broadcast onto the (doc_id, bucket) aggregate, one "
        "groupBy(doc_id) — corpus never shuffles wider than "
        "(doc_id, bucket).",
    "mm_rgb_png_decode_features":
        "Real COLOR PNG decode (round 7): two chained 1:1 mapInPandas "
        "stages (color-type-2 encode, bpp-aware decode + per-channel "
        "moments) — zero exchanges; zlib + numpy per payload, "
        "scan/IO-bound and partition-parallel at 100 TB.",
    "mm_color_jpeg_decode_features":
        "Real 4:2:0 color JPEG decode (round 7): two chained 1:1 "
        "mapInPandas stages (YCbCr + subsample + interleaved-MCU "
        "encode, full marker-walk decode + moments) — zero exchanges; "
        "numpy DCT/Huffman per payload, scan-bound.",
    "mm_color_ahash_near_dup":
        "Perceptual near-dup on COLOR input (round 7): real RGB PNG "
        "decode -> integer luma-weight aHash -> occupancy-capped "
        "16-bit band join -> Hamming verify; signatures are 8 "
        "bytes/image and the band join shuffles 16-bit keys, never "
        "pixels — same discipline as the gray twin.",
    "mm_jpeg_decode_features":
        "Real JPEG decode (round 5): two chained 1:1 mapInPandas stages "
        "(encode, decode+features) — zero exchanges; per-payload work "
        "is microseconds of numpy DCT + Huffman bit math, scan/IO-bound "
        "and partition-parallel at 100 TB.",
    "mm_wav_resample_features":
        "Real WAV 2x resample (round 5): three chained 1:1 mapInPandas "
        "stages (encode, decode+interpolate+re-encode, decode+features) "
        "— zero exchanges; numpy integer math per payload, scan-bound.",
    "embed_centroid_outliers":
        "Centroid-distance outlier detection (round 5): 16-centroid "
        "broadcast argmax assignment (map-side), one 16-key "
        "map-side-combinable cell aggregate, 16-row stats broadcast "
        "back for the 2-sigma count — the corpus never reshuffles.",
    "curation_contamination_report":
        "Three-method decontamination roll-up (round 5): composes the "
        "registered ngram/fuzzy/substring probes (each keeps its "
        "broadcast-eval scale shape), then one 4-key aggregate and a "
        "broadcast 1-row train-count attach.",
    "curation_cluster_representatives":
        "Quality-aware canonicalization (round 5): reuses the "
        "materialized cluster hub, hash equi-join with the quality "
        "scorer, map-side-combinable min(struct) representative pick "
        "keyed by cluster.",
    "text_keyphrase_tfidf_topk":
        "Keyphrase extraction (round 5): reuses the df-capped tf-idf "
        "decimal vector space (one compute, three consumers); the "
        "top-3 window partitions by DOCUMENT so partition size is "
        "bounded by one doc's distinct shingles.",
    "embed_pca_power_iteration":
        "Distributed PCA power iteration (round 5): two unrolled "
        "matvec rounds, each a posexplode -> 64-key map-side hash "
        "aggregate + a vec_id-keyed per-vector dot; direction "
        "relations are 64-row broadcasts; the matrix streams.",
    "mm_mjpeg_frame_sample":
        "Real video keyframe sampling (round 5): 1:1 synth + 1:N "
        "demux-decode mapInPandas stages, zero exchanges; real MJPG "
        "container walk + baseline-JPEG decode per kept frame.",
    "text_bpe_train_steps":
        "BPE trainer, two rounds unrolled (round 5): vocab-sized pair "
        "stats (corpus weight carried by c_w), 1-row argmax broadcast "
        "back, narrow per-word array-transform apply — the full "
        "tokenizer is this round iterated.",
    "dedup_lsh_precision_report":
        "Blocking precision measured (round 5): both LSH candidate "
        "pipelines composed unchanged, exact-Jaccard verification is "
        "candidate-bounded over df-capped shingle lists — never "
        "all-pairs.",
    "q_recursive_order_chains":
        "Recursive CTE (round 5, Spark 4 WITH RECURSIVE): bounded "
        "frontier (<= |customers| rows) hash-joined per round against "
        "the 30-day successor edges; functional edge -> linear "
        "recursion, no path blowup.",
    "curation_unimax_budget":
        "UniMax waterfill (round 8): corpus reduces to one row per "
        "lang before any window; the cappedness prefix test is an "
        "exact integer comparison over the L-row relation, one "
        "1-row budget broadcast attach.",
    "embed_knn_label_consistency":
        "kNN label audit (round 8): guarded per-partition shortlist "
        "(one matmul per Arrow batch, exchange = partitions*Q*(5+tail) "
        "rows) -> exact sequential-fold rescore -> Q-row aggregate; "
        "no Q*N window.",
    "text_ttr_chunked":
        "Chunked TTR (round 8): posexplode -> (doc, chunk) "
        "count-distinct hash aggregate -> doc aggregate through the "
        "decimal mean lane; keys bounded by doc length, no joins.",
    "mm_audio_clipping_report":
        "Audio clipping census (round 8): one narrow 1:1 Arrow decode "
        "stage (real RIFF parse), exact integer rail counts, zero "
        "exchanges before the final orderBy.",
    "text_cooccurrence_pmi":
        "Window-2 PMI (round 8): narrow pair generator, broadcast "
        "dense-id mapping (collected bounded head, the r8 bigram "
        "shape), packed-int64-keyed count aggregate, broadcast "
        "marginal joins, global top-20 TakeOrdered.",
    "embed_quantization_error_report":
        "Quantization error table (round 8): three narrow passes over "
        "the vectors (one per bit width), sequential-fold squared "
        "error per vector, 3-key map-side-combinable aggregate — no "
        "joins, no windows.",
    "curation_shard_balance_report":
        "Shard balance audit (round 8): one narrow md5-shard hash "
        "pass into an 8-key aggregate, 1-row total broadcast attach.",
    "curation_dedup_survivorship_bias":
        "Survivorship-bias audit (round 8): serves from the cached "
        "cluster hub, one left join for the cohort split, 2-key "
        "aggregate with exact micro-unit means.",
    "q_interval_merge_coverage":
        "Gaps-and-islands interval merge (round 8): two user_id windows "
        "+ two aggregates, ONE key shuffle, exact epoch-microsecond "
        "arithmetic — no self-join, no range join.",
    "cdc_late_arrival_report":
        "Watermark-sizing lateness census (round 8): one user_id "
        "running-max window + one map-side-combinable aggregate over "
        "the WAL change stream.",
    "curation_temperature_mixture":
        "Temperature-scaled mixture (round 8): corpus collapses to "
        "|langs| rows in one aggregate; the alpha grid and per-alpha "
        "normalizers are windows over 15 rows — no 1-row attach.",
    "text_subword_fertility":
        "Tokenizer-fertility budget table (round 8): explode -> one "
        "5-key aggregate, all-integer ceil and micro-unit means.",
    "embed_ood_mahalanobis":
        "Label-conditioned OOD census (round 8): one (label, dim) "
        "explode-aggregate builds the diagonal-Gaussian profiles, the "
        "bounded profile relation broadcasts back, scoring is a "
        "map-side sequential fold — the matrix never reshuffles.",
    "curation_coreset_kcenter":
        "Greedy k-center coreset (round 8): k narrow passes, centers "
        "as literal arrays, TakeOrdered(1) per round — no shuffle, no "
        "quadratic term; the k collected rows are the bounded driver "
        "state the plan rules allow.",
    "mm_video_frame_dedup":
        "Video content-ID (round 8): narrow 1:N demux+decode, DISTINCT "
        "per-video signature set, constant-64 occupancy cap, pair "
        "equi-join shuffles 3-int signatures never pixels; containment "
        "joins two map-side frame-count relations.",
    "text_length_outlier_mad":
        "Median/MAD outlier census (round 8): two sort-windows on ONE "
        "source exchange, two |sources|-row broadcasts back, "
        "all-integer 3-MAD compares.",
    "q_event_anomaly_zscore":
        "Rolling z-score census (round 8): one user_id exchange feeds "
        "the 20-row prior frame (decimal-lane moments) and the final "
        "per-user aggregate; streaming twin proven bit-exact.",
    "mm_phash_dct_near_dup":
        "Perceptual DCT hash (round 8): narrow Arrow decode + integer "
        "DCT per image, 16-bit band join under the capped occupancy "
        "guard, bit_count verify — the aHash family plan with a "
        "frequency-domain signature stage.",
    "cdc_compaction_savings":
        "Compaction sizing (round 8): ONE entity-key aggregate (the "
        "same exchange the merge view needs) + a |types|-key rollup; "
        "the log never reshuffles twice.",
    "text_kneser_ney_logprob":
        "Kneser-Ney LM (round 8): the bigram-LM shape (head collected "
        "once, packed int64 keys, per-doc counts first) + two "
        "vocab-bounded N1+ aggregates; only BNLJ is the 1-row N_pairs "
        "attach.",
    "mm_image_entropy_census":
        "Image entropy gate (round 8): histogram arrays (not pixels) "
        "cross the Arrow boundary, 256-bounded posexplode, one "
        "media_id aggregate with the verified log2 decimal lane.",
    "mm_audio_fingerprint_dedup":
        "Audio fingerprint (round 8): decoded frame energies -> "
        "JVM-side exact-decimal integer DCT -> bounded (doc, grp) rank "
        "windows -> capped 14-bit band join; gain copies hash "
        "identically by construction.",
    "cdc_tick_gap_census":
        "WAL contiguity census (round 8): one collection-keyed "
        "exchange feeds distinct + lag window + aggregate.",
    "curation_filter_agreement":
        "Filter-stack A/B (round 8): the classifier's broadcast-join "
        "aggregate + one explode-aggregate hash-join on doc_id, "
        "collapsing to |sources| rows with exact-integer confusion "
        "cells and one kappa expression tree.",
    "mm_media_dataset_card":
        "Cross-modality card (round 8): three map-side aggregates over "
        "the cached media relations (zero extra decode passes), "
        "unioned to a 3-row datasheet.",
    "q_rolling_tukey_outliers":
        "Rolling Tukey fences (round 8): one user_id exchange, the two "
        "window quantiles share the sort frame, robust flags roll up "
        "map-side — the quartile companion of the z-score window.",
}


def main() -> None:
    from arango_clickhouse_replica_spark.queries import QUERIES
    from arango_clickhouse_replica_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of flagship queries",
        "",
        "Generated by `python tools/dump_plans.py` (re-run after "
        "plan-affecting",
        "changes). Every plan below is also guarded by "
        "`tests/test_plan_quality.py`.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, note in COMMENT.items():
        df = QUERIES[name].build(spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        lines = plan.splitlines()
        tree_end = next(
            (i for i, line in enumerate(lines) if line.strip() == "" and i > 5),
            len(lines),
        )
        out += [f"## {name}", "", note, "", "```",
                "\n".join(lines[:tree_end]), "```", ""]

    Path("docs/PLANS.md").write_text("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(out)} sections-lines)")


if __name__ == "__main__":
    main()
