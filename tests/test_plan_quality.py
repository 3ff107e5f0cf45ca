"""Plan-quality guards: scale anti-patterns must not silently appear.

Every registered query's physical plan is checked for the things that
break at 100 TB regardless of correctness: cartesian products,
broadcast-nested-loop joins, row-at-a-time Python UDFs, and (since r10)
windows over an Exchange SinglePartition whose input is not
limit-bounded in-plan — one task sorting a corpus-sized relation is the
quietest scale-killer of all. Queries whose SEMANTICS are all-pairs, or
whose single-partition window provably runs over a bounded relation
(shard counts, |sources|/|languages|/|months| aggregates), keep an
explicit allowlist entry with the reason — additions must be deliberate.
"""

import pytest

from arango_clickhouse_replica_spark.plans.capture import (
    captured_checkpoint_subtrees,
    whole_computation_plans,
)
from arango_clickhouse_replica_spark.queries import QUERIES

_PLAN_MARKERS = ("+- ", ":- ")
_SPW_PLUMBING = ("Sort ", "*(", "InputAdapter", "AQEShuffleRead",
                 "ShuffleQueryStage", "ReusedExchange")


def _plan_nodes(plan: str):
    """Parse Spark's plan-tree text into (depth, node-text) pairs."""
    out = []
    for raw in plan.splitlines():
        idx, found = None, None
        for m in _PLAN_MARKERS:
            j = raw.find(m)
            if j != -1 and set(raw[:j]) <= set(" :") and (
                idx is None or j < idx
            ):
                idx, found = j, m
        if idx is None:
            if raw.strip() and not raw[:1].isspace():
                out.append((-1, raw.strip()))
            continue
        out.append((idx, raw[idx + len(found):].strip()))
    return out


def unbounded_single_partition_windows(plan: str):
    """Window operators fed by an Exchange SinglePartition whose subtree
    carries no Limit/TakeOrderedAndProject — i.e. one task sees the whole
    relation. Returns the offending Window node texts (deduplicated —
    plan-tree reuse prints a shared subtree once per consumer)."""
    nodes = _plan_nodes(plan)
    hits = []
    for i, (d, text) in enumerate(nodes):
        if "Exchange SinglePartition" not in text:
            continue
        win, cur = None, d
        for j in range(i - 1, -1, -1):
            dj, tj = nodes[j]
            if dj >= cur:
                continue
            cur = dj
            if "Window" in tj.split("[")[0]:
                win = tj
                break
            if any(p in tj for p in _SPW_PLUMBING):
                continue
            break
        if win is None:
            continue
        sub = []
        for j in range(i + 1, len(nodes)):
            dj, tj = nodes[j]
            if dj <= d:
                break
            sub.append(tj)
        if any("Limit" in t or "TakeOrderedAndProject" in t for t in sub):
            continue
        key = win.split(", [plan_id")[0][:120]
        if key not in hits:
            hits.append(key)
    return hits


# name -> reason a Window over Exchange SinglePartition is the intended
# plan: in every entry the window input is BOUNDED by construction (the
# guard can't see cardinality, only shape)
SP_WINDOW_ALLOWED = {
    "cdc_watermark_sizing":
        "the running-max window's input is the in-plan slice of the last "
        "_SIZING_SLICE_VERS arrival positions (r10 bound) — constant-size "
        "at any WAL history length",
    "curation_anneal_mixture":
        "both normalizer windows run over the |sources| x 2 phase-share "
        "relation (an aggregate bounded by the source taxonomy), never "
        "the corpus",
    "curation_quality_decile_calibration":
        "the cumulative-offset window of the distributed two-pass rank "
        "runs over the shard-counts relation (<= shuffle partitions "
        "rows; shard ids are key-derived arithmetic on avg_milli since "
        "r12 — stable across plan branches)",
    "curation_unimax_budget":
        "the UniMax waterfilling rank runs over the per-language token "
        "totals (|languages| rows, bounded by the language taxonomy)",
    "q_mom_revenue_growth":
        "the lag window runs over the per-month revenue aggregate "
        "(|months| rows, bounded by the calendar span)",
    "q_pagerank_handoff_graph":
        "the boundary-stitch lead window of the r10 sharded edge build "
        "runs over the shard-firsts relation (<= shuffle partitions "
        "rows; repeated in-plan once per unrolled iteration consumer)",
    "q_pct_of_total_by_nation":
        "the share normalizer window runs over the per-nation revenue "
        "aggregate (|nations| = 25 rows)",
    "text_vocab_build":
        "the freq-offset window of the r12 rank decomposition runs over "
        "the distinct-frequency relation, bounded by the count-of-counts "
        "law at O(sqrt(corpus occurrences)) rows — never the token "
        "relation",
    "cdc_backfill_chunk_plan":
        "the cumulative-offset window of the distributed two-pass rank "
        "runs over the shard-counts relation (<= shuffle partitions "
        "rows; shard ids are key-derived arithmetic, bounded by "
        "n_shards by construction)",
    "text_url_domain_census":
        "the token-share normalizer window runs over the per-domain "
        "census (|registered domains| rows — bounded by the host "
        "taxonomy, never the corpus)",
}

import re

_TRANSCENDENTAL = re.compile(
    r"(?<![A-Za-z_$.])(log|log2|log10|ln|exp|power|pow|sqrt|cbrt|sin|cos|tan)\(",
    re.I,
)
_TOP_SKIP = ("Sort ", "GlobalLimit", "LocalLimit", "Repartition", "Window ")


def _top_output_node(plan: str) -> str:
    """The first Project/Aggregate under any Sort/Limit wrappers — the
    node whose (fully inlined) expression strings define the query's
    hashed output columns."""
    for raw in plan.splitlines():
        s = raw.strip()
        for m in _PLAN_MARKERS:
            if s.startswith(m):
                s = s[len(m):]
        if not s or any(s.startswith(k) for k in _TOP_SKIP):
            continue
        return s
    return ""


def transcendentals_in_output(plan: str):
    """Transcendental function tokens in the top output node's
    expressions. Every registered query's output is value-hashed against
    the DuckDB oracle, and transcendentals are the one expression class
    that is environment-sensitive (libm vs JVM last-bit drift under
    Spark's shortest-decimal-repr round) — the r9 driver red
    (mm_audio_snr_estimate) was exactly this. round() over
    integer-operand division is NOT flagged: IEEE division of exact
    operands is bit-identical everywhere, so any cross-engine rounding
    mismatch reproduces in-sandbox where driver_check catches it."""
    top = _top_output_node(plan)
    return sorted({m.group(1).lower() for m in _TRANSCENDENTAL.finditer(top)})


# name -> why a transcendental in hashed output is accepted: each entry
# rides the repo's verified round(x, 6) -> DECIMAL(18,6) lane with the
# IDENTICAL expression tree on both engines, and has been driver-green
# since registration. New queries must prefer exact integer/decimal
# proxies (log2 bins, micro-ratios — see mm_audio_snr_estimate r10).
TRANSCENDENTAL_ALLOWED = {
    "embed_dim_stats":
        "per-dim std IS the deliverable (sqrt of variance over exact "
        "decimal-lane sums); round+decimal lane",
    "embed_whitening_check":
        "post-whitening std per dim; same sqrt-of-variance shape as "
        "embed_dim_stats; round+decimal lane",
    "mm_wav_decode_features":
        "RMS amplitude is sqrt(sum_sq/n) over exact integer sums; "
        "round+decimal lane",
    "mm_wav_resample_features":
        "same RMS shape as mm_wav_decode_features on the resampled "
        "stream; round+decimal lane",
    "text_char_entropy":
        "Shannon entropy in bits is the deliverable; log2 over exact "
        "integer counts, round+decimal lane",
    "text_word_entropy":
        "entropy + max-entropy (log2 n) in bits; exact integer counts "
        "under the log, round+decimal lane",
    "text_cooccurrence_pmi":
        "PMI is log2 of an exact count ratio by definition; "
        "round+decimal lane",
    "text_source_kl_mixture":
        "KL divergence in bits over exact count ratios; round+decimal "
        "lane",
}


def transcendentals_in_plan(plan: str):
    """Transcendental function tokens ANYWHERE in the plan — the r11
    deepening of ``transcendentals_in_output`` (the r10 verdict found two
    queries hashing pow()-derived shares computed one node BELOW the top
    Project, invisible to the top-node lint). A hit here is not by itself
    a defect: it demands a ``TRANSCENDENTAL_TRIAGE`` row naming which of
    the three defenses applies (exact / rounded-lane / rounded-domain).
    The triage totality test keeps the two in lockstep as the registry
    grows."""
    return sorted({m.group(1).lower() for m in _TRANSCENDENTAL.finditer(plan)})


# Per-query transcendental lineage triage (VERDICT r10 item 2): every
# query whose OPTIMIZED plan carries a transcendental token anywhere must
# name its defense here, and every row here must still be needed (the
# totality test fails on stale rows). Defenses:
#
#   "exact"          — every transcendental instance is IEEE-correctly-
#                      rounded on bit-identical inputs (sqrt over exact
#                      integer ratios / sequential-fold sums / exact
#                      decimal moments), so the resulting double is
#                      provably identical on both engines BEFORE any
#                      rounding. No environment sensitivity at all.
#   "rounded-lane"   — an environment-sensitive transcendental (log2:
#                      libm-vs-JVM last-bit drift is real, ~28% of cells)
#                      is quantized PER TERM by round(x, 6) ->
#                      DECIMAL(18,6) on exact-integer-derived inputs
#                      before any cross-row math (text_lm._LOG2_DEC).
#                      Residual risk: an input whose log2 lies within
#                      ~1 ulp of a 6-dp boundary; accepted + documented.
#   "rounded-domain" — the transcendental-carrying value feeds ONLY
#                      comparisons / ranks in a rounded domain with
#                      deterministic id tiebreaks, or integer blocking
#                      keys whose exact value is not semantics-bearing;
#                      hashed output itself comes from exact lanes.
#
# The human-readable version of this table (with the full per-query
# argument) lives in docs/TRANSCENDENTALS.md; a test asserts the two
# stay consistent.
TRANSCENDENTAL_TRIAGE = {
    # --- cosine/ANN family: sqrt enters via _norm() inside the
    # sequential-fold cosine (llm_ops._dot/_norm == DuckDB list_reduce,
    # bit-identical; sqrt IEEE-correctly-rounded) — the full cosine
    # double is identical on both engines; ranking additionally rides
    # round(sim, 4) + id tiebreak where a top-k is taken.
    "ann_cosine_topk_bruteforce": "exact",
    # ann_incremental_index_parity: sqrt via _norm in the frozen-centroid
    # cosine assignment — same sequential-fold arithmetic as the rest of
    # the family; the hashed output is integer-only (counts/checksums/
    # distinct-sig counts), so the cosine never reaches a hashed lane.
    "ann_incremental_index_parity": "exact",
    # ann_incremental_search_read: same fold-cosine lanes; serving rank
    # rides round(sim, 4) + id.
    "ann_incremental_search_read": "exact",
    # ann_incremental_graph_parity: sqrt via _norm in the frozen-centroid
    # assignment and the pair-kernel cosine; neighbor selection rides
    # round(sim, 4) + id, and the hashed output is integers + the packed
    # id CSV — no raw double reaches a hashed lane.
    "ann_incremental_graph_parity": "exact",
    # ann_incremental_pq_search_read: sqrt via _norm in the bounded
    # query set and the full-precision rerank (the ann_pq_adc_rerank
    # lanes); the ADC scan itself is exact scaled-int LUT sums; serving
    # rank rides round(sim, 4) + id.
    "ann_incremental_pq_search_read": "exact",
    # ann_incremental_graph_search_read: the ann_graph_beam_topk lanes —
    # fold cosine in assignment/pair-kernel/beam scoring; every rank on
    # round(sim, 4) + id.
    "ann_incremental_graph_search_read": "exact",
    "ann_graph_beam_topk": "exact",
    "embed_anisotropy_report": "exact",
    "ann_ivf_nprobe_sweep": "exact",
    "ann_ivf_probed": "exact",
    "ann_lsh_bucketed": "exact",
    "ann_pq_adc_rerank": "exact",
    "ann_recall_report": "exact",
    "ann_topk_int8_rerank": "exact",
    "embed_hard_negatives": "exact",
    "embed_knn_label_consistency": "exact",
    "embed_matryoshka_recall": "exact",
    "embed_matryoshka_route_drift": "exact",
    "embed_recall_at_k_curve": "exact",
    # --- centroid family: same exact fold + sqrt; cross-row moments
    # accumulate as 6-dp decimals (exact, order-free) before any sqrt.
    "embed_centroid_outliers": "exact",
    "embed_ivf_balance_report": "exact",
    "embed_kmeans_lloyd": "exact",
    "embed_label_purity": "exact",
    "embed_silhouette_approx": "exact",
    "embed_pair_sim_histogram": "rounded-domain",
    "dedup_semdedup_dropped": "rounded-domain",
    "dedup_embedding_cosine_blocked": "rounded-domain",
    "embed_mutual_knn_pairs": "rounded-domain",
    # --- moment/std family: sqrt of variance over exact decimal sums —
    # bit-identical; these also hash the value, hence their
    # TRANSCENDENTAL_ALLOWED rows.
    "embed_dim_stats": "exact",
    "embed_whitening_check": "exact",
    "embed_pca_power_iteration": "exact",
    "q_event_anomaly_zscore": "exact",
    "mm_wav_decode_features": "exact",
    "mm_wav_resample_features": "exact",
    # --- mixture family: sqrt-composable temperature smoothing
    # (p^0.25 = sqrt(sqrt(p)), p^0.5 = sqrt(p)) on exact integer
    # ratios, each weight rounded to a 6-dp DECIMAL before the exact
    # normalization sum (r11 — replaced the lint-invisible pow(x, 0.7)).
    "curation_anneal_mixture": "exact",
    "curation_temperature_mixture": "exact",
    "curation_domain_mixture_weights": "exact",
    "curation_quality_weighted_mixture": "exact",
    # --- log2 families: every log2 call goes through the verified
    # round(log2(x), 6) -> DECIMAL(18,6) lane on exact-integer-derived
    # inputs (text_lm._LOG2_DEC and clones) before any cross-row math.
    "curation_dsir_weights": "rounded-lane",
    "curation_perplexity_buckets": "rounded-lane",
    "dedup_tfidf_cosine_topk": "rounded-lane",
    "mm_audio_fingerprint_dedup": "rounded-lane",
    "mm_image_entropy_census": "rounded-lane",
    "text_bigram_logprob": "rounded-lane",
    "text_bm25_topk": "rounded-lane",
    "text_char_entropy": "rounded-lane",
    "text_cooccurrence_pmi": "rounded-lane",
    "text_keyphrase_tfidf_topk": "rounded-lane",
    "text_kneser_ney_logprob": "rounded-lane",
    "text_rrf_fusion": "rounded-lane",
    "text_self_retrieval_mrr": "rounded-lane",
    "text_source_kl_mixture": "rounded-lane",
    "text_unigram_logprob": "rounded-lane",
    "text_word_entropy": "rounded-lane",
    "text_zipf_slope": "rounded-lane",
}


# ---------------------------------------------------------------------
# r11 fifth plan assertion (VERDICT r10 item 3): a ranking window whose
# sort key carries environment-sensitive float math must order a ROUNDED
# domain with a deterministic tiebreak (the embed_hard_negatives shape:
# round(score, 4) first key + id second key). A raw-double-ranked hashed
# top-k can flip rows on last-bit drift that no sandbox test reproduces.
# ---------------------------------------------------------------------

_RANK_WINDOW = re.compile(
    r"(row_number\(\)|rank\(\)|dense_rank\(\)|ntile\([^)]*\)) "
    r"windowspecdefinition\("
)


def _balanced_end(s: str, start: int) -> int:
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return len(s)


def _split_top_level(s: str):
    parts, depth, cur = [], 0, []
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _alias_map(plan: str):
    """attribute 'name#id' -> its defining expression text, parsed from
    every '<expr> AS name#id' in the plan (balanced-paren backward scan;
    first definition wins, matching Spark's bottom-up attribute reuse)."""
    amap = {}
    for match in re.finditer(r" AS (\w+#\d+L?)", plan):
        name = match.group(1)
        i = match.start()
        depth = 0
        j = i
        while j > 0:
            c = plan[j - 1]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and c in "[,\n":
                break
            j -= 1
        amap.setdefault(name, plan[j:i].strip())
    return amap


_ATTR = re.compile(r"\w+#\d+L?")


def _inline_attrs(expr: str, amap: dict, rounds: int = 6) -> str:
    """Substitute attribute references with their definitions a few
    levels deep (size-capped — enough to see through Project chains)."""
    for _ in range(rounds):
        new = _ATTR.sub(
            lambda m: f"({amap[m.group(0)]})" if m.group(0) in amap
            else m.group(0),
            expr,
        )
        if new == expr or len(new) > 40000:
            break
        expr = new
    return expr


_SORT_DIR = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")


def _uncovered_transcendental(expr: str):
    """First transcendental token in ``expr`` NOT enclosed by any
    round(...) call — i.e. an env-sensitive value that reaches the sort
    comparator unquantized."""
    spans = []
    for m in re.finditer(r"round\(", expr, re.I):
        spans.append((m.start(), _balanced_end(expr, m.end() - 1)))
    for m in _TRANSCENDENTAL.finditer(expr):
        if not any(a <= m.start() < b for a, b in spans):
            return m.group(1)
    return None


def raw_double_ranked_windows(plan: str):
    """Rank-function windows whose FIRST sort key, fully inlined through
    the plan's alias definitions, carries a transcendental token that is
    (a) not quantized by a round(...) anywhere above it in the key's
    expression tree, or (b) quantized but left without a tiebreak key —
    either way a hashed top-k can flip on last-bit drift / tie choice.
    Returns offending (fn, reason, key) triples."""
    amap = _alias_map(plan)
    hits = []
    for m in _RANK_WINDOW.finditer(plan):
        fn = m.group(1)
        start = m.end() - 1
        spec = plan[start + 1:_balanced_end(plan, start)]
        sort_items = [p for p in _split_top_level(spec)
                      if _SORT_DIR.search(p)]
        if not sort_items:
            continue
        first = _SORT_DIR.sub("", sort_items[0]).strip()
        resolved = amap.get(first, first)
        inlined = _inline_attrs(resolved, amap)
        if not _TRANSCENDENTAL.search(inlined):
            continue
        uncovered = _uncovered_transcendental(inlined)
        reason = None
        if uncovered:
            reason = f"unrounded {uncovered} in sort key"
        elif len(sort_items) < 2:
            reason = "rounded sort key without tiebreak"
        if reason:
            key = (fn, reason, resolved[:80])
            if key not in hits:
                hits.append(key)
    return hits


# name -> why a rank window ordered by an un-rounded transcendental-
# carrying key is still deterministic cross-engine: in every entry the
# sort key double is BIT-IDENTICAL by construction (exact decimal-lane
# inputs + correctly-rounded ops only — sequential-fold dot products,
# IEEE sqrt), so rounding would add nothing. All current entries are the
# ONE shared shape: the IVF nearest-centroid assignment window ordering
# the 16 crossed centroids per vector by the sequential-fold cosine
# (llm_ops._dot/_norm == DuckDB list_reduce, bit-identical), with the
# cell id as tiebreak — the oracle replays the identical fold.
RAW_RANK_ALLOWED = {
    "ann_ivf_nprobe_sweep": "shared IVF assignment window (bit-identical fold cosine, cell tiebreak)",
    "ann_ivf_probed": "shared IVF assignment window (bit-identical fold cosine, cell tiebreak)",
    "ann_recall_report": "composes ann_ivf_probed's allowlisted assignment window",
    "embed_ivf_balance_report": "shared IVF assignment window (bit-identical fold cosine, cell tiebreak)",
    "embed_matryoshka_route_drift": "two instances of the shared IVF assignment window (full + prefix routing)",
    "embed_recall_at_k_curve": "composes ann_ivf_probed's allowlisted assignment window",
}


# name -> reason an otherwise-forbidden pattern is the intended plan
BNLJ_ALLOWED = {
    "cdc_mutation_rewrite_cost":
        "the only BNLJ is the 1-row _ver-bounds broadcast attach for "
        "the key-derived part id (O(N x 1), the cdc_backfill_chunk_plan "
        "pattern); the plan itself is one map-side-combinable per-part "
        "aggregate",
    "curation_dedup_threshold_curve":
        "the BNLJs are bounded grids: the 4-row threshold relation "
        "joined to candidate-bounded scored pairs under a >= predicate "
        "(O(pairs x 4)) and the 1-row corpus-totals attach; candidate "
        "generation and the exact-Jaccard lane are the LSH pipeline's "
        "hash equi-joins",
    "cdc_part_overlap_depth":
        "the BNLJs are the 1-row _ver-bounds broadcast attach (O(N x 1), "
        "the key-derived part-id pattern) and the interval self-join "
        "over the 2-layouts x 16-parts METADATA relation (O(32 x 32)); "
        "the corpus contributes one map-side-combinable aggregate",
    "q_clickhouse_bitmap_ops_parity":
        "the only BNLJ is the type-pair grid: the |types|-row "
        "cardinality relation crossed with itself under a < predicate "
        "(O(|types|^2) on an aggregate bounded by the type taxonomy); "
        "the membership intersection is a hash equi-join on user_id",
    "cdc_projection_advisor":
        "the only BNLJ is the 1-row bounds/census aggregate broadcast "
        "attached to derive key-range granule ids and write-amp bytes "
        "(O(N x 1), the cdc_backfill_chunk_plan pattern); the cost "
        "model itself is one map-side-combinable aggregate keyed by "
        "(order, granule) and two broadcast hash joins over <=20 "
        "metadata rows",
    "ann_incremental_search_read":
        "the BNLJs are the frozen-centroid probes: delta rows and the "
        "bounded query set each broadcast-crossed with the K=16 "
        "centroid relation then reduced by a map-side argmax — "
        "O(N x K) / O(Q x K) with K constant; candidate scoring is a "
        "cell-keyed broadcast hash join over one cell's occupancy per "
        "query and the index merge is a vec_id-keyed window",
    "ann_incremental_index_parity":
        "the only BNLJ is the frozen-centroid assignment: delta rows "
        "broadcast-crossed with the K=16 centroid relation then reduced "
        "by a map-side-combinable argmax — O(delta x K) with K constant "
        "(the embed_kmeans_lloyd assignment shape); the incremental "
        "merge itself is a vec_id-keyed window over appended entries",
    "ann_incremental_graph_parity":
        "the BNLJs are the frozen-centroid assignments of the two CDC "
        "deltas (O(delta x K), K=16 constant, map-side argmax — the "
        "ann_incremental_index_parity shape); the adjacency pair kernel "
        "is a cell+sub-block hash equi-join bounded by the cell cap, "
        "the touched-cell restriction is a broadcast semi-join on a "
        "<=2x|delta|-row cell list, and the incremental merge is a "
        "src-keyed window over appended adjacency rows",
    "ann_incremental_graph_search_read":
        "the BNLJs are the frozen-centroid assignments of the CDC "
        "deltas (O(delta x K), K=16 constant) and the beam entry-point "
        "scoring — the Q_MAX-capped query set broadcast against the "
        "<=16 alive seed rows with a <>-self predicate (the "
        "ann_graph_beam_topk shape); every hop is a hash equi-join on "
        "vec_id/query_id over Q x beam x (degree+1) rows, independent "
        "of N",
    "ann_graph_beam_topk":
        "the only BNLJ is the entry-point scoring: the Q_MAX-capped "
        "query set broadcast against the 16 seed rows with a <>-self "
        "predicate — O(Q x 16), constant; every beam hop after it is a "
        "hash equi-join on vec_id/query_id over Q x beam x (degree+1) "
        "rows, independent of N",
    "cdc_backfill_chunk_plan":
        "the only BNLJs are 1-row broadcast attaches (keyspace min/max "
        "bounds for the key-derived shard id, total count for the exact "
        "chunk-id divisor) in the distributed two-pass rank — O(N x 1); "
        "the offsets attach is a broadcast hash equi-join on shard",
    "cdc_tombstone_gc_plan":
        "the only BNLJ is the 1-row safety-watermark aggregate "
        "broadcast-attached to classify per-key delete finality — "
        "O(K x 1); everything else is map-side-combinable aggregates",
    "q_event_cooccurrence_lift":
        "the only BNLJ is the 1-row distinct-user-count aggregate "
        "broadcast-attached onto the |types|^2 pair output for the lift "
        "denominator — O(T^2 x 1); the pair join itself is a user-keyed "
        "hash equi-join with per-user fan bounded by |event types|",
    "curation_concat_chunk_census":
        "the only BNLJ is the 1-row doc_id-bounds aggregate broadcast-"
        "attached for the key-derived shard id of the distributed "
        "two-pass prefix sum — O(N x 1); the offsets attach is a "
        "broadcast hash equi-join on (source, shard)",
    "cdc_watermark_sizing":
        "the only BNLJ is the 1-row max-_ver aggregate broadcast-attached "
        "to slice the stream to the last _SIZING_SLICE_VERS arrival "
        "positions (the r10 in-plan bound) — O(N*1), and it is what makes "
        "the downstream running-max window constant-size at any WAL size",
    "curation_quality_decile_calibration":
        "the only BNLJ is the 1-row total-count aggregate broadcast-"
        "attached for the decile divisor in the r10 distributed two-pass "
        "rank (the per-shard offsets ride a broadcast hash equi-join)",
    "embed_binary_hamming_topk":
        "stage 1 deliberately flat-scans every candidate's two packed "
        "sign words against the broadcast bounded query set (orderBy+"
        "limit 512) — the FAISS IndexBinaryFlat shape at 16 bytes/row, "
        "32x less bandwidth than float32; O(N x Q) with constant Q",
    "cdc_time_travel_read":
        "the only BNLJ is the 1-row as-of version bound broadcast-"
        "attached to filter the change stream (O(N x 1)); the top-1 "
        "read is the same event_id-keyed window as cdc_latest_state",
    "q_sketch_intersection_estimate":
        "the only BNLJs are the |sources| x |sources| source-pair "
        "enumeration (a taxonomy-bounded dim x dim, never data-sized) and "
        "the broadcast per-source estimate attaches; all corpus-sized "
        "stages are hash aggregates and tok/b equi-joins",
    "curation_excess_surprisal_reweight":
        "the only BNLJs are 1-row broadcast attaches (corpus token total "
        "onto the vocab for binning, corpus mean onto |sources| rows, "
        "weight total onto |sources| rows) — O(V x 1)/O(S x 1); the "
        "occurrence-stream join is a hash equi-join on the token",
    "ann_cosine_topk_bruteforce":
        "the brute-force baseline IS all-pairs by definition; since r9 the "
        "query set is a CONSTANT (orderBy+limit Q_MAX=4096, llm_ops.Q_MAX) "
        "so the broadcast side is bounded and the loop is O(Q_MAX*N), not "
        "O(N^2/100) — the scale path is ann_lsh_bucketed/ann_topk_vectorized",
    "embed_hard_negatives":
        "no BNLJ remains since the r8 shortlist reshape (stage 1 is a "
        "guarded per-partition matmul shortlist, stage 2 broadcast "
        "hash equi-joins) — entry kept as the documented history",
    "ann_topk_int8_rerank":
        "stage 1 deliberately scans every candidate's int8 codes against "
        "the broadcast query set (the FAISS-SQ8 flat-scan shape: 4x less "
        "bandwidth than float32, embarrassingly parallel); only "
        "Q*shortlist rows continue to the full-precision rescore",
    "text_unigram_logprob":
        "the BNLJs are 1-row literal attaches (corpus total onto the "
        "capped vocab head; the <unk> logprob onto the occurrence "
        "stream) — O(V*1)/O(N*1), not pair joins; the vocab lookup is "
        "a broadcast hash equi-join on the structurally bounded head",
    "text_source_kl_mixture":
        "same 1-row corpus-total broadcast attach as "
        "text_unigram_logprob; source totals go through a broadcast hash "
        "equi-join on the source key",
    "curation_perplexity_buckets":
        "inherits text_unigram_logprob's 1-row corpus-total broadcast "
        "attach (O(V*1)); the lang join and NTILE window add only hash "
        "equi-joins",
    "text_bpe_train_steps":
        "the BNLJs are 1-row literal attaches: each round's argmax "
        "merge pair (TakeOrdered LIMIT 1) and token-total aggregate "
        "broadcast onto the vocab relation — O(vocab*1) attaches, "
        "never pair joins",
    "embed_pca_power_iteration":
        "the BNLJs are 64-row/1-row literal attaches (norm and "
        "Rayleigh-eigenvalue scalars onto the 64-row direction "
        "relation; the direction broadcast onto the component stream "
        "is a hash equi-join on dim) — never a pair join",
    "text_keyphrase_tfidf_topk":
        "inherits _tfidf_weights' 1-row n_docs broadcast attach onto "
        "the idf relation (O(V*1) literal attach); the weight join is "
        "a hash equi-join on the shingle and the top-3 window is "
        "doc-partitioned",
    "embed_centroid_outliers":
        "the 16-centroid broadcast assignment loop (O(N*16) narrow "
        "pass, same as ann_ivf_probed); the stats join back onto the "
        "assignment is a broadcast hash equi-join on cell",
    "curation_contamination_report":
        "the only BNLJ is the 1-row train-count aggregate cross-joined "
        "(broadcast) onto the 4-row method report — an O(4*1) literal "
        "attach; every contamination probe underneath is a broadcast/"
        "banded hash equi-join",
    "ann_ivf_probed":
        "IVF cell assignment broadcasts the 16 centroids against every "
        "vector (O(N*16) narrow pass) — that broadcast loop IS the "
        "assignment step; the candidate scoring join itself is an "
        "equi-join on cell id",
    "curation_dsir_weights":
        "the only BNLJ is the 1-row feature-mass totals broadcast-"
        "attached onto the 1024-row bucket counts (O(1024*1) literal "
        "attach); the weight lookup back onto per-doc buckets is a "
        "broadcast hash equi-join on the structurally bounded bucket",
    "text_bigram_logprob":
        "the only BNLJ is the 1-row bigram-mass total broadcast-"
        "attached onto the count table (O(K*1) literal attach); vocab "
        "mapping is a broadcast hash equi-join on the bounded "
        "collected head and the scoring join is keyed on one packed "
        "int64 (r8 reshape)",
    "text_kneser_ney_logprob":
        "same shape as text_bigram_logprob: the only BNLJ is the "
        "1-row distinct-pair total (N_pairs) broadcast-attached onto "
        "the count table (O(K*1) literal attach); the N1+ continuation "
        "tables join as hash equi-joins on the bounded vocab ids",
    "curation_unimax_budget":
        "the only BNLJ is the 1-row budget total broadcast-attached "
        "onto the L-row per-lang table — an O(L*1) literal attach; "
        "every window runs over that L-row relation",
    "curation_shard_balance_report":
        "the only BNLJ is the 1-row token-mass total broadcast-"
        "attached onto the 8-row shard table — an O(8*1) literal "
        "attach; the shard assignment is one narrow md5 hash pass",
    "text_cooccurrence_pmi":
        "the only BNLJs are the two 1-row totals (token mass, pair "
        "mass) broadcast-attached onto the bounded count table — "
        "O(K*1) literal attaches; the pair counts and marginal joins "
        "are packed-int64-keyed hash equi-joins on the bounded head",
    "text_rrf_fusion":
        "inherits text_bm25_topk's 1-row corpus-stats attaches, plus "
        "the <=3-row query-term relation cross-attached onto per-doc "
        "lengths for the QL ranker — O(N*3) narrow pass, bounded by "
        "the structural |qterms|=3; the fusion join is a hash "
        "full-outer equi-join over two depth-50 lists",
    "text_bm25_topk":
        "the only BNLJs attach the 1-row (n_docs, total_len) corpus "
        "stats to the tiny query-term relation and to per-doc rows — "
        "O(N*1) literal attaches; the tf/idf joins are hash equi-joins "
        "on the word and doc keys",
    "dedup_tfidf_cosine_topk":
        "no BNLJ remains since the r7 window rewrite (df via COUNT "
        "OVER s, n_docs a collected literal) — entry kept as the "
        "documented history; weighting, norming, and the shared-term "
        "pair join are hash equi-joins",
    "embed_matryoshka_recall":
        "inherits ann_cosine_topk_bruteforce's allowlisted broadcast-Q "
        "loop for the exact baseline ONLY — since the r8 reshape each "
        "truncation prefix runs the guarded per-partition shortlist "
        "(matmul per Arrow batch, no Q*N window); shortlists stay "
        "Q*(5+tail) rows",
    "ann_recall_report":
        "inherits ann_cosine_topk_bruteforce's allowlisted broadcast "
        "loop — the report exists to measure the LSH path against that "
        "exact baseline, so it necessarily runs it",
    "ann_pq_adc_rerank":
        "the LUT build crosses the bounded query set with the 128-row "
        "broadcast codebook (O(Q*128) — the PQ lookup-table "
        "precompute); the ADC scan itself joins codes to the broadcast "
        "LUT by (m, code) hash equi-join",
    "embed_kmeans_lloyd":
        "both Lloyd assignment passes broadcast the 16 centroids "
        "against every vector (O(N*16) narrow map passes — the same "
        "shape ann_ivf_probed allowlists); the centroid update is a "
        "hash aggregate on (cell, dim)",
    "dedup_semdedup_dropped":
        "the SemDeDup cell assignment broadcasts the C centroids "
        "against every vector (O(N*C) narrow pass — identical to "
        "ann_ivf_probed's allowlisted assignment); the within-cell "
        "pair search is a hash equi-join on (cell, sub) with the "
        "with_sub_block occupancy guard, never a global pair join",
    "embed_mutual_knn_pairs":
        "inherits dedup_semdedup_dropped's allowlisted shapes verbatim: "
        "the 16-centroid broadcast assignment (O(N*16) narrow pass) and "
        "the (cell, sub)-keyed occupancy-capped pair join; the "
        "mutuality check itself is a hash self-equi-join on (src, dst)",
    "embed_pair_sim_histogram":
        "same allowlisted shape as dedup_semdedup_dropped: the cell "
        "assignment broadcasts 16 centroids against every vector "
        "(O(N*16) narrow pass); the pair join itself is a cell-keyed "
        "hash equi-join",
    "dedup_cluster_size_histogram":
        "the singleton row attaches two 1-row count aggregates "
        "(corpus total x clustered-member total) — an O(1x1) "
        "broadcast attach, not a data join",
    "curation_domain_mixture_weights":
        "the per-source relation (bounded cardinality) attaches the "
        "1-row corpus total and the 1-row weight denominator — "
        "O(sources x 1) broadcast attaches",
    "curation_quality_weighted_mixture":
        "same shape as curation_domain_mixture_weights: per-source "
        "relation x 1-row total and 1-row denominator broadcast "
        "attaches",
    "ann_ivf_nprobe_sweep":
        "inherits ann_ivf_probed's allowlisted shapes x3 (the 16 "
        "centroids broadcast against vectors for assignment/probing) "
        "plus the 3-row nprobe axis attached to per-query exact counts "
        "— every nested-loop side is constant-size",
    "embed_label_purity":
        "the shared 16-centroid broadcast assignment (same allowlisted "
        "O(N*16) narrow pass as dedup_semdedup_dropped); label counts "
        "and the packed argmax are hash aggregates",
    "embed_silhouette_approx":
        "the shared 16-centroid broadcast scored against every vector "
        "(the same allowlisted O(N*16) narrow pass as "
        "embed_kmeans_lloyd); top-2 selection is a bounded map-side "
        "aggregate, never a window over the crossed relation",
    "text_self_retrieval_mrr":
        "the only BNLJs are 1-row corpus-stats broadcast attaches onto "
        "the idf relation and the posting scores (O(V*1)/O(N*1) literal "
        "attaches, the text_bm25_topk shape); the scoring join is a "
        "hash equi-join on the <=384-row broadcast query-term relation",
    "embed_recall_at_k_curve":
        "inherits ann_cosine_topk_bruteforce's allowlisted bounded-Q "
        "broadcast loop for the exact baseline plus ann_ivf_probed/"
        "ann_pq_adc_rerank's allowlisted constant-size assignment "
        "loops; the k axis is a 3-row broadcast attach",
    "dedup_minhash_band_sweep":
        "the only BNLJ is the 1-row union-true-total broadcast attach "
        "onto the 3-row per-config relation (O(3x1)); every candidate "
        "join is an occupancy-capped (band, sig) hash equi-join and "
        "verification is union-candidate-bounded",
    "q_distinct_minvalue_sketch":
        "the only BNLJ is the 1-row sketch aggregate crossJoined with "
        "the 1-row exact-distinct aggregate (O(1x1) attach); the "
        "sketch itself is a map-side-combinable per-bucket MIN whose "
        "exchange is bounded by the constant bucket count",
    "q_pagerank_handoff_graph":
        "the only BNLJs are the 1-row node-count broadcast attached to "
        "the |nodes| relation (O(nodes x 1)) in the seed and in each "
        "unrolled iteration's damping blend; rank propagation itself "
        "is a hash equi-join of the rank vector against the edge list",
    "embed_matryoshka_route_drift":
        "two instances of the shared 16-centroid broadcast assignment "
        "(the allowlisted O(N*16) narrow pass), one on full vectors "
        "and one on prefix slices; everything downstream is a vec_id "
        "hash equi-join and a 16-row aggregate",
    "embed_ivf_balance_report":
        "the shared 16-centroid broadcast assignment (same allowlisted "
        "O(N*16) narrow pass as ann_ivf_probed/embed_label_purity); "
        "the occupancy aggregate and the balance windows run over 16 "
        "rows",
    "embed_anisotropy_report":
        "the only BNLJ is the shared 16-centroid broadcast assignment "
        "(the allowlisted O(N*16) narrow pass, same as ann_ivf_probed/"
        "embed_ivf_balance_report); the anisotropy statistic itself is "
        "one posexplode into a (scope, dim)-keyed exact-decimal "
        "aggregate — the whole point is ZERO pairwise work",
    "decontam_bloom_prefilter":
        "the only BNLJ is the 1-row report aggregate crossJoined with "
        "the 1-row bits-set count (O(1x1) attach); the bloom probe and "
        "the exact truth lane are broadcast hash equi-joins on the "
        "bounded (<= 4|eval| <= 65536-row) bits/eval relations",
}

ALL_NAMES = sorted(QUERIES)


@pytest.mark.parametrize("name", ALL_NAMES)
def test_no_scale_antipatterns(spark, sf_dir, name):
    with captured_checkpoint_subtrees() as subtrees:
        df = QUERIES[name].build(spark, sf_dir)
    plan, opt = whole_computation_plans(df, subtrees)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join in plan (would be O(N*M) at scale)"
        )
    # row-at-a-time Python UDFs never belong in the hot path; Arrow-batched
    # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are fine
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in SP_WINDOW_ALLOWED:
        spw = unbounded_single_partition_windows(plan)
        assert not spw, (
            f"{name}: window over Exchange SinglePartition on "
            f"non-limit-bounded input (one task sorts the whole "
            f"relation at scale): {spw}"
        )
    # r12 (VERDICT r11 What's-wrong #1): physical-partition identity must
    # never feed query semantics — spark_partition_id() after an exchange
    # is not stable across the plan's multiple consumers of that subtree
    # (range-sample nondeterminism, AQE re-plan, exchange-reuse miss).
    # Shard ids must be key-DERIVED arithmetic (the cdc_backfill_chunk_plan
    # pattern). No allowlist: the pattern has bitten twice (r10 PageRank,
    # r11 backfill) and has a deterministic replacement in every case.
    assert "SPARK_PARTITION_ID" not in opt.upper(), (
        f"{name}: spark_partition_id() in the optimized plan — "
        f"branch-unstable after exchanges; derive shard ids from key "
        f"arithmetic against 1-row broadcast bounds instead"
    )
    if name not in TRANSCENDENTAL_ALLOWED:
        toks = transcendentals_in_output(opt)
        assert not toks, (
            f"{name}: transcendental {toks} feeds the hashed output — "
            f"environment-sensitive (the r9 mm_audio_snr_estimate driver "
            f"red); use an exact integer/decimal proxy or add a "
            f"justified TRANSCENDENTAL_ALLOWED entry"
        )
    # r11 deep lint (VERDICT r10 items 1-2): ANY transcendental anywhere
    # in the plan needs a triage row naming its defense, and triage rows
    # must stay live — totality in both directions.
    deep = transcendentals_in_plan(opt)
    if deep:
        assert name in TRANSCENDENTAL_TRIAGE, (
            f"{name}: transcendental {deep} somewhere in the plan with "
            f"no TRANSCENDENTAL_TRIAGE row — name the defense "
            f"(exact / rounded-lane / rounded-domain) or move to an "
            f"exact lane (the r10 verdict's below-top-node pow class)"
        )
    else:
        assert name not in TRANSCENDENTAL_TRIAGE, (
            f"{name}: stale TRANSCENDENTAL_TRIAGE row — the plan no "
            f"longer carries a transcendental; delete the row"
        )
    # r11 fifth assertion (VERDICT r10 item 3): no raw-double-ranked
    # hashed top-k — rank windows over transcendental-carrying keys must
    # ride the rounded-domain + tiebreak pattern (or carry a written
    # bit-identical argument in RAW_RANK_ALLOWED).
    if name not in RAW_RANK_ALLOWED:
        rr = raw_double_ranked_windows(opt)
        assert not rr, (
            f"{name}: rank window ordered by a raw transcendental-"
            f"carrying double ({rr[0][1]}): {rr[0][2]} — use "
            f"round(score, 4) + id tiebreak (the embed_hard_negatives "
            f"shape) or add a justified RAW_RANK_ALLOWED entry"
        )


def test_fact_scans_prune_columns(spark, sf_dir):
    """The flagship join-agg must not read lineitem columns it doesn't use."""
    df = QUERIES["q3_revenue_by_nation"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [seg for seg in plan.split("FileScan parquet")
            if "lineitem.parquet" in seg]
    assert scan, "no lineitem scan found"
    read_schema = scan[0].split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_orderkey" in read_schema
    for unused in ("l_comment", "l_shipmode", "l_quantity", "l_tax"):
        assert unused not in read_schema, f"unused column {unused} read"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q1's shipdate predicate must appear in PushedFilters."""
    df = QUERIES["q1_pricing_summary"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed, pushed


def test_decontam_broadcasts_eval_set(spark, sf_dir):
    """The decontamination probe must broadcast the (small) eval shingle
    set — shuffling the corpus for the overlap check is the 100 TB
    anti-pattern this query exists to avoid."""
    df = QUERIES["decontam_ngram_overlap"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_pair_lists_are_capped(spark, sf_dir):
    """The grouped pair generator materializes per-shingle doc lists;
    they must be bounded by the hot-shingle df cap."""
    from pyspark.sql import functions as F

    from arango_clickhouse_replica_spark.queries.llm_ops import (
        _doc_shingles_capped,
        _hot_shingle_cap,
    )
    from arango_clickhouse_replica_spark.sources.tables import load_table

    n_docs = load_table(spark, "documents", sf_dir).count()
    cap = _hot_shingle_cap(n_docs)
    assert cap <= 256
    max_df = (
        _doc_shingles_capped(spark, sf_dir)
        .groupBy("s").agg(F.count("*").alias("df"))
        .agg(F.max("df").alias("m")).first().m
    )
    assert max_df <= cap


def test_sampling_scans_skip_text_column(spark, sf_dir):
    """The sampling/split audits need only (doc_id, source, n_chars);
    reading the wide text column would dominate scan cost at 100 TB."""
    for name in ("curation_reservoir_per_source",
                 "curation_train_val_test_split",
                 "curation_importance_sample"):
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [seg for seg in plan.split("FileScan parquet")
                 if "documents.parquet" in seg]
        assert scans, f"{name}: no documents scan found"
        for seg in scans:
            read_schema = seg.split("ReadSchema:")[1].splitlines()[0]
            assert "text" not in read_schema, (
                f"{name}: text column read: {read_schema}"
            )


def test_sp_window_detector_red_on_global_window(spark, sf_dir):
    """The r10 detector must flag the exact shape items the r9 verdict
    called out (a corpus-sized relation through Window over Exchange
    SinglePartition) and must NOT flag the limit-bounded or
    hash-partitioned variants."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arango_clickhouse_replica_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)

    # red: the old text_vocab_build / decile-calibration shape
    w = Window.orderBy("doc_id")
    bad = docs.select("doc_id", F.row_number().over(w).alias("rnk"))
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert unbounded_single_partition_windows(plan), (
        "detector missed a global row_number over a table scan"
    )

    # green: same window over a limit-bounded relation
    capped = docs.orderBy("doc_id").limit(100).select(
        "doc_id", F.row_number().over(w).alias("rnk")
    )
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert not unbounded_single_partition_windows(plan), (
        "detector flagged a limit-bounded window"
    )

    # green: partitioned window (no SinglePartition exchange)
    wp = Window.partitionBy("source").orderBy("doc_id")
    part = docs.select("doc_id", F.row_number().over(wp).alias("rnk"))
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert not unbounded_single_partition_windows(plan), (
        "detector flagged a hash-partitioned window"
    )


def test_exactness_lint_red_on_old_snr_shape(spark, sf_dir):
    """The lint must flag the exact expression that drew the r9 driver
    red — round(10*log10(ratio), 6) cast to decimal in hashed output —
    and must NOT flag its r10 replacement (integer micro-ratio) or
    round over integer-operand division."""
    from pyspark.sql import functions as F

    from arango_clickhouse_replica_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)

    old = docs.select(
        "doc_id",
        F.round(
            10.0 * F.log10((F.col("doc_id") + 2).cast("double")
                           / (F.col("doc_id") + 1).cast("double")), 6
        ).cast("decimal(18,6)").alias("snr_db"),
    )
    plan = old._jdf.queryExecution().optimizedPlan().toString()
    assert transcendentals_in_output(plan) == ["log10"], (
        "lint missed the r9 red shape"
    )

    new = docs.select(
        "doc_id",
        F.expr("((doc_id + 2) * 1000000L) DIV (doc_id + 1)")
        .alias("snr_micro_ratio"),
        F.round(F.col("doc_id").cast("double") / 7, 6).alias("mean_ish"),
    )
    plan = new._jdf.queryExecution().optimizedPlan().toString()
    assert transcendentals_in_output(plan) == [], (
        "lint flagged an exact integer/round-of-division lane"
    )


def test_deep_transcendental_lint_red_on_below_top_node_pow(spark, sf_dir):
    """The r10 verdict's exact blind spot: a pow()-derived share computed
    in a Project BELOW a Window node was invisible to the top-node lint.
    The deep scan must catch it; the top-node scan documents the miss."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arango_clickhouse_replica_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    per_src = docs.groupBy("source").agg(F.count("*").alias("n"))
    pw = F.pow(F.col("n").cast("double"), F.lit(0.7))
    w = Window.partitionBy()
    fixture = (
        per_src.select("source", pw.alias("__pw"))
        .select(
            "source",
            F.round(F.col("__pw") / F.sum("__pw").over(w), 6).alias("share"),
        )
        .orderBy("source")
    )
    opt = fixture._jdf.queryExecution().optimizedPlan().toString()
    assert "POWER" in opt.upper() or "pow" in opt
    deep = transcendentals_in_plan(opt)
    assert "power" in deep or "pow" in deep, (
        "deep lint missed a below-top-node pow in the synthetic fixture"
    )
    # the green side: the repo's defended share shape carries no pow
    good = QUERIES["curation_temperature_mixture"].build(spark, sf_dir)
    gopt = good._jdf.queryExecution().optimizedPlan().toString()
    assert "power" not in transcendentals_in_plan(gopt)
    assert "pow" not in transcendentals_in_plan(gopt)


def test_rank_guard_red_on_raw_double_ranked_window(spark, sf_dir):
    """The fifth plan assertion must flag a rank window ordered by a raw
    (unrounded, untiebroken) transcendental-carrying double, and must
    pass the rounded-domain + tiebreak pattern."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arango_clickhouse_replica_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    score = F.sqrt(
        F.aggregate(
            F.transform(
                "embedding", lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # red: raw double key, no round, no tiebreak
    w_bad = Window.partitionBy("label").orderBy(F.desc(score))
    bad = emb.select(
        "vec_id", "label", F.row_number().over(w_bad).alias("rnk")
    ).filter(F.col("rnk") <= 3)
    bad_opt = bad._jdf.queryExecution().optimizedPlan().toString()
    hits = raw_double_ranked_windows(bad_opt)
    assert hits and "unrounded" in hits[0][1], (
        f"rank guard missed the raw-double-ranked fixture: {hits}"
    )

    # rounded but tiebreak-less: still red (tie choice is arbitrary)
    w_tie = Window.partitionBy("label").orderBy(F.desc(F.round(score, 4)))
    tieless = emb.select(
        "vec_id", "label", F.row_number().over(w_tie).alias("rnk")
    ).filter(F.col("rnk") <= 3)
    t_opt = tieless._jdf.queryExecution().optimizedPlan().toString()
    hits = raw_double_ranked_windows(t_opt)
    assert hits and "tiebreak" in hits[0][1], (
        f"rank guard missed the tiebreak-less rounded fixture: {hits}"
    )

    # green: the embed_hard_negatives shape — round(score, 4) + id
    w_good = Window.partitionBy("label").orderBy(
        F.desc(F.round(score, 4)), F.asc("vec_id")
    )
    good = emb.select(
        "vec_id", "label", F.row_number().over(w_good).alias("rnk")
    ).filter(F.col("rnk") <= 3)
    g_opt = good._jdf.queryExecution().optimizedPlan().toString()
    assert not raw_double_ranked_windows(g_opt), (
        "rank guard false-positived on the rounded + tiebreak pattern"
    )


def test_transcendental_triage_documented():
    """Every triage row must appear in docs/TRANSCENDENTALS.md (the
    human-readable per-query argument), and the defense labels must be
    from the closed set."""
    from pathlib import Path

    doc = Path(__file__).resolve().parent.parent / "docs" / "TRANSCENDENTALS.md"
    text = doc.read_text()
    for name, defense in TRANSCENDENTAL_TRIAGE.items():
        assert defense in ("exact", "rounded-lane", "rounded-domain"), (
            f"{name}: unknown defense label {defense!r}"
        )
        assert name in text, (
            f"{name}: triaged in code but missing from docs/TRANSCENDENTALS.md"
        )
    for name in RAW_RANK_ALLOWED:
        assert name in text, (
            f"{name}: RAW_RANK_ALLOWED but missing from docs/TRANSCENDENTALS.md"
        )
