"""Corpus-rewriting quality filters over ``documents``: C4-style
duplicated-segment removal (a *transform*, not just a score), CCNet-style
per-language perplexity terciles, and a fastText-shape hashed-n-gram
linear classifier. These extend SURVEY §2.12 (the driver-mandated LLM
pipeline surface) past scoring into the actual keep/drop/rewrite
decisions a training-data pipeline executes.

Cross-engine determinism: every score is exact integer/decimal
arithmetic until a single final double division (see
``queries/registry.py`` rules); rewritten text is md5-compared so
checked rows stay narrow; orderings that feed NTILE carry a doc_id
tiebreak.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query
from .text_lm import (
    UNIGRAM_LOGPROB_SQL,
    _LOG2_DEC_SQL as _LOG2_DEC_SQL_QF,
    text_unigram_logprob,
)

# --- shared 8-word segmentation ---------------------------------------------

_SEGMENTS_SQL = """
    WITH w AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS words
      FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(words[CAST(8*i + 1 AS INT):CAST(8*i + 8 AS INT)],
                             ' ') AS seg
      FROM w, unnest(range(0, CAST(ceil(len(words) / 8.0) AS INT))) AS u(i)
    )
"""


def _doc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, seg_raw) — fixed 8-word segments with position."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", F.split("text", r"\s+").alias("words"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    """transform(
                          sequence(0, cast(ceil(size(words) / 8.0) as int) - 1),
                          i -> array_join(slice(words, 8*i + 1, 8), ' '))"""
                )
            ).alias("pos", "seg_raw"),
        )
    )


@query(
    "curation_segment_dedup_rewrite",
    oracle=_SEGMENTS_SQL + """,
    dup AS (
      SELECT md5(seg) AS seg_key FROM segs GROUP BY md5(seg)
      HAVING COUNT(*) >= 2
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN d.seg_key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           md5(COALESCE(string_agg(s.seg, ' ' ORDER BY s.pos)
                        FILTER (WHERE d.seg_key IS NULL), ''))
               AS kept_md5
    FROM segs s LEFT JOIN dup d ON md5(s.seg) = d.seg_key
    GROUP BY s.doc_id
    """,
    tags=("curation", "dedup", "rewrite"),
    doc="C4-style duplicated-passage REMOVAL: rather than only scoring "
        "documents, this rewrites them — every 8-word segment "
        "whose exact text occurs more than once anywhere in the corpus "
        "(including within the same document) is dropped, and the "
        "surviving segments are reassembled in position order. The "
        "duplicate set is tiny relative to the corpus (df>=2 segments "
        "only), so the decision join probes a small build side, exactly "
        "the shape the 20x probe validated for passage dedup; the "
        "reassembly is one per-doc aggregate whose state is bounded by "
        "document length. Rewritten text is md5-compared; segment keys "
        "are md5 digests so both shuffles move narrow rows.",
)
def curation_segment_dedup_rewrite(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    segs = _doc_segments(spark, sf_dir).withColumn("seg", F.md5("seg_raw"))
    dup = (
        segs.groupBy("seg")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("seg")
        .withColumn("__dup", F.lit(1))
    )
    joined = segs.join(dup, "seg", "left")
    kept_struct = F.when(
        F.col("__dup").isNull(), F.struct("pos", "seg_raw")
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("__dup").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["seg_raw"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )


@query(
    "curation_perplexity_buckets",
    oracle=f"""
    WITH lp AS ({UNIGRAM_LOGPROB_SQL}),
    b AS (
      SELECT lp.doc_id, d.lang, lp.n_tokens, lp.avg_logprob_bits,
             CAST(NTILE(3) OVER (
                 PARTITION BY d.lang
                 ORDER BY lp.avg_logprob_bits DESC, lp.doc_id) AS INT)
               AS tercile
      FROM lp JOIN documents d ON lp.doc_id = d.doc_id
    )
    SELECT doc_id, lang, n_tokens, avg_logprob_bits, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM b
    """,
    tags=("curation", "lm", "sampling"),
    doc="CCNet-style perplexity bucketing: documents rank within their "
        "language by unigram-LM score (best logprob first) and split "
        "into head/middle/tail terciles — the partition CCNet samples "
        "from preferentially. The score reuses text_unigram_logprob's "
        "exact decimal-lane pipeline, so the double it orders by is "
        "bit-identical across engines; doc_id breaks ties so NTILE "
        "boundaries are deterministic. The per-lang NTILE window is the "
        "one sort in the plan (same accepted shape as "
        "curation_token_pack_bins); at 100 TB with few huge languages "
        "you would salt the window into per-shard terciles or bucket "
        "against precomputed per-lang score cutoffs instead — the "
        "tercile semantics tolerate either.",
)
def curation_perplexity_buckets(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    from pyspark.sql.window import Window

    lp = text_unigram_logprob(spark, sf_dir)
    langs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob_bits"), F.asc("doc_id")
    )
    return (
        lp.join(langs, "doc_id")
        .withColumn("tercile", F.ntile(3).over(w).cast("int"))
        .select(
            "doc_id", "lang", "n_tokens", "avg_logprob_bits", "tercile",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


# fastText-shape classifier: feature -> bucket via the leading 6 hex
# chars of md5 (portable across engines), bucket -> weight via a
# Knuth-multiplicative integer scramble. Weights are integers in
# [-1000, 1000] ("milli-weights") so the document score is an exact
# BIGINT sum until the final division.
_N_BUCKETS = 1024
_WEIGHT_SQL = "(CAST({b} AS BIGINT) * 2654435761) % 1000003 % 2001 - 1000"


def _feature_bucket(feat: Column) -> Column:
    return F.conv(F.substring(F.md5(feat), 1, 6), 16, 10).cast("bigint") \
        % _N_BUCKETS


@query(
    "text_hashed_ngram_classifier",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(ws || list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS feat
      FROM ws
    ),
    fb AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(feat), 1, 6) AS BIGINT)
               % {_N_BUCKETS} AS bucket
      FROM feats
      WHERE feat <> '' AND feat NOT LIKE '% ' AND feat NOT LIKE ' %'
        AND feat NOT LIKE '%  %'
    ),
    wt AS (
      SELECT CAST(r AS BIGINT) AS bucket, {_WEIGHT_SQL.format(b='r')} AS w_milli
      FROM range(0, {_N_BUCKETS}) t(r)
    )
    SELECT fb.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(wt.w_milli) AS BIGINT) AS score_milli_sum,
           CAST(SUM(wt.w_milli) AS DOUBLE)
             / (1000.0 * CAST(COUNT(*) AS DOUBLE)) AS score,
           (SUM(wt.w_milli) >= 0) AS keep
    FROM fb JOIN wt USING (bucket)
    GROUP BY fb.doc_id
    """,
    tags=("text", "classifier", "quality"),
    doc="Hashed bag-of-n-grams linear classifier — the fastText shape "
        "behind production quality filters (CCNet/LLaMA-style keep/drop "
        "models): unigram + bigram features hash into 1024 buckets, a "
        "broadcast weight table scores them, and the mean milli-weight "
        "decides keep. The weight table here is a deterministic integer "
        "scramble standing in for learned weights — the PLAN is the "
        "product: narrow feature generator (no shuffle), broadcast hash "
        "join against the weight table (learned weights would load from "
        "a small parquet the same way), one map-side-combinable per-doc "
        "aggregate. Exact integer score lanes; the only double is the "
        "final division.",
)
def text_hashed_ngram_classifier(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            # sequence(1, 0) would DESCEND in Spark, so size-1 docs need
            # an explicit empty bigram array (DuckDB range(1,1) is empty).
            F.explode(
                F.expr(
                    "concat(ws, if(size(ws) >= 2,"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> concat_ws(' ', ws[i-1], ws[i])),"
                    " cast(array() as array<string>)))"
                )
            ).alias("feat"),
        )
        .filter(
            (F.col("feat") != "")
            & ~F.col("feat").like("% ")
            & ~F.col("feat").like(" %")
            & ~F.col("feat").like("%  %")
        )
    )
    weights = spark.range(_N_BUCKETS).select(
        F.col("id").alias("bucket"),
        F.expr(_WEIGHT_SQL.format(b="id")).alias("w_milli"),
    )
    return (
        feats.select("doc_id", _feature_bucket(F.col("feat")).alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("w_milli").alias("score_milli_sum"),
        )
        .select(
            "doc_id",
            "n_features",
            "score_milli_sum",
            (
                F.col("score_milli_sum").cast("double")
                / (F.lit(1000.0) * F.col("n_features").cast("double"))
            ).alias("score"),
            (F.col("score_milli_sum") >= 0).alias("keep"),
        )
    )


@query(
    "curation_reservoir_per_source",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':reservoir'), doc_id
             ) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
      FROM documents
    )
    SELECT doc_id, source, n_chars, CAST(rn AS INT) AS sample_rank, n_source
    FROM ranked WHERE rn <= 50
    """,
    tags=("curation", "sampling"),
    doc="Deterministic fixed-size per-source sample (the distributed "
        "stand-in for reservoir sampling): rank every document inside its "
        "source by the md5 of its salted id — a uniform, data-independent "
        "permutation that replays identically on any engine and any "
        "partitioning — and keep the first 50. Unlike rand()-seeded "
        "sampling, re-runs and retried tasks select the SAME rows, which "
        "is what makes the sample auditable. One window per source "
        "partition; at 100 TB the skew ceiling is the largest source, "
        "same profile as curation_stratified_sample's groupBy.",
)
def curation_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":reservoir"))),
        F.asc("doc_id"),
    )
    wc = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id", "source", "n_chars",
            F.row_number().over(w).alias("sample_rank"),
            F.count("*").over(wc).alias("n_source"),
        )
        .filter(F.col("sample_rank") <= 50)
        .select("doc_id", "source", "n_chars",
                F.col("sample_rank").cast("int").alias("sample_rank"),
                "n_source")
    )


@query(
    "curation_train_val_test_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM assigned
    GROUP BY source, split
    ORDER BY source, split
    """,
    tags=("curation", "split", "sampling"),
    doc="Deterministic train/val/test split (~80/10/10): each document's "
        "salted-md5 hex prefix lands it in a split band — reproducible "
        "across runs, engines, and partitionings, and STABLE under "
        "corpus growth (a document's split never changes when new data "
        "arrives, unlike rand() or modulo-of-row-number schemes — the "
        "property that keeps eval sets uncontaminated across dataset "
        "versions). The assignment is a pure narrow projection; the "
        "audit output is one hash aggregate on (source, split).",
)
def curation_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    split = (
        F.when(h < "cc", F.lit("train"))
        .when(h < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


@query(
    "curation_importance_sample",
    oracle="""
    WITH weighted AS (
      SELECT doc_id, source, n_chars,
             LEAST(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS keep_p,
             lpad(substr(md5(CAST(doc_id AS VARCHAR) || ':importance'), 1, 4),
                  5, '0') AS h,
             lower(lpad(hex(CAST(floor(LEAST(1.0, CAST(n_chars AS DOUBLE)
                                              / 1000.0) * 65536.0) AS BIGINT)),
                        5, '0')) AS thresh
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE h < thresh) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE h < thresh) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_frac
    FROM weighted
    GROUP BY source
    ORDER BY source
    """,
    tags=("curation", "sampling", "importance"),
    doc="Importance sampling with per-document keep probability (here "
        "length-weighted: p = min(1, n_chars/1000) — in production the "
        "weight is a quality/domain score): a document survives iff its "
        "salted-md5 16-bit hex prefix falls under floor(p * 65536), both "
        "rendered as FIVE lowercase hex chars so the lexicographic "
        "compare IS the numeric compare and p = 1.0 maps to '10000', "
        "strictly above every 16-bit draw — keep_p=1 keeps "
        "unconditionally and each band's keep fraction is exactly "
        "floor(p*65536)/65536. The draw replays identically on any "
        "engine and partitioning. The weighting and draw are one narrow "
        "projection (pushes to the scan); the audit output is a single "
        "hash aggregate per source.",
)
def curation_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    keep_p = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(1000.0))
    h = F.lpad(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":importance"))),
            1,
            4,
        ),
        5,
        "0",
    )
    thresh = F.lower(
        F.lpad(F.hex(F.floor(keep_p * F.lit(65536.0)).cast("long")), 5, "0")
    )
    kept = (h < thresh).cast("long")
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum("kept").alias("n_kept"),
            (F.sum("kept").cast("double") / F.count("*").cast("double"))
            .alias("kept_frac"),
        )
        .orderBy("source")
    )


@query(
    "curation_dedup_keep_list",
    oracle=None,  # composed below from the clusters oracle at import time
    tags=("curation", "dedup", "decision"),
    doc="The corpus-wide dedup DECISION: every document is kept unless "
        "it is a non-canonical member of a near-dup cluster "
        "(dedup_near_dup_clusters: MinHash/LSH pairs -> connected "
        "components, canonical = min doc_id). Documents in no cluster "
        "keep trivially via a LEFT join against the (small) cluster "
        "relation; the audit output is drop counts per source — the "
        "number a curation run reports before materializing the kept "
        "corpus. Cost beyond the cluster pipeline: one broadcast-able "
        "left join keyed on doc_id and one hash aggregate.",
)
def curation_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_ops import dedup_near_dup_clusters

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    clusters = dedup_near_dup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    keep = F.coalesce(F.col("is_canonical"), F.lit(1)) == 1
    return (
        docs.join(clusters, "doc_id", "left")
        .select("source", keep.cast("long").alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.sum("kept")).alias("n_dropped"),
            (
                (F.count("*") - F.sum("kept")).cast("double")
                / F.count("*").cast("double")
            ).alias("drop_rate"),
        )
        .orderBy("source")
    )


# Compose the keep-list oracle from the clusters oracle (both engines
# must agree on the cluster relation itself, so reuse it verbatim).
def _install_keep_list_oracle() -> None:
    from dataclasses import replace

    from .registry import QUERIES as _Q

    clusters = _Q["dedup_near_dup_clusters"].oracle
    oracle = f"""
    WITH clusters AS ({clusters})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE c.is_canonical = 0) AS BIGINT)
             AS n_dropped,
           CAST(COUNT(*) FILTER (WHERE c.is_canonical = 0) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS drop_rate
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """
    _Q["curation_dedup_keep_list"] = replace(
        _Q["curation_dedup_keep_list"], oracle=oracle
    )


_install_keep_list_oracle()


@query(
    "curation_funnel_report",
    oracle=None,  # composed below from the clusters oracle at import time
    tags=("curation", "report", "composition"),
    doc="The curation FUNNEL — the chart every corpus run reports: "
        "document and token counts surviving each pipeline stage in "
        "order (raw -> exact fingerprint dedup -> near-dup cluster "
        "dedup -> quality gate >= 2), with per-stage retention relative "
        "to raw. Per-document survival flags are computed once (one "
        "fingerprint window, one broadcast-able left join against the "
        "small cluster relation, narrow quality scoring) and the four "
        "stage rows are filtered aggregates over that single flagged "
        "relation — the funnel costs one pass beyond the cluster "
        "pipeline it audits.",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .llm_ops import dedup_near_dup_clusters

    docs = load_table(spark, "documents", sf_dir)
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text").cast("long")
    n_punct = (F.length("text")
               - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))).cast("long")
    q = (
        F.when(n_tokens.between(20, 2000), 1).otherwise(0)
        + F.when(n_punct * 10 < n_chars, 1).otherwise(0)
        + F.when(n_distinct * 4 > n_tokens, 1).otherwise(0)
    )
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    scored = docs.select(
        "doc_id", fp.alias("fp"), n_tokens.alias("n_tokens"), q.alias("q")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    clusters = dedup_near_dup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    flagged = (
        scored.withColumn("rn", F.row_number().over(w))
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            (F.col("rn") == 1).alias("s_exact"),
            ((F.col("rn") == 1)
             & (F.coalesce(F.col("is_canonical"), F.lit(1)) == 1)).alias("s_near"),
            ((F.col("rn") == 1)
             & (F.coalesce(F.col("is_canonical"), F.lit(1)) == 1)
             & (F.col("q") >= 2)).alias("s_quality"),
        )
    )
    stages = [
        (1, "raw", F.lit(True)),
        (2, "exact_dedup", F.col("s_exact")),
        (3, "near_dedup", F.col("s_near")),
        (4, "quality_gate", F.col("s_quality")),
    ]
    agg = flagged.agg(
        F.count("*").alias("raw_docs"),
        *[F.sum(F.when(cond, 1).otherwise(0)).alias(f"d{i}") for i, _, cond in stages],
        *[F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)).alias(f"t{i}")
          for i, _, cond in stages],
    )
    rows = []
    for i, name, _ in stages:
        rows.append(
            agg.select(
                F.lit(i).alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(f"d{i}").cast("long").alias("n_docs"),
                F.col(f"t{i}").cast("long").alias("total_tokens"),
                (F.col(f"d{i}").cast("double")
                 / F.col("raw_docs").cast("double")).alias("doc_retention"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_no")


def _install_funnel_oracle() -> None:
    from dataclasses import replace

    from .registry import QUERIES as _Q

    clusters = _Q["dedup_near_dup_clusters"].oracle
    oracle = f"""
    WITH clusters AS ({clusters}),
    scored AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000
                   THEN 1 ELSE 0 END)
           + (CASE WHEN (length(text) - length(regexp_replace(text,
                         '[.,!?;:]', '', 'g'))) * 10 < length(text)
                   THEN 1 ELSE 0 END)
           + (CASE WHEN len(list_distinct(string_split(text, ' '))) * 4
                        > len(string_split(text, ' '))
                   THEN 1 ELSE 0 END) AS q
      FROM documents
    ),
    flagged AS (
      SELECT s.doc_id, s.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY s.fp ORDER BY s.doc_id) = 1
               AS s_exact,
             (ROW_NUMBER() OVER (PARTITION BY s.fp ORDER BY s.doc_id) = 1)
               AND COALESCE(c.is_canonical, 1) = 1 AS s_near,
             (ROW_NUMBER() OVER (PARTITION BY s.fp ORDER BY s.doc_id) = 1)
               AND COALESCE(c.is_canonical, 1) = 1 AND s.q >= 2 AS s_quality
      FROM scored s LEFT JOIN clusters c ON c.doc_id = s.doc_id
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS raw_docs,
             CAST(COUNT(*) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN s_exact THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN s_near THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN s_quality THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(n_tokens) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN s_exact THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN s_near THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN s_quality THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
      FROM flagged
    )
    SELECT stage_no, stage, n_docs, total_tokens,
           CAST(n_docs AS DOUBLE) / CAST(raw_docs AS DOUBLE) AS doc_retention
    FROM (
      SELECT 1 AS stage_no, 'raw' AS stage, d1 AS n_docs, t1 AS total_tokens,
             raw_docs FROM agg
      UNION ALL SELECT 2, 'exact_dedup', d2, t2, raw_docs FROM agg
      UNION ALL SELECT 3, 'near_dedup', d3, t3, raw_docs FROM agg
      UNION ALL SELECT 4, 'quality_gate', d4, t4, raw_docs FROM agg
    )
    ORDER BY stage_no
    """
    _Q["curation_funnel_report"] = replace(
        _Q["curation_funnel_report"], oracle=oracle
    )


_install_funnel_oracle()


@query(
    "dedup_cluster_size_histogram",
    oracle=None,  # composed below from the clusters oracle at import time
    tags=("dedup", "clustering", "report"),
    doc="Near-dup cluster-size census: how many clusters exist at each "
        "member count, including the size-1 row (documents in no "
        "cluster — corpus total minus clustered members). The shape "
        "diagnostic a dedup run reads before choosing a keep rule: a "
        "heavy tail of giant clusters means template floods (keep-one "
        "per cluster wipes real variety), while a thin 2-member tail "
        "means organic duplication. Cost beyond the shared cached "
        "cluster relation: one cluster_id count aggregate, one size "
        "histogram aggregate, and two 1-row counts for the singleton "
        "row — all map-side combinable.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm_ops import clusters_relation

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    clusters = clusters_relation(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    n_docs = docs.agg(F.count("*").alias("nd"))
    n_members = clusters.agg(F.count("*").alias("nm"))
    singletons = (
        n_docs.crossJoin(n_members)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("nd") - F.col("nm")).cast("long").alias("n_clusters"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.unionAll(singletons).orderBy("cluster_size")


def _install_cluster_histogram_oracle() -> None:
    from dataclasses import replace

    from .registry import QUERIES as _Q

    clusters = _Q["dedup_near_dup_clusters"].oracle
    # AS MATERIALIZED: referenced twice below; without the hint DuckDB
    # re-runs the recursive min-label propagation per reference.
    oracle = f"""
    WITH clusters AS MATERIALIZED ({clusters}),
    hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM clusters GROUP BY cluster_id)
      GROUP BY cluster_size
    ),
    singles AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             (SELECT COUNT(*) FROM documents)
               - (SELECT COUNT(*) FROM clusters) AS n_clusters
    )
    SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters FROM (
      SELECT * FROM hist
      UNION ALL
      SELECT * FROM singles WHERE n_clusters > 0
    ) ORDER BY cluster_size
    """
    _Q["dedup_cluster_size_histogram"] = replace(
        _Q["dedup_cluster_size_histogram"], oracle=oracle
    )


_install_cluster_histogram_oracle()


@query(
    "curation_dsir_weights",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(ws || list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS feat
      FROM ws
    ),
    fb AS MATERIALIZED (
      SELECT doc_id,
             CAST('0x' || substring(md5(feat), 1, 6) AS BIGINT)
               % {_N_BUCKETS} AS bucket,
             doc_id % 97 = 0 AS is_target
      FROM feats
      WHERE feat <> '' AND feat NOT LIKE '% ' AND feat NOT LIKE ' %'
        AND feat NOT LIKE '%  %'
    ),
    cnt AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS c_t,
             CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
               AS c_r
      FROM fb GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
             CAST(SUM(c_r) AS BIGINT) AS n_r
      FROM cnt
    ),
    lr AS (
      SELECT bucket,
             CAST({_LOG2_DEC_SQL_QF.format(
                 x=f"(CAST(c_t AS DOUBLE) + 1.0)"
                   f" / (CAST(n_t AS DOUBLE) + {_N_BUCKETS}.0)")} AS
                 DECIMAL(18,6))
             - CAST({_LOG2_DEC_SQL_QF.format(
                 x=f"(CAST(c_r AS DOUBLE) + 1.0)"
                   f" / (CAST(n_r AS DOUBLE) + {_N_BUCKETS}.0)")} AS
                 DECIMAL(18,6)) AS lr
      FROM cnt CROSS JOIN tot
    ),
    db AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM fb WHERE NOT is_target GROUP BY doc_id, bucket
    )
    SELECT db.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_features,
           CAST(SUM(c * lr) AS DOUBLE) AS dsir_logweight_bits,
           CAST(SUM(c * lr) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS avg_logratio_bits
    FROM db JOIN lr USING (bucket)
    GROUP BY db.doc_id
    """,
    tags=("curation", "sampling", "classifier"),
    doc="DSIR importance weights (Xie et al. 2023, Data Selection via "
        "Importance Resampling — the published method behind "
        "target-domain data selection at pre-training scale): every "
        "TRAIN document's log importance weight "
        "sum_f c(f) * [log2 p_target(f) - log2 p_raw(f)] under "
        "add-1-smoothed hashed unigram+bigram bag models (the same "
        "1024-bucket md5 feature space as text_hashed_ngram_classifier, "
        "so the two share one feature generator shape), with the eval "
        "marking rule (doc_id%97) shared by every decontam probe. "
        "Documents resembling the target distribution get positive "
        "weights; sampling proportional to exp of these weights IS the "
        "DSIR recipe. Each log goes through the verified round+DECIMAL "
        "lane; per-doc sums multiply exact BIGINT counts by exact "
        "decimal ratios. Plan: one narrow feature pass, a 1024-row "
        "(structurally bounded) count relation broadcast back onto the "
        "per-doc bucket aggregate, one groupBy(doc_id) — the corpus "
        "never shuffles on anything wider than (doc_id, bucket).",
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "concat(ws, if(size(ws) >= 2,"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> concat_ws(' ', ws[i-1], ws[i])),"
                    " cast(array() as array<string>)))"
                )
            ).alias("feat"),
        )
        .filter(
            (F.col("feat") != "")
            & ~F.col("feat").like("% ")
            & ~F.col("feat").like(" %")
            & ~F.col("feat").like("%  %")
        )
    )
    fb = feats.select(
        "doc_id",
        _feature_bucket(F.col("feat")).alias("bucket"),
        (F.col("doc_id") % 97 == 0).alias("is_target"),
    )
    cnt = fb.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("c_r"),
    )
    tot = cnt.agg(
        F.sum("c_t").cast("long").alias("n_t"),
        F.sum("c_r").cast("long").alias("n_r"),
    )
    lane = "cast(round(log2({x}), 6) as decimal(18,6))"
    lr = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.expr(lane.format(
                    x=f"(cast(c_t as double) + 1.0)"
                      f" / (cast(n_t as double) + {_N_BUCKETS}.0)"))
                - F.expr(lane.format(
                    x=f"(cast(c_r as double) + 1.0)"
                      f" / (cast(n_r as double) + {_N_BUCKETS}.0)"))
            ).alias("lr"),
        )
    )
    db = (
        fb.filter(~F.col("is_target"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return (
        db.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_features"),
            F.sum(F.col("c") * F.col("lr")).alias("slr"),
        )
        .select(
            "doc_id",
            "n_features",
            F.col("slr").cast("double").alias("dsir_logweight_bits"),
            (F.col("slr").cast("double")
             / F.col("n_features").cast("double")).alias("avg_logratio_bits"),
        )
    )


def _filter_agreement_oracle() -> str:
    """Composes the classifier's registered oracle with an inline
    per-doc Gopher rule gate (same thresholds/stopwords as
    text_gopher_quality_flags) — the two filter stacks' stored SQL IS
    the spec, so any drift in either breaks this query too."""
    from .gopher_filters import _STOPWORDS, _WC_HI, _WC_LO, _ngrams_sql
    from .registry import QUERIES

    clf_sql = QUERIES["text_hashed_ngram_classifier"].oracle
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
    WITH clf AS ({clf_sql}),
    w AS ({_ngrams_sql(1)}),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(g)) AS BIGINT) AS n_word_chars,
             CAST(COUNT(*) FILTER (WHERE len(g) <= 2) AS BIGINT) AS n_short,
             CAST(COUNT(DISTINCT g) FILTER (WHERE g IN ({stop_list}))
                  AS BIGINT) AS n_stop
      FROM w GROUP BY doc_id
    ),
    rules AS (
      SELECT doc_id,
             CASE WHEN n_words BETWEEN {_WC_LO} AND {_WC_HI}
                   AND n_word_chars >= 3 * n_words
                   AND n_word_chars <= 10 * n_words
                   AND 5 * n_short <= n_words
                   AND n_stop >= 2 THEN 1 ELSE 0 END AS k_rules
      FROM per_doc
    ),
    j AS (
      SELECT d.source,
             CASE WHEN clf.keep THEN 1 ELSE 0 END AS kc,
             r.k_rules AS kr
      FROM documents d
      JOIN clf ON clf.doc_id = d.doc_id
      JOIN rules r ON r.doc_id = d.doc_id
    ),
    cm AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(kc * kr) AS BIGINT) AS both_keep,
             CAST(SUM(kc * (1 - kr)) AS BIGINT) AS clf_only,
             CAST(SUM((1 - kc) * kr) AS BIGINT) AS rules_only,
             CAST(SUM((1 - kc) * (1 - kr)) AS BIGINT) AS both_drop
      FROM j GROUP BY source
    )
    SELECT source, n_docs, both_keep, clf_only, rules_only, both_drop,
           round(CAST(both_keep + both_drop AS DOUBLE) / n_docs, 6)
             AS agreement,
           round(CASE WHEN 1.0
                 - (CAST((both_keep + clf_only) AS DOUBLE)
                    * (both_keep + rules_only)
                    + CAST((rules_only + both_drop) AS DOUBLE)
                    * (clf_only + both_drop))
                   / (CAST(n_docs AS DOUBLE) * n_docs) = 0.0 THEN 0.0
                 ELSE (CAST(both_keep + both_drop AS DOUBLE) / n_docs
                       - (CAST((both_keep + clf_only) AS DOUBLE)
                          * (both_keep + rules_only)
                          + CAST((rules_only + both_drop) AS DOUBLE)
                          * (clf_only + both_drop))
                         / (CAST(n_docs AS DOUBLE) * n_docs))
                      / (1.0
                         - (CAST((both_keep + clf_only) AS DOUBLE)
                            * (both_keep + rules_only)
                            + CAST((rules_only + both_drop) AS DOUBLE)
                            * (clf_only + both_drop))
                           / (CAST(n_docs AS DOUBLE) * n_docs))
                 END, 6) AS kappa
    FROM cm
    ORDER BY source
    """


@query(
    "curation_filter_agreement",
    oracle=_filter_agreement_oracle(),
    tags=("curation", "quality", "decision", "llm-pipeline"),
    doc="Filter-stack agreement matrix — the A/B table a curation team "
        "reads before swapping a rule-based gate for a learned one "
        "(CCNet -> fastText-classifier migrations live or die on this): "
        "per source, the 2x2 confusion between the hashed-ngram "
        "classifier's keep and the Gopher rule gate's per-doc pass "
        "(same thresholds as text_gopher_quality_flags), raw agreement, "
        "and Cohen's kappa (chance-corrected — the honest number when "
        "both filters keep almost everything). All cells are exact "
        "integer counts; agreement and kappa are single identical "
        "double-expression trees on both engines, rounded to 6 dp. "
        "Scale: the classifier side is its own narrow broadcast-join "
        "aggregate; the rules side is one explode -> doc aggregate; "
        "they hash-join on doc_id and collapse to |sources| rows.",
)
def curation_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .gopher_filters import gopher_doc_stats, gopher_pass_predicate

    docs = load_table(spark, "documents", sf_dir)
    clf = text_hashed_ngram_classifier(spark, sf_dir).select(
        "doc_id", F.when(F.col("keep"), 1).otherwise(0).alias("kc")
    )
    rules = gopher_doc_stats(docs).select(
        "doc_id",
        F.when(gopher_pass_predicate(), 1).otherwise(0).alias("kr"),
    )
    cm = (
        docs.select("doc_id", "source")
        .join(clf, "doc_id")
        .join(rules, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("kc") * F.col("kr")).cast("long").alias("both_keep"),
            F.sum(F.col("kc") * (1 - F.col("kr"))).cast("long")
            .alias("clf_only"),
            F.sum((1 - F.col("kc")) * F.col("kr")).cast("long")
            .alias("rules_only"),
            F.sum((1 - F.col("kc")) * (1 - F.col("kr"))).cast("long")
            .alias("both_drop"),
        )
    )
    n = F.col("n_docs").cast("double")
    po = (F.col("both_keep") + F.col("both_drop")).cast("double") / F.col("n_docs")
    pe = (
        (F.col("both_keep") + F.col("clf_only")).cast("double")
        * (F.col("both_keep") + F.col("rules_only"))
        + (F.col("rules_only") + F.col("both_drop")).cast("double")
        * (F.col("clf_only") + F.col("both_drop"))
    ) / (n * F.col("n_docs"))
    kappa = F.when(F.lit(1.0) - pe == 0.0, F.lit(0.0)).otherwise(
        (po - pe) / (F.lit(1.0) - pe)
    )
    return cm.select(
        "source", "n_docs", "both_keep", "clf_only", "rules_only",
        "both_drop",
        F.round(po, 6).alias("agreement"),
        F.round(kappa, 6).alias("kappa"),
    ).orderBy("source")


@query(
    "curation_quality_decile_calibration",
    oracle=None,  # installed below: composes the classifier's stored SQL
    tags=("curation", "quality", "calibration", "llm-pipeline"),
    doc="Classifier-score calibration against the Gopher rule gate — the "
        "table that decides whether the learned keep-score can REPLACE "
        "the rules (curation_filter_agreement's kappa says how much "
        "they agree overall; this says WHERE they disagree): documents "
        "rank into exact deciles of the per-feature average classifier "
        "score and each decile reports its rule-gate pass rate. A "
        "monotone pass curve means the score orders quality the same "
        "way the rules do and a threshold can be read off the table; a "
        "flat or folded curve means the classifier learned something "
        "else. Integer lanes throughout (milli-score per feature with "
        "engine-identical truncation, rank-based deciles, per-mille "
        "rates). Scale: the exact global rank is a distributed two-pass "
        "— range-shard on (avg_milli, doc_id), row_number within each "
        "shard, add the broadcast per-shard cumulative offsets (the "
        "zipWithIndex shape; r10 replaced the global single-partition "
        "window). Every corpus-sized stage is shard-parallel; the only "
        "global window runs over the shard-counts relation.",
)
def curation_quality_decile_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from .gopher_filters import gopher_doc_stats, gopher_pass_predicate

    docs = load_table(spark, "documents", sf_dir)
    clf = text_hashed_ngram_classifier(spark, sf_dir).select(
        "doc_id", "n_features", "score_milli_sum"
    )
    rules = gopher_doc_stats(docs).select(
        "doc_id",
        F.when(gopher_pass_predicate(), 1).otherwise(0).alias("kr"),
    )
    # j feeds the shard bounds AND the sharded rank relation — without a
    # materialization the classifier + gopher-stats pipelines execute
    # once per reference (guide §2.4); |docs| x 3 narrow columns.
    j = clf.join(rules, "doc_id").select(
        "doc_id", "kr",
        F.expr("(score_milli_sum * 1000) div n_features")
        .alias("avg_milli"),
    ).localCheckpoint(eager=True)
    # Distributed two-pass rank (r10, re-sharded r12): row_number WITHIN
    # each shard of the (avg_milli, doc_id) total order, then add the
    # broadcast per-shard cumulative offset — global rank without a
    # corpus-sized single-partition window. The shard id is key-DERIVED
    # arithmetic on avg_milli against 1-row broadcast bounds (the
    # cdc_backfill_chunk_plan pattern): spark_partition_id() after
    # repartitionByRange is NOT stable across the plan's multiple
    # consumers of this subtree (range-sample nondeterminism / AQE
    # re-plan), and this subtree feeds BOTH the in-shard ranks and the
    # shard-count offsets. Equal-score rows colocate by construction
    # (shard depends only on avg_milli), so the shard split is monotone
    # along the total order; the only global window left runs over the
    # <= shuffle-partition-count shard-counts relation.
    n_shards = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    bounds = j.agg(
        F.min("avg_milli").alias("__k0"), F.max("avg_milli").alias("__k1")
    )
    sharded = (
        j.crossJoin(F.broadcast(bounds))
        .withColumn(
            "shard",
            F.expr(
                f"cast(((avg_milli - __k0) * {n_shards})"
                " div (__k1 - __k0 + 1) as int)"
            ),
        )
        .drop("__k0", "__k1")
    )
    w_in = Window.partitionBy("shard").orderBy("avg_milli", "doc_id")
    ranked_in = sharded.withColumn("rnk_in", F.row_number().over(w_in))
    cnts = sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w_off = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # over <= n_shards rows
    offsets = cnts.select(
        "shard",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
    )
    total = cnts.agg(F.sum("cnt").cast("long").alias("n"))
    ranked = (
        ranked_in.join(F.broadcast(offsets), "shard")
        .crossJoin(F.broadcast(total))
        .withColumn("rnk", F.col("offset") + F.col("rnk_in"))
    )
    dec = ranked.select(
        F.expr("((rnk - 1) * 10) div n").cast("long").alias("decile"),
        "avg_milli", "kr",
    )
    return (
        dec.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("avg_milli").cast("long").alias("min_avg_milli"),
            F.max("avg_milli").cast("long").alias("max_avg_milli"),
            F.sum("kr").cast("long").alias("gate_pass"),
        )
        .withColumn(
            "pass_per_mille", F.expr("(gate_pass * 1000) div n_docs")
        )
        .orderBy("decile")
    )


def _install_calibration_oracle() -> None:
    from dataclasses import replace

    from .gopher_filters import _STOPWORDS, _WC_HI, _WC_LO, _ngrams_sql
    from .registry import QUERIES as _Q

    clf_sql = _Q["text_hashed_ngram_classifier"].oracle
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    oracle = f"""
    WITH clf AS ({clf_sql}),
    w AS ({_ngrams_sql(1)}),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(len(g)) AS BIGINT) AS n_word_chars,
             CAST(COUNT(*) FILTER (WHERE len(g) <= 2) AS BIGINT) AS n_short,
             CAST(COUNT(DISTINCT g) FILTER (WHERE g IN ({stop_list}))
                  AS BIGINT) AS n_stop
      FROM w GROUP BY doc_id
    ),
    rules AS (
      SELECT doc_id,
             CASE WHEN n_words BETWEEN {_WC_LO} AND {_WC_HI}
                   AND n_word_chars >= 3 * n_words
                   AND n_word_chars <= 10 * n_words
                   AND 5 * n_short <= n_words
                   AND n_stop >= 2 THEN 1 ELSE 0 END AS kr
      FROM per_doc
    ),
    j AS (
      SELECT clf.doc_id, r.kr,
             (clf.score_milli_sum * 1000) // clf.n_features AS avg_milli
      FROM clf JOIN rules r ON r.doc_id = clf.doc_id
    ),
    ranked AS (
      SELECT avg_milli, kr,
             ROW_NUMBER() OVER (ORDER BY avg_milli, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM j
    ),
    dec AS (
      SELECT ((rnk - 1) * 10) // n AS decile, avg_milli, kr FROM ranked
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(avg_milli) AS BIGINT) AS min_avg_milli,
           CAST(MAX(avg_milli) AS BIGINT) AS max_avg_milli,
           CAST(SUM(kr) AS BIGINT) AS gate_pass,
           CAST(SUM(kr) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
             AS pass_per_mille
    FROM dec GROUP BY decile ORDER BY decile
    """
    _Q["curation_quality_decile_calibration"] = replace(
        _Q["curation_quality_decile_calibration"], oracle=oracle
    )


_install_calibration_oracle()


@query(
    "text_readability_report",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ),
    syl AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(GREATEST(
               len(string_split_regex(lower(tok), '[aeiouy]+')) - 1, 1))
               AS BIGINT) AS n_syll
      FROM w GROUP BY 1, 2
    ),
    sen AS (
      SELECT doc_id,
             CAST(GREATEST(len(string_split_regex(text, '[.!?]+')) - 1, 1)
                  AS BIGINT) AS n_sent
      FROM documents
    ),
    f AS (
      SELECT s.source,
             206835 - (1015 * ((s.n_words * 1000) // x.n_sent)) // 1000
                    - (84600 * ((s.n_syll * 1000) // s.n_words)) // 1000
               AS flesch_milli,
             (390 * ((s.n_words * 1000) // x.n_sent)) // 1000
               + (11800 * ((s.n_syll * 1000) // s.n_words)) // 1000
               - 15590 AS fk_milli
      FROM syl s JOIN sen x ON x.doc_id = s.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(flesch_milli) // COUNT(*) AS BIGINT)
             AS mean_flesch_milli,
           CAST(SUM(fk_milli) // COUNT(*) AS BIGINT) AS mean_fk_milli,
           CAST(COUNT(*) FILTER (WHERE flesch_milli >= 70000) AS BIGINT)
             AS n_easy,
           CAST(COUNT(*) FILTER (WHERE flesch_milli < 50000) AS BIGINT)
             AS n_difficult
    FROM f GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "readability", "llm-pipeline"),
    doc="Readability census per source — the Flesch reading-ease / "
        "Flesch-Kincaid grade axis of corpus quality (used to balance "
        "training mixtures between simple and complex prose, and the "
        "standard knob behind 'textbook-quality' subset selection): "
        "words from the corpus whitespace convention, sentences from "
        "[.!?]+ runs, syllables from the deterministic vowel-group "
        "heuristic (count of [aeiouy]+ runs, floor 1 — verified to "
        "split identically in Spark and DuckDB including empty-token "
        "edges). Both scores ride exact integer milli-unit lanes "
        "(trunc-toward-zero div is identical in both engines even on "
        "the negative Flesch sums long docs produce) — no float "
        "anywhere. Scale: one explode -> per-doc aggregate (map-side "
        "combinable) joined to a narrow per-doc sentence count on "
        "doc_id, folding to |sources| rows; no windows, no self-joins.",
)
def text_readability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split("text", r"\s+")).alias("tok"),
    )
    syl = toks.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(
            F.greatest(
                F.size(F.split(F.lower("tok"), "[aeiouy]+")) - 1, F.lit(1)
            )
        ).cast("long").alias("n_syll"),
    )
    sen = docs.select(
        "doc_id",
        F.greatest(F.size(F.split("text", "[.!?]+")) - 1, F.lit(1))
        .cast("long").alias("n_sent"),
    )
    f = syl.join(sen, "doc_id").select(
        "source",
        F.expr(
            "206835 - (1015 * ((n_words * 1000) div n_sent)) div 1000"
            " - (84600 * ((n_syll * 1000) div n_words)) div 1000"
        ).alias("flesch_milli"),
        F.expr(
            "(390 * ((n_words * 1000) div n_sent)) div 1000"
            " + (11800 * ((n_syll * 1000) div n_words)) div 1000 - 15590"
        ).alias("fk_milli"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("sum(flesch_milli) div count(*)").cast("long")
            .alias("mean_flesch_milli"),
            F.expr("sum(fk_milli) div count(*)").cast("long")
            .alias("mean_fk_milli"),
            F.sum(F.when(F.col("flesch_milli") >= 70000, 1).otherwise(0))
            .cast("long").alias("n_easy"),
            F.sum(F.when(F.col("flesch_milli") < 50000, 1).otherwise(0))
            .cast("long").alias("n_difficult"),
        )
        .orderBy("source")
    )


@query(
    "curation_dataset_diff_card",
    oracle=None,  # composed below from the clusters oracle at import time
    tags=("curation", "report", "versioning", "llm-pipeline"),
    doc="Dataset-version diff card — the before/after table a curation "
        "run publishes when a new dedup pass ships (dataset cards "
        "describe ONE version; what reviewers actually ask for is the "
        "DELTA): per source, document/token/char counts of the raw "
        "corpus vs the keep-list survivors (non-canonical near-dup "
        "cluster members dropped), with per-mille token retention. "
        "Token counts use the corpus whitespace convention; every lane "
        "is an exact integer. Composes the shared cluster relation "
        "(dedup_near_dup_clusters) exactly like the keep-list/funnel "
        "family, so the diff card costs one broadcast-able left join "
        "and one narrow per-doc token count beyond the cluster "
        "pipeline. Scale: |sources| output rows; the token count is "
        "a map-side-combinable per-doc aggregate.",
)
def curation_dataset_diff_card(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    from .llm_ops import dedup_near_dup_clusters

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    clusters = dedup_near_dup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    kept = F.coalesce(F.col("is_canonical"), F.lit(1)) == 1
    flagged = docs.join(clusters, "doc_id", "left").select(
        "source", "n_tokens", "n_chars", kept.cast("long").alias("kept")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs_before"),
            F.sum("kept").cast("long").alias("docs_after"),
            F.sum("n_tokens").cast("long").alias("tokens_before"),
            F.sum(F.col("n_tokens") * F.col("kept")).cast("long")
            .alias("tokens_after"),
            F.sum("n_chars").cast("long").alias("chars_before"),
            F.sum(F.col("n_chars") * F.col("kept")).cast("long")
            .alias("chars_after"),
        )
        .withColumn(
            "token_keep_per_mille",
            F.expr("(tokens_after * 1000) div tokens_before"),
        )
        .orderBy("source")
    )


def _install_diff_card_oracle() -> None:
    from dataclasses import replace

    from .registry import QUERIES as _Q

    clusters = _Q["dedup_near_dup_clusters"].oracle
    oracle = f"""
    WITH clusters AS ({clusters}),
    sized AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT)
               AS n_tokens,
             CAST(length(d.text) AS BIGINT) AS n_chars,
             CASE WHEN c.is_canonical = 0 THEN 0 ELSE 1 END AS kept
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(kept) AS BIGINT) AS docs_after,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
           CAST(SUM(n_tokens * kept) AS BIGINT) AS tokens_after,
           CAST(SUM(n_chars) AS BIGINT) AS chars_before,
           CAST(SUM(n_chars * kept) AS BIGINT) AS chars_after,
           CAST(SUM(n_tokens * kept) * 1000 // SUM(n_tokens) AS BIGINT)
             AS token_keep_per_mille
    FROM sized GROUP BY source ORDER BY source
    """
    _Q["curation_dataset_diff_card"] = replace(
        _Q["curation_dataset_diff_card"], oracle=oracle
    )


_install_diff_card_oracle()


@query(
    "curation_split_leakage_audit",
    oracle=None,  # composed below from the clusters oracle at import time
    tags=("curation", "split", "dedup", "leakage", "llm-pipeline"),
    doc="Split-leakage audit — the integrity check naive pipelines skip: "
        "a doc-level hash split (curation_train_val_test_split's exact "
        "rule) can place NEAR-DUPLICATES of a training document in the "
        "eval split, silently inflating every benchmark number (the "
        "reason dedup-aware splitting exists; the fix is splitting by "
        "CLUSTER, not by doc). Per near-dup cluster: the set of splits "
        "its members land in, and the audit rolls up to one row per "
        "observed split-combination with cluster/doc counts — any row "
        "whose combination spans train AND a holdout is quantified "
        "leakage. Exact string lanes (sorted '+'-joined split sets). "
        "Composes the shared cluster relation like the keep-list "
        "family; costs one broadcast-able join and two small "
        "aggregates beyond the cluster pipeline. Scale: clusters are "
        "the small relation; the rollup is |split-combinations| rows.",
)
def curation_split_leakage_audit(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    from .llm_ops import dedup_near_dup_clusters

    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        1, 2,
    )
    split = (
        F.when(h < "cc", F.lit("train"))
        .when(h < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    clusters = dedup_near_dup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    member_splits = clusters.select(
        "cluster_id", "doc_id", split.alias("split")
    )
    per_cluster = member_splits.groupBy("cluster_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("split")), "+"
        ).alias("split_set"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return (
        per_cluster.groupBy("split_set")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        .withColumn(
            "leaks_holdout",
            F.col("split_set").contains("train")
            & (F.col("split_set").contains("val")
               | F.col("split_set").contains("test")),
        )
        .orderBy("split_set")
    )


def _install_leakage_oracle() -> None:
    from dataclasses import replace

    from .registry import QUERIES as _Q

    clusters = _Q["dedup_near_dup_clusters"].oracle
    oracle = f"""
    WITH clusters AS ({clusters}),
    ms AS (
      SELECT cluster_id, doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                              1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                              1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM clusters
    ),
    pc AS (
      SELECT cluster_id,
             array_to_string(list_sort(list_distinct(list(split))), '+')
               AS split_set,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM ms GROUP BY cluster_id
    )
    SELECT split_set,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           (split_set LIKE '%train%' AND
            (split_set LIKE '%val%' OR split_set LIKE '%test%'))
             AS leaks_holdout
    FROM pc GROUP BY split_set ORDER BY split_set
    """
    _Q["curation_split_leakage_audit"] = replace(
        _Q["curation_split_leakage_audit"], oracle=oracle
    )


_install_leakage_oracle()
