"""AggregatingMergeTree-shape mergeable aggregate state (ClickHouse
``-State`` / ``-Merge`` combinator parity, SURVEY §2.7).

The replica's target-engine family (reference/readme.md:82-91 context)
includes AggregatingMergeTree: a table whose rows are aggregate-function
STATES (countState / sumState / minState / maxState / avgState /
uniqState) keyed by the primary key. Inserts write one state row per
(key, insert block); background merges FOLD state rows sharing a key
(an associative + commutative combine); reads finalize with ``-Merge``
combinators. The usual deployment is a materialized view over the CDC
target table, so per-key aggregates over the whole change history are a
metadata-sized read that never re-touches the raw stream.

Spark-first re-expression — everything is a JVM built-in expression:

- a STATE is a row of exact integer partials (``cnt``, ``sum_milli``,
  ``min_milli``, ``max_milli`` — the money/metric lane is integer millis,
  so partial sums are exact and order-insensitive) plus a fixed-width
  KMV bucket-min array for ``uniq`` (empty buckets carry the 2^52
  sentinel; same estimator as ``q_distinct_minvalue_sketch``);
- ``partial_states`` is one map-side-combinable hash aggregate;
- ``merge_states`` is ``groupBy(key)`` with sum/min/max plus an
  element-wise ``least`` fold over the collected KMV arrays
  (``F.aggregate`` + ``F.zip_with`` — the collected list is bounded by
  the PART count per key, never the row count);
- ``finalize`` is the ``-Merge`` read: avg = exact integer div, uniq =
  the KMV estimate from the folded array.

Every combine is associative and commutative on exact integers, so ANY
part folding order — including incremental re-merges of already-merged
states — yields bit-identical results to aggregating the union of all
blocks at once. ``AggregateStateStore`` persists the state rows as
parquet parts and exposes apply/merge/compact, mirroring the MergeTree
part lifecycle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .part_store import PartStore

_KMV_M = 1024           # stochastic-averaging buckets (uniqState width)
_KMV_TWO52 = 1 << 52    # hash domain: 13 md5 hex chars = 52 bits
_KMV_NUM = float(_KMV_M * _KMV_M * _KMV_TWO52)

# Second uniq lane (r13, VERDICT r12 item 3): a uniqHLL12/uniqCombined-
# shape DENSE register array. Register index = the hash's low 10 bits
# (the same _KMV_M buckets the KMV lane groups by, so both lanes share
# one aggregate); rank = leading-zero count of the remaining 42 bits
# + 1 (0 = empty register). The per-register fold is integer MAX —
# associative, commutative, order-insensitive, deterministic
# cross-engine — and the estimate is alpha_m * m^2 / sum(2^-M_j),
# computed on an EXACT integer lane: S = sum_j 2^(RANK_MAX - M_j) is a
# sum of integer powers of two bounded by m * 2^RANK_MAX = 2^53 (long-
# and double-exact), so the only float op is ONE correctly-rounded IEEE
# division by a literal.
_HLL_M = _KMV_M                 # registers
_HLL_W = 52 - 10                # rank-source bits (hash minus index bits)
_HLL_RANK_MAX = _HLL_W + 1      # rank of v == 0 (all rank bits zero)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_RANK_MAX)
# Small-range (linear-counting) correction m*ln(m/zeros), applied when
# the raw estimate <= 2.5m and zeros > 0. ln is a transcendental — the
# r9 lesson bans it from hashed output — but zeros is an integer in
# [1, m], so the whole correction is a 1024-entry lookup PRECOMPUTED
# here and embedded as an identical literal array on both engines:
# query-time arithmetic is one integer index, zero float ops.
import math as _math  # noqa: E402

_HLL_LC = [0] + [
    int(round(_HLL_M * _math.log(_HLL_M / z))) for z in range(1, _HLL_M + 1)
]
_HLL_LC_THRESHOLD = int(2.5 * _HLL_M)

# Quantile lane (r14, VERDICT r13 item 5): a quantileTiming-shape
# FIXED-BOUNDARY histogram — ClickHouse's deterministic mergeable
# quantile family keeps exact counts for small values and fixed coarse
# buckets above, clamping at a declared ceiling, so the state is a
# dense integer count array whose merge is element-wise SUM
# (associative, commutative, order-insensitive, deterministic
# cross-engine — the HLL-register discipline applied to quantiles).
# Tier 1: _QT_T1 exact 1-unit slots for v in [0, _QT_T1); tier 2:
# _QT_T2 slots of width _QT_T2W (a power of two, so the slot index is a
# shift — no float division anywhere) for v in [_QT_T1, _QT_CLAMP);
# one overflow slot counts v >= _QT_CLAMP (finalized as the clamp
# value, the quantileTiming 30s-saturation semantic); negatives clamp
# into slot 0. Finalize walks the cumulative counts to the smallest
# slot covering rank ceil(q * cnt) — pure integer arithmetic, zero
# transcendentals in any hashed lane.
_QT_T1 = 1024
_QT_T2 = 1024
_QT_T2W = 1024                       # power of two: index = shiftright 10
_QT_OVER = _QT_T1 + _QT_T2           # overflow slot index
_QT_B = _QT_OVER + 1                 # total slots
_QT_CLAMP = _QT_T1 + _QT_T2 * _QT_T2W

STATE_COLS = (
    "cnt", "sum_milli", "min_milli", "max_milli", "uniq_state",
    "hll_state", "quantile_state",
)


def _qt_bucket(v: F.Column) -> F.Column:
    """Histogram slot for integer value ``v`` (see the lane comment)."""
    return (
        F.when(v < 0, F.lit(0))
        .when(v < _QT_T1, v)
        .when(
            v < _QT_CLAMP,
            F.lit(_QT_T1)
            + F.shiftright((v - _QT_T1).cast("long"), _QT_T2W.bit_length() - 1),
        )
        .otherwise(F.lit(_QT_OVER))
        .cast("int")
    )


def _qt_value(b: F.Column) -> F.Column:
    """The slot's representative value: tier-1 slots are exact, tier-2
    slots finalize to their lower boundary, overflow to the clamp."""
    return (
        F.when(b < _QT_T1, b)
        .when(b < _QT_OVER, F.lit(_QT_T1) + (b - _QT_T1) * F.lit(_QT_T2W))
        .otherwise(F.lit(_QT_CLAMP))
        .cast("long")
    )


def qt_bucket_sql(v: str) -> str:
    """DuckDB replica of ``_qt_bucket`` (generated from the same
    constants so the tiers cannot drift)."""
    return (
        f"(CASE WHEN {v} < 0 THEN 0 "
        f"WHEN {v} < {_QT_T1} THEN CAST({v} AS BIGINT) "
        f"WHEN {v} < {_QT_CLAMP} THEN {_QT_T1} + ({v} - {_QT_T1}) // {_QT_T2W} "
        f"ELSE {_QT_OVER} END)"
    )


def qt_value_sql(b: str) -> str:
    """DuckDB replica of ``_qt_value``."""
    return (
        f"(CASE WHEN {b} < {_QT_T1} THEN CAST({b} AS BIGINT) "
        f"WHEN {b} < {_QT_OVER} THEN {_QT_T1} + ({b} - {_QT_T1}) * {_QT_T2W} "
        f"ELSE {_QT_CLAMP} END)"
    )


def _kmv_hash(uniq_col: str) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(uniq_col).cast("string")), 1, 13), 16, 10
    ).cast("long")


def _hll_rank(v: F.Column) -> F.Column:
    """Leading-zero rank of the ``_HLL_W``-bit value ``v``: 1 when the
    top bit is set, ``_HLL_W`` when only the low bit is, RANK_MAX when
    v == 0. A pure integer comparison chain — no log2, whose
    engine-specific rounding at exact powers of two would break hash
    parity (the transcendental-triage discipline)."""
    expr = F.when(v >= (1 << (_HLL_W - 1)), F.lit(1))
    for rank in range(2, _HLL_W + 1):
        expr = expr.when(v >= (1 << (_HLL_W - rank)), F.lit(rank))
    return expr.otherwise(F.lit(_HLL_RANK_MAX))


def hll_rank_case_sql(v_expr: str) -> str:
    """The DuckDB replica of ``_hll_rank`` (generated from the same
    constants so the branches cannot drift)."""
    whens = "".join(
        f" WHEN {v_expr} >= {1 << (_HLL_W - rank)} THEN {rank}"
        for rank in range(1, _HLL_W + 1)
    )
    return f"(CASE{whens} ELSE {_HLL_RANK_MAX} END)"


def partial_states(
    df: DataFrame,
    keys: Sequence[str],
    value_milli_col: str,
    uniq_col: str,
) -> DataFrame:
    """``-State`` write path: one mergeable state row per key group.

    ONE pass over the raw rows (r15, guide §2.4): the first map-side-
    combinable aggregate groups by (keys, uniq-hash bucket, quantile
    value bucket) — every lane's per-pair partial in one raw scan — and
    is materialized (a state-cardinality relation, never raw-sized).
    The uniq/HLL lanes and the value-bucketed quantile lane then roll
    up from that checkpoint along their own bucket axes. The pre-r15
    shape ran TWO separate aggregates over ``df``, which re-executed
    the caller's whole upstream (e.g. the CDC envelope JSON parse) once
    per lane unless the caller checkpointed it; every fold here is an
    exact associative integer op, so pair-level-then-rollup is
    bit-identical to direct grouping.
    """
    h = _kmv_hash(uniq_col)
    pair = (
        df.select(
            *keys,
            F.col(value_milli_col).cast("long").alias("__v"),
            (h % _KMV_M).cast("int").alias("__b"),
            h.alias("__h"),
            _qt_bucket(F.col(value_milli_col).cast("long")).alias("__qb"),
        )
        .groupBy(*keys, "__b", "__qb")
        .agg(
            F.count("*").cast("long").alias("__c"),
            F.sum("__v").cast("long").alias("__s"),
            F.min("__v").cast("long").alias("__mn"),
            F.max("__v").cast("long").alias("__mx"),
            F.min("__h").alias("__u"),
            # HLL lane: the register IS the bucket (low 10 hash bits);
            # max leading-zero rank of the remaining 42 bits
            F.max(
                _hll_rank(F.floor(F.col("__h") / F.lit(_HLL_M))
                          .cast("long"))
            ).cast("int").alias("__hr"),
        )
        .localCheckpoint(eager=True)
    )
    per_bucket = pair.groupBy(*keys, "__b").agg(
        F.sum("__c").cast("long").alias("__c"),
        F.sum("__s").cast("long").alias("__s"),
        F.min("__mn").cast("long").alias("__mn"),
        F.max("__mx").cast("long").alias("__mx"),
        F.min("__u").alias("__u"),
        F.max("__hr").cast("int").alias("__hr"),
    )
    states = (
        per_bucket.groupBy(*keys)
        .agg(
            F.sum("__c").cast("long").alias("cnt"),
            F.sum("__s").cast("long").alias("sum_milli"),
            F.min("__mn").cast("long").alias("min_milli"),
            F.max("__mx").cast("long").alias("max_milli"),
            # bucket ids are unique within the group, so the maps (and
            # the arrays built from them) are collect-order insensitive
            F.map_from_entries(
                F.collect_list(F.struct("__b", "__u"))
            ).alias("__m"),
            F.map_from_entries(
                F.collect_list(F.struct("__b", "__hr"))
            ).alias("__hm"),
        )
        .withColumn(
            "uniq_state",
            F.transform(
                F.sequence(F.lit(0), F.lit(_KMV_M - 1)),
                lambda i: F.coalesce(
                    F.col("__m")[i], F.lit(_KMV_TWO52).cast("long")
                ),
            ),
        )
        .withColumn(
            "hll_state",
            F.transform(
                F.sequence(F.lit(0), F.lit(_HLL_M - 1)),
                lambda i: F.coalesce(F.col("__hm")[i], F.lit(0)),
            ),
        )
        .drop("__m", "__hm")
    )
    # Quantile lane: buckets by VALUE, not by the uniq hash — rolled up
    # from the SAME materialized pair aggregate along its value-bucket
    # axis (no second raw pass); the join back is keys-cardinality —
    # state rows, never raw rows.
    qt = (
        pair
        .groupBy(*keys, "__qb")
        .agg(F.sum("__c").cast("long").alias("__qc"))
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__qb", "__qc"))
            ).alias("__qm")
        )
        .withColumn(
            "quantile_state",
            F.transform(
                F.sequence(F.lit(0), F.lit(_QT_B - 1)),
                lambda i: F.coalesce(
                    F.col("__qm")[i], F.lit(0).cast("long")
                ),
            ),
        )
        .drop("__qm")
    )
    return states.join(qt, list(keys))


def merge_states(states: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The background merge / ``-Merge`` combine: fold state rows sharing
    a key. Exact integer sum/min/max; the uniq fold is element-wise
    ``least`` over the collected arrays (list length = parts per key)."""
    return (
        states.groupBy(*keys)
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cnt").cast("long").alias("cnt"),
            F.sum("sum_milli").cast("long").alias("sum_milli"),
            F.min("min_milli").cast("long").alias("min_milli"),
            F.max("max_milli").cast("long").alias("max_milli"),
            F.collect_list("uniq_state").alias("__us"),
            F.collect_list("hll_state").alias("__hs"),
            F.collect_list("quantile_state").alias("__qs"),
        )
        .withColumn(
            "uniq_state",
            F.aggregate(
                "__us",
                F.array_repeat(F.lit(_KMV_TWO52).cast("long"), _KMV_M),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
            ),
        )
        .withColumn(
            "hll_state",
            F.aggregate(
                "__hs",
                F.array_repeat(F.lit(0), _HLL_M),
                lambda acc, x: F.zip_with(
                    acc, x, lambda a, b: F.greatest(a, b)
                ),
            ),
        )
        .withColumn(
            "quantile_state",
            F.aggregate(
                "__qs",
                F.array_repeat(F.lit(0).cast("long"), _QT_B),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ),
        )
        .drop("__us", "__hs", "__qs")
    )


def finalize(merged: DataFrame) -> DataFrame:
    """The ``-Merge`` read: exact avg lane (integer div), the KMV uniq
    estimate, and the HLL lane (raw estimate + zeros + register
    checksum, all from the exact integer registers); drops the state
    arrays."""
    sum_u = F.aggregate(
        "uniq_state", F.lit(0).cast("long"), lambda a, x: a + x
    )
    # S = sum_j 2^(RANK_MAX - M_j): exact integers, bounded by 2^53
    # (SQL shiftleft takes a column shift; the python F.shiftleft wants
    # an int literal)
    hll_s = F.expr(
        "aggregate(hll_state, CAST(0 AS BIGINT), "
        f"(a, x) -> a + shiftleft(CAST(1 AS BIGINT), {_HLL_RANK_MAX} - x))"
    )
    return merged.withColumn(
        "avg_milli", F.expr("sum_milli div cnt")
    ).withColumn(
        "uniq_est",
        (
            F.floor(F.lit(_KMV_NUM) / sum_u.cast("double")).cast("long")
            - F.lit(_KMV_M).cast("long")
        ),
    ).withColumn(
        "__hll_raw",
        F.floor(F.lit(_HLL_NUM) / hll_s.cast("double")).cast("long"),
    ).withColumn(
        # computed once, reused by both the linear-counting branch and
        # the emitted hll_zeros column (the 1024-element scan is per-row)
        "hll_zeros",
        F.size(F.filter("hll_state", lambda x: x == 0)).cast("long"),
    ).withColumn(
        "uniq_hll_est",
        F.when(
            (F.col("__hll_raw") <= F.lit(_HLL_LC_THRESHOLD))
            & (F.col("hll_zeros") > 0),
            F.element_at(
                F.array(*[F.lit(v) for v in _HLL_LC]),
                (F.col("hll_zeros") + 1).cast("int"),
            ),
        ).otherwise(F.col("__hll_raw")).cast("long"),
    ).withColumn(
        "hll_reg_sum",
        F.aggregate(
            "hll_state", F.lit(0).cast("long"), lambda a, x: a + x
        ),
    ).withColumn(
        # Quantile walk: one pass over the (count, slot) pairs with a
        # struct accumulator — each quantile locks onto _qt_value(slot)
        # at the first slot whose cumulative count reaches its rank
        # target ceil(q * cnt) = (num*cnt + den - 1) div den (exact
        # integer arithmetic; -1 = not yet reached).
        "__qt",
        F.aggregate(
            F.zip_with(
                "quantile_state",
                F.sequence(F.lit(0), F.lit(_QT_B - 1)),
                lambda c, i: F.struct(c.alias("c"), i.alias("i")),
            ),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(-1).cast("long").alias("p50"),
                F.lit(-1).cast("long").alias("p90"),
                F.lit(-1).cast("long").alias("p99"),
            ),
            lambda a, x: F.struct(
                (a["cum"] + x["c"]).alias("cum"),
                F.when(a["p50"] >= 0, a["p50"]).when(
                    a["cum"] + x["c"]
                    >= F.expr("(cnt + 1) div 2"),
                    _qt_value(x["i"]),
                ).otherwise(F.lit(-1).cast("long")).alias("p50"),
                F.when(a["p90"] >= 0, a["p90"]).when(
                    a["cum"] + x["c"]
                    >= F.expr("(9 * cnt + 9) div 10"),
                    _qt_value(x["i"]),
                ).otherwise(F.lit(-1).cast("long")).alias("p90"),
                F.when(a["p99"] >= 0, a["p99"]).when(
                    a["cum"] + x["c"]
                    >= F.expr("(99 * cnt + 99) div 100"),
                    _qt_value(x["i"]),
                ).otherwise(F.lit(-1).cast("long")).alias("p99"),
            ),
        ),
    ).withColumn(
        "qt_p50_milli", F.col("__qt.p50")
    ).withColumn(
        "qt_p90_milli", F.col("__qt.p90")
    ).withColumn(
        "qt_p99_milli", F.col("__qt.p99")
    ).drop("uniq_state", "hll_state", "quantile_state", "__hll_raw", "__qt")


class AggregateStateStore:
    """Parquet-persisted AggregatingMergeTree lifecycle.

    - ``apply_part(df)`` — the materialized-view insert trigger: fold one
      CDC insert block into state rows and persist them as a new part.
    - ``merged()`` — the ``-Merge`` read over all live parts.
    - ``compact()`` — the background merge: replace all parts with one
      already-merged part (reads afterwards fold a single row per key).

    Because every combine is associative + commutative, compaction at any
    moment is invisible to ``merged()`` readers — the store's pytest
    proves fold(parts) == fold(compact(parts) + more parts) ==
    batch-over-everything.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        value_milli_col: str,
        uniq_col: str,
    ) -> None:
        self.spark = spark
        self.keys = list(keys)
        self.value_milli_col = value_milli_col
        self.uniq_col = uniq_col
        self.store = PartStore(path)

    def apply_part(self, block: DataFrame) -> int:
        return self.store.append(partial_states(
            block, self.keys, self.value_milli_col, self.uniq_col
        ))

    def _states(self) -> DataFrame:
        states = self.store.read(self.spark)
        if states is None:
            raise ValueError(f"no state parts under {self.store.root}")
        return states.select(*self.keys, *STATE_COLS)

    def merged(self) -> DataFrame:
        return merge_states(self._states(), self.keys)

    def read_final(self) -> DataFrame:
        return finalize(self.merged())

    def compact(self) -> None:
        """Rewrite all live parts as one merged part (crash-safe: see
        operators/part_store.py)."""
        self.store.compact(self.merged().select(*self.keys, *STATE_COLS))
