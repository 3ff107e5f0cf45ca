"""Custom stateful streaming operators (applyInPandasWithState).

The built-in windowed aggregations (streaming/windows.py) cover the
reference's event-time surface; these operators cover what built-ins
can't express:

- ``streaming_first_seen``: cross-batch exact dedup — emit a key's row
  only the FIRST time it is ever seen. The streaming analogue of the
  batch fingerprint dedup (text_fingerprint_dedup): run it on a document
  stream keyed by content fingerprint and the sink receives each unique
  document exactly once, no matter how often the crawler re-delivers.
  (``dropDuplicates`` on a stream keeps state too but cannot bound or
  inspect it per key, and ``dropDuplicatesWithinWatermark`` forgets;
  this operator owns its state explicitly.)
- ``streaming_running_totals``: per-key running count/sum emitted every
  micro-batch (update mode) — the live per-table ingest counters the
  reference keeps in Redis (``publisher.py:24-46``), kept in the state
  store instead.

Scale notes (100 TB stream): state is hash-partitioned by key across
executors (same shuffle as any groupBy); each micro-batch touches only
the keys present in that batch. Arrow moves rows to Python in batches —
the grouped-map path is vectorized, not row-at-a-time. State per key is
O(1) (a flag / two counters). For unbounded key spaces set a TTL via
``GroupStateTimeout.ProcessingTimeTimeout`` so dead keys age out.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_first_seen(
    df: DataFrame,
    key_cols: str | Sequence[str],
    *,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Emit each key's first-ever row; suppress all later arrivals.

    Works on a streaming DataFrame grouped by ``key_cols``; output schema
    equals the input schema. With ``state_ttl_ms`` set, a key's memory
    ages out after that long without arrivals (bounded state for
    unbounded key spaces — re-arrivals after expiry re-emit).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    out_schema = df.schema
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])
    ttl = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def dedup(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            for _ in pdfs:  # drain; key already emitted
                pass
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[:1]
        state.update((True,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if first is not None:
            yield first

    return df.groupBy(*keys).applyInPandasWithState(
        dedup, out_schema, state_schema, "update", ttl
    )


def streaming_running_totals(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key lifetime (count, sum) re-emitted on every batch the key
    appears in — update-mode live counters."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def totals(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return df.groupBy(key_col).applyInPandasWithState(
        totals, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_dataset_card(df: DataFrame) -> DataFrame:
    """Live dataset-card counters over a streaming ``documents`` feed:
    per (source, lang) stratum, lifetime document / estimated-token /
    character totals re-emitted on every batch the stratum appears in —
    the streaming face of the batch ``curation_dataset_card`` query.

    The token estimate (``greatest(1, n_chars // 4)``) is projected
    JVM-side BEFORE the stateful operator, so Python only sums three
    integer columns per Arrow batch. State per stratum is three counters
    (O(1)); strata are hash-partitioned, so 1000 executors hold disjoint
    slices. The batch card's ``distinct_docs``/``dup_rate`` column is
    deliberately absent here: exact distinct is not an O(1)-mergeable
    counter — production systems bolt an HLL sketch into this same state
    slot, and the batch query stays the exact source of truth.
    """
    projected = df.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.greatest(F.lit(1), (F.col("n_chars") / 4).cast("long"))
        .cast("long")
        .alias("est_tokens"),
    )
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("total_tokens", T.LongType()),
            T.StructField("total_chars", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_docs", T.LongType()),
            T.StructField("total_tokens", T.LongType()),
            T.StructField("total_chars", T.LongType()),
        ]
    )

    def card(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, toks, chars = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            toks += int(pdf["est_tokens"].sum())
            chars += int(pdf["n_chars"].sum())
        state.update((n, toks, chars))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "lang": [key[1]],
                "n_docs": [n],
                "total_tokens": [toks],
                "total_chars": [chars],
            }
        )

    return projected.groupBy("source", "lang").applyInPandasWithState(
        card, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def make_user_stats_processor(key_col: str, value_col: str):
    """Build the ``StatefulProcessor`` behind ``streaming_user_stats_tws``.

    Module-level (not a closure inside the operator) so the processor's
    state-transition logic is testable against the ``StatefulProcessor``
    contract directly — ``init(handle)`` / ``handleInputRows`` /
    ``close()`` driven with a fake handle — in environments where the
    JVM<->Python state protocol (google.protobuf) is unavailable. The
    streaming wrapper below passes an instance straight to
    ``transformWithStateInPandas``; Spark itself calls exactly the same
    three methods, so the fake-handle drive exercises the identical code
    path minus the wire protocol.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n long, total double, vmax double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, vmax = (
                tuple(self._stats.get()) if self._stats.exists() else (0, 0.0, None)
            )
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                total += float(pdf[value_col].sum())
                batch_max = float(pdf[value_col].max())
                vmax = batch_max if vmax is None else max(vmax, batch_max)
            self._stats.update((n, total, vmax))
            yield pd.DataFrame(
                {key_col: [key[0]], "n": [n], "total": [total], "vmax": [vmax]}
            )

        def close(self) -> None:
            pass

    return UserStats()


def streaming_user_stats_tws(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key lifetime (n, total, vmax) on the NEW Spark 4 stateful API
    (``transformWithStateInPandas``): explicit typed state variables via
    ``StatefulProcessorHandle`` instead of the single opaque tuple
    ``applyInPandasWithState`` allows. Functionally parallel to
    ``streaming_running_totals`` (kept above — the older API remains the
    wider-deployed one); this variant is the forward path: per-variable
    state (ValueState/ListState/MapState), native TTL, and timers all
    hang off the same handle.

    Scale: identical state-store profile to any keyed stateful op — one
    shuffle on the key, O(1) state per key, Arrow-batched transfer.

    Runtime requirements for the full streaming path: the RocksDB state
    store provider (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` (the JVM<->Python state protocol). Where protobuf
    is absent the processor's state logic is still covered end to end by
    the fake-handle contract drive in tests/test_streaming_stateful.py
    (see :func:`make_user_stats_processor`).
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )
    return df.groupBy(key_col).transformWithStateInPandas(
        make_user_stats_processor(key_col, value_col),
        out_schema, "Update", "None",
    )


# --- streaming anomaly z-score (the q_event_anomaly_zscore twin) ----------

_ANOM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("flagged", T.BooleanType()),
    ]
)
_ANOM_STATE = "m1 array<long>, m2 array<long>"


def _micro6(v: float) -> int:
    """Exact 6-dp HALF_UP micro-units of a double — bit-identical to
    Spark's ``round(v, 6)`` into DECIMAL(18,6). Spark rounds the
    SHORTEST decimal representation of the double
    (``BigDecimal.valueOf`` goes through ``Double.toString``), NOT the
    exact binary expansion — ``Decimal(repr(v))`` is Python's shortest
    round-trip repr of the same value, so the two agree even for
    inputs like 0.1234565 whose binary expansion rounds DOWN while the
    shortest repr rounds UP — ``Decimal(v)`` would diverge there."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(v))
        .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        .scaleb(6)
    )


def streaming_anomaly_zscore(
    df: DataFrame,
    *,
    window: int = 20,
    min_prior: int = 10,
    z_thresh: float = 3.0,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch rolling z-score
    (queries/analytics.py q_event_anomaly_zscore): every event scores
    against its user's PRIOR ``window`` events' mean/std, carried
    across micro-batches in the state store — the live metric-spike /
    fraud alert the batch query post-hoc reports.

    Bit-exact parity with the batch window (asserted in
    tests/test_streaming_stateful.py): the rolling moments are exact
    6-dp micro-unit INTEGERS (the decimal lane, carried as two
    ``array<long>`` ring buffers of per-event terms), converted to
    double by one correctly-rounded division (``s_micro / 10**6`` ==
    Spark's DECIMAL->DOUBLE cast), then the identical double sequence
    mean -> clamped variance -> sqrt -> (v - mean)/std. Events within
    a micro-batch sort by (ts, event_id); parity across batches holds
    whenever batch boundaries respect per-user event-time order (the
    WAL tail and any time-partitioned replay deliver exactly that).

    Scale: one shuffle on user_id (the same exchange the batch window
    needs); state is O(window) longs per key; Arrow-batched transfer.
    ``state_ttl_ms`` ages out idle users for unbounded key spaces."""

    def score(key, pdfs: Iterable[pd.DataFrame], state: GroupState
              ) -> Iterable[pd.DataFrame]:
        import math

        if state.hasTimedOut:
            state.remove()
            return
        m1, m2 = ([], [])
        if state.exists:
            sm1, sm2 = state.get
            m1, m2 = list(sm1), list(sm2)
        out = {"user_id": [], "event_id": [], "z": [], "flagged": []}
        # Drain ALL Arrow chunks before sorting: a key's micro-batch rows
        # can span multiple chunks (arrow.maxRecordsPerBatch), and
        # per-chunk sorting would interleave event time across chunks.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (
            pd.concat(chunks).sort_values(["ts", "event_id"])
            if chunks else None
        )
        if batch is not None:
            # NULL event values: the batch window's COUNT(value)/SUM skip
            # them, so the stream must neither score nor accumulate them
            # (a null becomes NaN in pandas and would poison the decimal
            # lane's quantize).
            batch = batch[batch["value"].notna()]
        if batch is not None and len(batch):
            for ev, v in zip(batch["event_id"], batch["value"]):
                v = float(v)
                cnt = len(m1)
                if cnt >= min_prior:
                    s1d = sum(m1) / 10**6
                    s2d = sum(m2) / 10**6
                    mean = s1d / cnt
                    var = max(0.0, s2d / cnt - mean * mean)
                    std = math.sqrt(var)
                    if std > 0:
                        z = (v - mean) / std
                        out["user_id"].append(key[0])
                        out["event_id"].append(int(ev))
                        out["z"].append(z)
                        out["flagged"].append(abs(z) > z_thresh)
                m1.append(_micro6(v))
                m2.append(_micro6(v * v))
                if len(m1) > window:
                    m1.pop(0)
                    m2.pop(0)
        state.update((m1, m2))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out["user_id"]:
            yield pd.DataFrame(out)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy("user_id").applyInPandasWithState(
        score, _ANOM_SCHEMA, _ANOM_STATE, "append", timeout
    )


_LATE_SCHEMA = T.StructType(
    [
        T.StructField("batch_rows", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("worst_lateness_us", T.LongType()),
        T.StructField("running_n_rows", T.LongType()),
        T.StructField("running_n_late", T.LongType()),
        T.StructField("running_worst_us", T.LongType()),
        T.StructField("hw_us", T.LongType()),
    ]
)
_LATE_STATE = "hw long, n_rows long, n_late long, worst_us long"


def streaming_late_arrival_monitor(
    df: DataFrame, *, arrival_col: str = "_ver", ts_col: str = "ts"
) -> DataFrame:
    """Live twin of the batch ``cdc_watermark_sizing`` census (VERDICT
    r8 item 6 follow-through): carries the GLOBAL running max event
    time across micro-batches in the state store and emits, per batch,
    how many rows arrived behind it and the worst observed lateness —
    the live signal an operator compares against the deployed
    ``withWatermark`` delay to catch disorder drifting past the sized
    bound BEFORE the window silently drops rows. Parity with the batch
    census is exact (tests/test_streaming_stateful.py): rows sort by
    ``arrival_col`` after concatenating all Arrow chunks, lateness is
    integer microseconds against the pre-batch high-water mark updated
    row by row — the same fold the batch window computes.

    Scale: the running max needs ONE global key (the same single total
    order the batch census needs); the state is four longs. Feed this a
    per-partition PRE-aggregated or sampled stream when row volume is
    high — the monitor's value is the scalar trend, not per-row rows.
    """

    def census(key, pdfs: Iterable[pd.DataFrame], state: GroupState
               ) -> Iterable[pd.DataFrame]:
        hw, n_rows, n_late, worst = (
            state.get if state.exists else (None, 0, 0, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            state.update((hw, n_rows, n_late, worst))
            return
        batch = pd.concat(chunks).sort_values(arrival_col)
        b_late = 0
        b_worst = 0
        for t in batch[ts_col]:
            t_us = int(t.value // 1000)  # pandas Timestamp ns -> us
            if hw is not None and t_us < hw:
                b_late += 1
                lateness = hw - t_us
                if lateness > b_worst:
                    b_worst = lateness
            if hw is None or t_us > hw:
                hw = t_us
        n_rows += len(batch)
        n_late += b_late
        worst = max(worst, b_worst)
        state.update((hw, n_rows, n_late, worst))
        yield pd.DataFrame(
            {
                "batch_rows": [len(batch)],
                "n_late": [b_late],
                "worst_lateness_us": [b_worst],
                "running_n_rows": [n_rows],
                "running_n_late": [n_late],
                "running_worst_us": [worst],
                "hw_us": [hw],
            }
        )

    return (
        df.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandasWithState(
            census, _LATE_SCHEMA, _LATE_STATE, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


_KMV_SCHEMA = T.StructType(
    [
        T.StructField("b", T.LongType()),
        T.StructField("u", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)
_KMV_STATE = "u long, n_seen long"


def streaming_kmv_distinct_monitor(
    df: DataFrame, key_col: str, *, m: int = 1024
) -> DataFrame:
    """Live twin of the batch ``q_distinct_minvalue_sketch``: carries one
    running 52-bit hash minimum per ``md5 % m`` bucket in the state store
    and emits each touched bucket's (min, seen-count) every micro-batch —
    the mergeable distinct-cardinality sketch as a stream. A consumer
    folds the latest emission per bucket into the same estimator the
    batch query registers (empty buckets count as the domain max), so
    the live estimate is bit-identical to running the batch sketch over
    everything ingested so far — proven in
    tests/test_streaming_stateful.py.

    The hash lane is computed JVM-side BEFORE the stateful operator
    (md5 -> 13 hex chars -> conv, the exact batch lane); Python only
    folds per-bucket minima, so a micro-batch's Python work is
    O(buckets present), not O(rows).

    Scale: state is one long per bucket — m longs TOTAL regardless of
    stream cardinality (the whole point of the sketch: the batch
    COUNT(DISTINCT) needs unbounded state on a stream, this needs 8 KB).
    Buckets hash-partition across executors like any keyed state.
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10
    ).cast("long")
    hashed = df.select((h % m).alias("b"), h.alias("h"))

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        u, n_seen = state.get if state.exists else (None, 0)
        lo, n = u, 0
        for p in pdfs:
            if not len(p):
                continue
            bm = int(p["h"].min())
            n += len(p)
            if lo is None or bm < lo:
                lo = bm
        if n == 0:
            if state.exists:
                state.update((u, n_seen))
            return
        n_seen += n
        state.update((lo, n_seen))
        yield pd.DataFrame(
            {"b": [int(key[0])], "u": [lo], "n_seen": [n_seen]}
        )

    return hashed.groupBy("b").applyInPandasWithState(
        fold, _KMV_SCHEMA, _KMV_STATE, "update", GroupStateTimeout.NoTimeout
    )


def streaming_schema_drift_monitor(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Live twin of the batch key-span census in
    ``cdc_schema_migration_plan``: explodes each
    streamed document's ACTUAL JSON key set (``json_object_keys``,
    JVM-side) and emits a key the FIRST time it is ever observed on the
    stream — the alarm that a producer deploy started shipping a field
    no DSL mapping covers, raised on the first drifted document instead
    of at the next batch census (and long before the strict-cast
    dead-letter queue fills). Built on ``streaming_first_seen`` keyed by
    the JSON key name, so state is one flag per DISTINCT schema key —
    bounded by the schema vocabulary, not the stream.

    Scale: the explode adds <= |keys| narrow rows per document before
    the state shuffle; keys hash-partition across executors and each
    micro-batch touches only the keys it contains.
    """
    ks = df.select(
        F.explode(F.json_object_keys(F.col(payload_col))).alias("json_key")
    )
    return streaming_first_seen(ks, "json_key")


def streaming_countmin_monitor(df: DataFrame, key_col: str) -> DataFrame:
    """Live twin of the batch ``q_heavy_hitters_countmin``: maintains the
    same deterministic 4x1024 Count-Min cells as streaming state (one
    running count per touched cell, re-emitted every batch) — the
    mergeable frequency table kept warm while the stream runs, so a
    heavy-hitter probe is a 4-cell lookup instead of a per-key exact
    aggregation with unbounded state. The hash lane (salted md5 prefix
    -> row bucket) is computed JVM-side and is byte-identical to the
    batch query's, so the final emitted cells equal the batch CMS built
    over everything ingested — proven in
    tests/test_streaming_stateful.py.

    Scale: state is bounded by the 4096 cells regardless of stream
    cardinality; cells hash-partition like any keyed state. Output
    ``cell`` packs (row, bucket) as (row-1)*1024 + bucket.
    """
    from ..queries.analytics import _CMS_D, _CMS_W, _cms_bucket

    key = F.col(key_col)
    cells = F.array(
        *[
            (F.lit((i - 1) * _CMS_W) + _cms_bucket(key, i)).alias(f"c{i}")
            for i in range(1, _CMS_D + 1)
        ]
    )
    hashed = df.select(F.explode(cells).alias("cell")).withColumn(
        "one", F.lit(1.0)
    )
    return streaming_running_totals(hashed, "cell", "one")


_TWA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("span_s", T.LongType()),
        T.StructField("twa_micro", T.LongType()),
    ]
)
_TWA_STATE = (
    "first_us long, last_us long, last_v long, n_events long,"
    " sum_w long, sum_wv long"
)


def streaming_twa_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``q_time_weighted_average``: per user, the
    state carries (first/last event time, last value, count, weighted
    sum) and every micro-batch re-emits the user's lifetime
    time-weighted average — the gauge-metric mean kept correct while
    samples stream in unevenly. Matches the batch lane exactly: each
    value is weighted by the WHOLE SECONDS until the user's next
    observation (computed when that next observation arrives, so the
    running result after batch K equals the batch query over rows
    1..K's closed intervals — proven in
    tests/test_streaming_stateful.py).

    Expects columns ``user_id``, ``ts_us`` (epoch micros, LONG),
    ``v_micro`` (micro-unit value, LONG) and ``event_id`` (tie-break) —
    decimal lanes computed JVM-side upstream, as with the other
    monitors. Assumes per-user event-time-ordered delivery ACROSS
    micro-batches (the WAL tail's native order); rows within a batch
    are sorted here, and cross-batch disorder is what
    ``streaming_late_arrival_monitor`` exists to alarm on.

    Scale: state is six longs per user; users hash-partition across
    executors like any keyed state.
    """

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        first_us, last_us, last_v, n_events, sum_w, sum_wv = (
            state.get if state.exists else (None, None, None, 0, 0, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update(
                    (first_us, last_us, last_v, n_events, sum_w, sum_wv)
                )
            return
        batch = pd.concat(chunks).sort_values(["ts_us", "event_id"])
        for ts_us, v in zip(batch["ts_us"], batch["v_micro"]):
            ts_us, v = int(ts_us), int(v)
            if first_us is None:
                first_us = ts_us
            else:
                # close the previous observation's interval — the SAME
                # per-gap whole-second truncation as the batch lane
                # (truncated gaps do NOT telescope to the span)
                dur_s = (ts_us - last_us) // 1_000_000
                sum_w += dur_s
                sum_wv += last_v * dur_s
            last_us, last_v = ts_us, v
            n_events += 1
        state.update((first_us, last_us, last_v, n_events, sum_w, sum_wv))
        if sum_w > 0:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n_events],
                    "span_s": [(last_us - first_us) // 1_000_000],
                    "twa_micro": [sum_wv // sum_w],
                }
            )

    return df.groupBy("user_id").applyInPandasWithState(
        fold, _TWA_SCHEMA, _TWA_STATE, "update", GroupStateTimeout.NoTimeout
    )


_SEQC_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("seq_count_vc", T.LongType()),
        T.StructField("seq_count_vcp", T.LongType()),
    ]
)
_SEQC_STATE = "st_vc int, cnt_vc long, st_vcp int, cnt_vcp long, n long"


def streaming_sequence_count_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``q_clickhouse_sequence_count``: the greedy
    non-overlapping sequenceCount state machines (view->click and
    view->click->purchase) carried per user across micro-batches — the
    live funnel counter ClickHouse users read from a replicated event
    stream, kept exact while events arrive. Every micro-batch re-emits
    the user's running counts; after the stream drains, each user's
    last emission equals the batch query's row exactly (proven in
    tests/test_streaming_stateful.py).

    State per user is four ints and a count; rows within a batch sort
    by (ts, event_id) and cross-batch parity holds whenever batch
    boundaries respect per-user event-time order (the WAL tail's
    native delivery, same contract as the z-score/TWA monitors).

    Expects columns ``user_id``, ``ts``, ``event_id``, ``event_type``.
    Scale: one user-keyed state shuffle per batch; state is O(1) per
    user; Arrow-batched transfer."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        st_vc, cnt_vc, st_vcp, cnt_vcp, n = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update((st_vc, cnt_vc, st_vcp, cnt_vcp, n))
            return
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        for t in batch["event_type"]:
            if t == "view":
                st_vc = 1
                if st_vcp == 0:
                    st_vcp = 1
            elif t == "click":
                if st_vc == 1:
                    st_vc = 0
                    cnt_vc += 1
                if st_vcp == 1:
                    st_vcp = 2
            elif t == "purchase":
                if st_vcp == 2:
                    st_vcp = 0
                    cnt_vcp += 1
            n += 1
        state.update((st_vc, cnt_vc, st_vcp, cnt_vcp, n))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [n],
                "seq_count_vc": [cnt_vc],
                "seq_count_vcp": [cnt_vcp],
            }
        )

    return df.groupBy("user_id").applyInPandasWithState(
        fold, _SEQC_SCHEMA, _SEQC_STATE, "update", GroupStateTimeout.NoTimeout
    )


_CKSUM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("digest", T.LongType()),
    ]
)
_CKSUM_STATE = "n long, d long"


def streaming_integrity_checksum_monitor(
    df: DataFrame, n_buckets: int = 64
) -> DataFrame:
    """Live twin of the batch ``cdc_integrity_checksum`` source side:
    per key-bucket running (count, BIT_XOR digest) maintained as
    streaming state — the replica-side ledger a verifier diffs against
    the source's bucket digests WITHOUT ever rescanning the replica
    (XOR folds incrementally and is order/batch-boundary insensitive,
    so no delivery-order caveat applies, unlike the sequence/TWA
    monitors). After the stream drains, each bucket's last emission
    equals the batch digest exactly.

    Expects ``event_id``, ``user_id``, ``event_type``. Scale: state is
    two longs per bucket (constant 64 keys); the digest hash is
    computed JVM-side before the state shuffle."""
    hashed = df.select(
        (F.col("event_id") % n_buckets).alias("bucket"),
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "event_id", "user_id", "event_type")),
                1, 13,
            ), 16, 10,
        ).cast("long").alias("h"),
    )

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        n, d = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            for h in pdf["h"]:
                d ^= int(h)
        state.update((n, d))
        yield pd.DataFrame(
            {"bucket": [int(key[0])], "n_rows": [n], "digest": [d]}
        )

    return hashed.groupBy("bucket").applyInPandasWithState(
        fold, _CKSUM_SCHEMA, _CKSUM_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_PATH_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("path_len", T.IntegerType()),
    ]
)
_PATH_STATE = "types array<string>, n long"


def streaming_event_path_monitor(df: DataFrame, k: int = 5) -> DataFrame:
    """Live twin of the batch ``q_event_path_topk`` per-user stage: the
    first-K event-type journey prefix accumulated across micro-batches
    — the live 'what do new users do first' feed a product-analytics
    dashboard tails. State per user is at most K type strings plus a
    count; once the prefix is full the user's state stops growing (and
    stops being emitted — the path is final). After the stream drains,
    grouping the final per-user emissions reproduces the batch path
    census exactly (proven in tests/test_streaming_stateful.py).

    Rows within a batch sort by (ts, event_id); cross-batch parity
    holds whenever batch boundaries respect per-user event-time order
    (the WAL tail's native delivery — same contract as the other
    order-sensitive monitors).

    Scale: O(K) strings per user on the user-keyed exchange."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        types, n = (state.get if state.exists else ([], 0))
        types = list(types)
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update((types, n))
            return
        before = len(types)
        batch = pd.concat(chunks).sort_values(["ts", "event_id"])
        for t in batch["event_type"]:
            n += 1
            if len(types) < k:
                types.append(str(t))
        state.update((types, n))
        if len(types) != before:  # prefix grew this batch
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "path": [">".join(types)],
                    "path_len": [len(types)],
                }
            )

    return df.groupBy("user_id").applyInPandasWithState(
        fold, _PATH_SCHEMA, _PATH_STATE, "update", GroupStateTimeout.NoTimeout
    )


_IVF_MON_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.IntegerType()),
        T.StructField("n_vectors", T.LongType()),
    ]
)
_IVF_MON_STATE = "n long"


def streaming_ivf_assignment_monitor(df: DataFrame, centroids) -> DataFrame:
    """Live twin of the batch ``embed_ivf_balance_report`` occupancy
    stage: streamed embeddings assign to their nearest of the broadcast
    centroids and each cell's running count is streaming state — the
    index-balance gauge that tells an ANN service a cell is going hot
    BEFORE recall degrades. ``centroids`` is the [(cell, embedding)]
    list (16 rows — collected once from the same deterministic seed
    relation the batch report uses).

    Exact parity with the batch assignment: cosine is computed with the
    IDENTICAL sequential op order as the JVM fold (left-to-right float64
    multiply-adds, sqrt and divide are IEEE-exact), so the (sim DESC,
    cell ASC) argmax can never disagree. After the stream drains, the
    per-cell counts equal the batch occupancy exactly (proven in
    tests/test_streaming_stateful.py).

    Scale: state is ONE long per cell (constant 16 keys); the heavy
    work (per-vector assignment) is stateless and embarrassingly
    parallel before the tiny keyed shuffle."""
    import math

    cents = [(int(c), [float(x) for x in e]) for c, e in centroids]

    def _nrm(v):
        s = 0.0
        for x in v:
            s += x * x
        return math.sqrt(s)

    c_nrms = [(_c, _e, _nrm(_e)) for _c, _e in cents]

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = []
        for emb in pdf["embedding"]:
            v = [float(x) for x in emb]
            n1 = _nrm(v)
            best_cell, best_sim = None, None
            for cell, ce, n2 in c_nrms:
                d = 0.0
                for a, b in zip(v, ce):
                    d += a * b
                sim = d / (n1 * n2)
                if best_sim is None or sim > best_sim or (
                    sim == best_sim and cell < best_cell
                ):
                    best_cell, best_sim = cell, sim
            cells.append(best_cell)
        return pd.DataFrame({"cell": cells})

    assigned = df.mapInPandas(
        lambda it: (assign(p) for p in it if len(p)), "cell int"
    )

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"cell": [int(key[0])], "n_vectors": [n]})

    return assigned.groupBy("cell").applyInPandasWithState(
        fold, _IVF_MON_SCHEMA, _IVF_MON_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_CONFLICT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("resolution", T.StringType()),
        T.StructField("winner", T.LongType()),
        T.StructField("loser", T.LongType()),
        T.StructField("gap", T.LongType()),
    ]
)
_CONFLICT_STATE = "ver_a long, val_a long, ver_b long, val_b long"


def streaming_conflict_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``cdc_multimaster_conflicts`` per-key
    judgement: two replication sites stream versioned writes for the
    same key space as rows ``(event_id, site, ver, val)``; state keeps
    each site's highest-version write (LWW within a site) and, once both
    sites have written the key, emits the cross-site resolution — higher
    version wins, EQUAL versions are the concurrent-conflict class an
    active-active operator must alarm on. Emission is keyed on the
    CURRENT state, so batch boundaries and delivery interleavings don't
    change the drained result (max-version per site is order-free).
    State is four longs per key."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        ver_a, val_a, ver_b, val_b = (
            state.get if state.exists else (-1, 0, -1, 0)
        )
        for pdf in pdfs:
            for site, ver, val in zip(pdf["site"], pdf["ver"], pdf["val"]):
                ver, val = int(ver), int(val)
                if site == "a":
                    if ver > ver_a:
                        ver_a, val_a = ver, val
                elif ver > ver_b:
                    ver_b, val_b = ver, val
        state.update((ver_a, val_a, ver_b, val_b))
        if ver_a < 0 or ver_b < 0:
            return  # pending: only one site has written this key so far
        if ver_a > ver_b:
            res = "a_wins"
        elif ver_b > ver_a:
            res = "b_wins"
        else:
            res = "concurrent_conflict"
        winner, loser = (
            (val_a, val_b) if ver_a >= ver_b else (val_b, val_a)
        )
        yield pd.DataFrame(
            {
                "event_id": [int(key[0])],
                "resolution": [res],
                "winner": [winner],
                "loser": [loser],
                "gap": [abs(ver_a - ver_b)],
            }
        )

    return df.groupBy("event_id").applyInPandasWithState(
        fold, _CONFLICT_SCHEMA, _CONFLICT_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_SUMMAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),  # strictly monotone per
        # emission (sum of counts) — the consumer's last-emission key;
        # n_types/total_milli alone are not monotone (values can be
        # negative)
        T.StructField("n_types", T.LongType()),
        T.StructField("total_milli", T.LongType()),
        T.StructField("summap", T.StringType()),
    ]
)
_SUMMAP_STATE = "types array<string>, sums array<long>, counts array<long>"


def streaming_summap_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``q_clickhouse_summap_parity``: per user,
    the running sumMap/countMap (event type -> exact milli-unit value
    sum + count) maintained as streaming state and emitted as the SAME
    canonical sorted ``k:v:n`` string the batch query hashes — the live
    per-entity metric map a ClickHouse replica dashboard tails. Sums
    and counts are order/batch-boundary insensitive (integer adds), so
    the drained final emission per user equals the batch map exactly.
    State per user is bounded by |event types| entries.

    Expects ``user_id``, ``event_type``, ``v_milli`` (the caller
    pre-computes ``floor(value*1000)`` JVM-side)."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        types, sums, counts = (
            state.get if state.exists else ([], [], [])
        )
        types, sums, counts = list(types), list(sums), list(counts)
        idx = {t: i for i, t in enumerate(types)}
        for pdf in pdfs:
            for t, v in zip(pdf["event_type"], pdf["v_milli"]):
                i = idx.get(t)
                if i is None:
                    idx[t] = len(types)
                    types.append(t)
                    sums.append(int(v))
                    counts.append(1)
                else:
                    sums[i] += int(v)
                    counts[i] += 1
        state.update((types, sums, counts))
        order = sorted(range(len(types)), key=lambda i: types[i])
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_events": [sum(counts)],
                "n_types": [len(types)],
                "total_milli": [sum(sums)],
                "summap": [",".join(
                    f"{types[i]}:{sums[i]}:{counts[i]}" for i in order
                )],
            }
        )

    return df.groupBy("user_id").applyInPandasWithState(
        fold, _SUMMAP_SCHEMA, _SUMMAP_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),  # monotone per emission
        T.StructField("n_resets", T.LongType()),
        T.StructField("increase_milli", T.LongType()),
    ]
)
_COUNTER_STATE = ("has_prev boolean, prev long, n_samples long, "
                  "n_resets long, increase long")


def streaming_counter_rate_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``q_counter_rate_resets``: per user, the
    running deltaSum/increase() with PromQL restart semantics (a drop
    restarts the counter; the new value counts in full) maintained as
    streaming state — the live counter-rate lane a metrics replica
    tails. The fold is order-sensitive WITHIN its contract: rows sort
    by (ts, event_id) inside each batch and batches arrive in event
    order (the same total order the batch window uses), so the drained
    final emission per user equals the batch row exactly. State per
    user is four integers.

    Expects ``user_id``, ``ts``, ``event_id``, ``v_milli`` (the caller
    pre-computes ``floor(value*1000)`` JVM-side)."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        has_prev, prev, n, resets, inc = (
            state.get if state.exists else (False, 0, 0, 0, 0)
        )
        rows = []
        for pdf in pdfs:
            for ts, eid, v in zip(pdf["ts"], pdf["event_id"],
                                  pdf["v_milli"]):
                rows.append((ts, int(eid), int(v)))
        rows.sort()
        for _, _, v in rows:
            n += 1
            if has_prev:
                if v >= prev:
                    inc += v - prev
                else:
                    resets += 1
                    inc += v
            has_prev, prev = True, v
        state.update((has_prev, prev, n, resets, inc))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_samples": [n],
                "n_resets": [resets],
                "increase_milli": [inc],
            }
        )

    return df.groupBy("user_id").applyInPandasWithState(
        fold, _COUNTER_SCHEMA, _COUNTER_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_HOTKEY_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("n_changes", T.LongType()),  # monotone per emission
        T.StructField("n_keys", T.LongType()),
        T.StructField("max_key_changes", T.LongType()),
        T.StructField("hot_key", T.LongType()),
        T.StructField("skew_ratio_milli", T.LongType()),
        T.StructField("recommended_salt", T.LongType()),
    ]
)
_HOTKEY_STATE = "keys array<long>, counts array<long>"


_HOTKEY_CAP = 65536  # tracked keys per shard — state is O(cap), never O(stream)


def streaming_hot_key_monitor(df: DataFrame,
                              cap: int = _HOTKEY_CAP) -> DataFrame:
    """Live twin of the batch ``cdc_hot_key_skew_report``: per key-shard,
    running per-key change counts folded into the same skew/salt
    decision columns the batch report hashes — the live reducer-skew
    alarm that pages BEFORE the apply pipeline's hot reducer does.

    State is BOUNDED (r12, from r11 advice): a space-saving census of at
    most ``cap`` tracked keys per shard. While a shard's distinct-key
    cardinality stays <= cap the census is exact — integer adds are
    order/batch-boundary insensitive, so the drained final emission per
    shard equals the batch row exactly (the parity test's domain). Past
    the cap, arrivals for untracked keys replace the current min-count
    slot at count min+1 (classic SpaceSaving): ``n_changes`` stays EXACT
    (every arrival increments exactly one slot by one),
    ``max_key_changes`` becomes an upper bound within N/cap of truth,
    and ``n_keys`` saturates at cap — the alarm still pages on the hot
    key, which is precisely what a skew monitor owes. The per-batch fold
    is O(cap + batch), not O(stream lifetime).

    Expects ``shard``, ``user_id`` rows (one per change)."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        import heapq
        from collections import Counter

        keys, counts = state.get if state.exists else ([], [])
        keys, counts = list(keys), list(counts)
        idx = {k: i for i, k in enumerate(keys)}
        batch = Counter()
        for pdf in pdfs:
            for uid in pdf["user_id"]:
                batch[int(uid)] += 1
        new = []
        for u, c in batch.items():
            i = idx.get(u)
            if i is None:
                new.append(u)
            else:
                counts[i] += c
        new.sort()  # deterministic replacement order past the cap
        if len(keys) + len(new) <= cap:
            for u in new:
                keys.append(u)
                counts.append(batch[u])
        else:
            heap = list(zip(counts, keys))
            heapq.heapify(heap)
            for u in new:
                if len(heap) < cap:
                    heapq.heappush(heap, (batch[u], u))
                else:  # space-saving: inherit the evicted min count
                    c0, _ = heapq.heappop(heap)
                    heapq.heappush(heap, (c0 + batch[u], u))
            counts = [c for c, _ in heap]
            keys = [k for _, k in heap]
        state.update((keys, counts))
        total = sum(counts)
        n_keys = len(keys)
        mx = max(counts)
        hot = min(k for k, c in zip(keys, counts) if c == mx)
        yield pd.DataFrame(
            {
                "shard": [int(key[0])],
                "n_changes": [total],
                "n_keys": [n_keys],
                "max_key_changes": [mx],
                "hot_key": [hot],
                "skew_ratio_milli": [(1000 * mx * n_keys) // total],
                "recommended_salt": [
                    max((mx * n_keys + 4 * total - 1) // (4 * total), 1)
                ],
            }
        )

    return df.groupBy("shard").applyInPandasWithState(
        fold, _HOTKEY_SCHEMA, _HOTKEY_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_AGGSTATE_M = 1024  # uniqState width — matches operators/agg_state.py
_AGGSTATE_TWO52 = 1 << 52
_AGGSTATE_NUM = float(_AGGSTATE_M * _AGGSTATE_M * _AGGSTATE_TWO52)
_AGGSTATE_SCHEMA = T.StructType(
    [
        T.StructField("scope", T.StringType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("sum_v_milli", T.LongType()),
        T.StructField("min_v_milli", T.LongType()),
        T.StructField("max_v_milli", T.LongType()),
        T.StructField("avg_v_milli", T.LongType()),
        T.StructField("uniq_users_est", T.LongType()),
    ]
)
_AGGSTATE_STATE = "cnt long, s long, mn long, mx long, u array<long>"


def streaming_agg_state_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``q_clickhouse_aggregate_state_merge``: the
    AggregatingMergeTree state (countState/sumState/minState/maxState on
    the exact milli lane + the 1024-bucket KMV uniqState array) carried
    PER KEY in the state store and re-finalized every micro-batch — the
    incrementally-maintained materialized view as a stream. Because the
    combine is the same associative integer algebra the batch merge
    uses, the drained final emission per key equals the batch query's
    finalized row exactly, however the stream is micro-batched (parity
    pytest).

    The hash lane is computed JVM-side BEFORE the stateful operator (the
    exact batch lane: md5 -> 13 hex chars -> conv); Python folds
    per-bucket minima with one vectorized groupby per batch. State is
    4 longs + m longs per key — bounded by the KEY taxonomy and the
    sketch width, never the stream.

    Expects ``event_type``, ``user_id``, ``v_milli`` rows."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    hashed = df.select(
        "event_type", "v_milli", (h % _AGGSTATE_M).alias("b"), h.alias("h")
    )

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        if state.exists:
            cnt, s, mn, mx, u = state.get
            u = list(u)
        else:
            cnt, s, mn, mx = 0, 0, None, None
            u = [_AGGSTATE_TWO52] * _AGGSTATE_M
        for p in pdfs:
            if not len(p):
                continue
            cnt += len(p)
            s += int(p["v_milli"].sum())
            bmn = int(p["v_milli"].min())
            bmx = int(p["v_milli"].max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
            for b, bm in p.groupby("b")["h"].min().items():
                if int(bm) < u[int(b)]:
                    u[int(b)] = int(bm)
        state.update((cnt, s, mn, mx, u))
        if cnt == 0:
            return
        # -Merge finalize: Spark's integer `div` truncates toward zero
        q = abs(s) // cnt
        avg = q if s >= 0 else -q
        # math.floor of the IEEE quotient replicates the batch finalize
        # (F.floor(NUM / sum_u)) bit-for-bit; Python's float `//` is
        # fmod-based and can differ by 1 on the 0.5 // 0.1 class.
        est = math.floor(_AGGSTATE_NUM / float(sum(u))) - _AGGSTATE_M
        yield pd.DataFrame(
            {
                "scope": [str(key[0])],
                "cnt": [cnt],
                "sum_v_milli": [s],
                "min_v_milli": [mn],
                "max_v_milli": [mx],
                "avg_v_milli": [avg],
                "uniq_users_est": [est],
            }
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        fold, _AGGSTATE_SCHEMA, _AGGSTATE_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_MUTCOST_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_matched", T.LongType()),
        T.StructField("part_bytes", T.LongType()),
        T.StructField("rewrite_bytes", T.LongType()),
        T.StructField("action", T.StringType()),
    ]
)
_MUTCOST_STATE = "n_rows long, n_matched long, part_bytes long"


def streaming_mutation_cost_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``cdc_mutation_rewrite_cost``: per arrival
    part, the running matched-row and byte counters folded into the same
    action tier (untouched / drop_whole_part / rewrite) the batch plan
    hashes — the mutation-cost estimate kept CURRENT as blocks arrive,
    so approving an ALTER DELETE never needs a table scan. Counters are
    order/batch-boundary-insensitive integer adds, so the drained final
    emission per part equals the batch row exactly (parity pytest).
    State per part is three longs — bounded by the part taxonomy.

    Expects ``part_id``, ``hit`` (0/1), ``est_bytes`` rows."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        n, m, b = state.get if state.exists else (0, 0, 0)
        for p in pdfs:
            if not len(p):
                continue
            n += len(p)
            m += int(p["hit"].sum())
            b += int(p["est_bytes"].sum())
        state.update((n, m, b))
        if n == 0:
            return
        action = ("untouched" if m == 0
                  else "drop_whole_part" if m == n else "rewrite")
        yield pd.DataFrame(
            {
                "part_id": [int(key[0])],
                "n_rows": [n],
                "n_matched": [m],
                "part_bytes": [b],
                "rewrite_bytes": [b if m > 0 else 0],
                "action": [action],
            }
        )

    return df.groupBy("part_id").applyInPandasWithState(
        fold, _MUTCOST_SCHEMA, _MUTCOST_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


_PROJCOST_SCHEMA = T.StructType(
    [
        T.StructField("proj_order", T.StringType()),
        T.StructField("g", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("m_point_type", T.LongType()),
        T.StructField("m_point_user", T.LongType()),
        T.StructField("m_recent_ts", T.LongType()),
        T.StructField("m_high_value", T.LongType()),
    ]
)
_PROJCOST_STATE = (
    "n long, m_point_type long, m_point_user long, m_recent_ts long, "
    "m_high_value long"
)


def streaming_projection_cost_monitor(df: DataFrame) -> DataFrame:
    """Live twin of the batch ``cdc_projection_advisor`` cost relation:
    per (candidate projection order, granule), the running row count and
    per-query match counters kept CURRENT as CDC blocks arrive — so the
    'should we add this projection' read-cost report never needs a table
    scan. In deployment the granule mapping is FROZEN by the projection
    DDL (key-range buckets of the sort column), so the stateless
    derivation of (proj_order, g, query flags) happens upstream and the
    monitor folds pure integer adds: order/batch-boundary-insensitive,
    hence the drained final emission per (order, granule) equals the
    batch per-granule relation exactly (parity pytest aggregates the
    emissions into the advisor's cost rows). State is five longs per
    (order, granule) — bounded by 5 orders x 64 granules, never by
    stream volume.

    Expects ``proj_order, g, q_point_type, q_point_user, q_recent_ts,
    q_high_value`` rows."""

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState
             ) -> Iterable[pd.DataFrame]:
        n, m1, m2, m3, m4 = state.get if state.exists else (0, 0, 0, 0, 0)
        for p in pdfs:
            if not len(p):
                continue
            n += len(p)
            m1 += int(p["q_point_type"].sum())
            m2 += int(p["q_point_user"].sum())
            m3 += int(p["q_recent_ts"].sum())
            m4 += int(p["q_high_value"].sum())
        state.update((n, m1, m2, m3, m4))
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "proj_order": [str(key[0])],
                "g": [int(key[1])],
                "n": [n],
                "m_point_type": [m1],
                "m_point_user": [m2],
                "m_recent_ts": [m3],
                "m_high_value": [m4],
            }
        )

    return df.groupBy("proj_order", "g").applyInPandasWithState(
        fold, _PROJCOST_SCHEMA, _PROJCOST_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )
