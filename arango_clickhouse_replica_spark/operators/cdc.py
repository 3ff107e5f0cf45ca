"""CDC apply kernel + ReplacingMergeTree-style latest-state semantics.

Re-expresses the reference's consumer pre-processing and its target-table
merge semantics as pure DataFrame transforms:

- ``preprocess_envelopes``: op-type/collection filter (P1,
  replication/producer/publisher.py:54-58), tombstone drop (P2,
  replication/consumer/loader.py:52-53), tick-cutoff replay filter (P3,
  loader.py:56-61), ``_ver`` stamp (D1, loader.py:76) and ``_deleted``
  flag (D2, loader.py:77), projection to the document payload (P5,
  loader.py:68,79).
- ``latest_state`` / ``latest_alive``: the ClickHouse
  ``ReplacingMergeTree(_ver)`` merge (M1, tables/test.yaml:13,
  readme.md:89-91) — keep the max-``_ver`` row per key — plus the
  query-time soft-delete filter (P6/M2, loader.py:77).
- ``merge_upsert``: the idempotent micro-batch merge used by the
  streaming sink (T2) and the snapshot-overlap resolution (M4,
  replication/replicator/store.py:51-58): append-only union then
  version dedup, so replays and snapshot/CDC overlap are absorbed.

Scale notes (100 TB): the dedup is a single hash-partition shuffle on the
key columns followed by a per-key top-1 — Spark plans max_by-style
``row_number() = 1`` with partial aggregation disabled but AQE skew-split
enabled; for hot keys the shuffle salt lives in the key hash itself (a
document key space is naturally high-cardinality). Periodic compaction
(``compact``) rewrites a table keeping only winners, bounding the
merge-on-read cost exactly like ClickHouse background merges (M3,
clickhouse/connect.py:55-57).

Determinism: ``_ver`` derives from the WAL tick — NOT wall-clock. The
reference stamps ``int(f"{utcnow:%Y%j}{offset}")`` (loader.py:76) which
mixes ingestion day into the version; we keep the monotone source token
only, which preserves per-key monotonicity and makes replays idempotent.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# WAL op codes (replication/producer/reader.py:9-14)
UPSERT_DOCUMENT = 2300
REMOVE_DOCUMENT = 2302
TXN_MARKERS = (2200, 2201, 2202)  # filtered out (publisher.py:54-58)

VER_COL = "_ver"
DELETED_COL = "_deleted"

# The envelope columns read below (``tick``, ``type``, ``cuid``, ``tid``,
# ``data``) are named as every source delivers them (the one wire decoder,
# sources/cdc_envelopes.py ``decode_wire``), so they are not options.


def preprocess_columns(
    *,
    tracked_cuids: Sequence[str] | None = None,
    initial_tick: int | None = None,
) -> tuple[Column, list[Column]]:
    """The envelope preprocess as Columns: ``(keep, projection)`` such that
    ``env.filter(keep).select(*projection)`` is ``preprocess_envelopes``.
    They depend on the arguments only, not on a batch, so a stream builds
    them once and applies them to every micro-batch."""
    # P1: keep only document upserts/removes; drop txn markers & untracked
    p1 = F.col("type").isin(UPSERT_DOCUMENT, REMOVE_DOCUMENT)
    if tracked_cuids is not None:
        p1 = p1 & F.col("cuid").isin(list(tracked_cuids))
    # P2: tombstone filter (null payload)
    rest = F.col("data").isNotNull()
    # P3: replay cutoff after a snapshot (tick recorded before snapshot read)
    if initial_tick is not None:
        rest = rest & (F.col("tick").cast("long") >= F.lit(int(initial_tick)))
    # Nested as the optimizer combines one filter per step, so the
    # optimized plan equals that of the per-step chain.
    keep = p1 & rest
    # P5 + D1 + D2: the payload, a deterministic version from the WAL
    # position, and the soft-delete flag
    projection = [
        F.col("data.*"),
        F.col("tick").cast("long").alias(VER_COL),
        F.when(F.col("type") == REMOVE_DOCUMENT, F.lit(1))
        .otherwise(F.lit(0)).alias(DELETED_COL),
    ]
    return keep, projection


def preprocess_envelopes(
    env: DataFrame,
    *,
    tracked_cuids: Sequence[str] | None = None,
    initial_tick: int | None = None,
) -> DataFrame:
    """WAL envelope stream -> typed change rows ready for the mapping DSL.

    Output: the payload struct fields of ``data`` flattened, plus
    ``_ver`` (monotone version from the tick) and ``_deleted``. One
    ``filter`` and one ``select`` over ``preprocess_columns``.
    """
    keep, projection = preprocess_columns(
        tracked_cuids=tracked_cuids, initial_tick=initial_tick,
    )
    return env.filter(keep).select(*projection)


def latest_state(
    df: DataFrame,
    keys: Sequence[str],
    ver_col: str = VER_COL,
) -> DataFrame:
    """ReplacingMergeTree(_ver) merge-on-read view: max-version row per key.

    Order-insensitive (M5): correctness never depends on arrival order,
    only on the version, so repartitioning/shuffling freely is safe.
    """
    order = [F.col(ver_col).desc(), F.col(DELETED_COL).desc()] if DELETED_COL in df.columns else [
        F.col(ver_col).desc()
    ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_alive(
    df: DataFrame,
    keys: Sequence[str],
    ver_col: str = VER_COL,
) -> DataFrame:
    """The queryable latest-state view: winners minus soft-deleted rows
    (P6 — reads must exclude ``_deleted=1``, readme.md:91)."""
    out = latest_state(df, keys, ver_col)
    if DELETED_COL in out.columns:
        out = out.filter(F.col(DELETED_COL) == 0)
    return out


def merge_upsert(
    target: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    ver_col: str = VER_COL,
) -> DataFrame:
    """Idempotent micro-batch merge: union-by-name then version dedup.

    Equivalent to Delta ``MERGE ... WHEN MATCHED AND s._ver > t._ver`` but
    storage-agnostic; because M1 is order- and duplicate-insensitive,
    at-least-once redelivery (T2/T3) and snapshot-overlap (M4) both
    collapse to no-ops.
    """
    merged = batch if target is None else target.unionByName(batch, allowMissingColumns=True)
    return latest_state(merged, keys, ver_col)


def compact(df: DataFrame, keys: Sequence[str], ver_col: str = VER_COL) -> DataFrame:
    """Forced compaction (M3 — OPTIMIZE TABLE FINAL analog): materialize
    only the winning rows, typically followed by a parquet rewrite
    partitioned/sorted by the key for locality (tables/test.yaml:14-16's
    ORDER BY + index_granularity)."""
    return latest_state(df, keys, ver_col)


# WAL transaction markers (replication/producer/reader.py:9-14):
# 2200 = begin, 2201 = commit, 2202 = abort. The reference's reader
# filters them out and applies documents immediately; the atomic-apply
# mode below uses them to gate visibility on COMMIT instead.
TXN_BEGIN = 2200
TXN_COMMIT = 2201
TXN_ABORT = 2202


class TxnSplit:
    """Three-way split of an envelope set by transaction outcome.

    ``aborted`` is built on its first read, by the function passed in:
    the streaming gate writes only the other two parts, and building a
    frame costs py4j calls on every micro-batch."""

    __slots__ = ("applyable", "deferred", "_aborted", "_build_aborted")

    def __init__(self, applyable: DataFrame, deferred: DataFrame,
                 build_aborted: Callable[[], DataFrame]) -> None:
        self.applyable = applyable
        self.deferred = deferred
        self._aborted: DataFrame | None = None
        self._build_aborted = build_aborted

    @property
    def aborted(self) -> DataFrame:
        if self._aborted is None:
            self._aborted = self._build_aborted()
        return self._aborted


def txn_atomic_split(env: DataFrame) -> TxnSplit:
    """Partition envelope DOCUMENT rows by their transaction's outcome.

    - ``applyable``: rows whose ``tid`` has a COMMIT marker in ``env``,
      plus non-transactional rows (null/absent ``tid``) — safe to apply.
    - ``deferred``: rows of transactions with NO terminator yet (the
      micro-batch cut mid-transaction) — carry to the next batch.
    - ``aborted``: rows of transactions whose last marker is ABORT —
      must never reach the target.

    In WAL order a transaction's document rows precede its terminator,
    so a commit marker in hand implies every row of that transaction is
    either in this envelope set or in the pending buffer unioned into
    it — markers never need to be remembered across batches. The
    committed/aborted tid relations are bounded by the number of
    transactions TERMINATING in the batch (broadcast joins); the
    deferred set is bounded by transactions in flight at the batch cut,
    never by stream volume.

    This split stays lazy: each action over one of its outputs re-runs
    the terminator aggregate and its broadcast. It suits whole-history
    batch callers, whose terminators are too many to collect. The
    streaming gate instead collects one micro-batch's terminators
    (``collect_terminators``) and filters by membership
    (``txn_split_by``), so each of its writes is a single narrow job.
    """
    tid = F.col("tid")
    docs = env.filter(F.col("type").isin(UPSERT_DOCUMENT, REMOVE_DOCUMENT))
    # last marker wins per tid (max tick; abort beats commit on a tie —
    # a tid is never legally terminated twice)
    terminators = (
        env.filter(F.col("type").isin(TXN_COMMIT, TXN_ABORT))
        .filter(tid.isNotNull())
        .groupBy("tid")
        .agg(
            F.max_by(F.col("type"), F.struct(
                F.col("tick").cast("long"), F.col("type")
            )).alias("__term")
        )
    )
    tagged = docs.join(
        F.broadcast(terminators.withColumnRenamed("tid", "__tid")),
        tid == F.col("__tid"),
        "left",
    )
    applyable = tagged.filter(
        tid.isNull() | (F.col("__term") == TXN_COMMIT)
    ).drop("__tid", "__term")
    deferred = tagged.filter(
        tid.isNotNull() & F.col("__term").isNull()
    ).drop("__tid", "__term")
    return TxnSplit(applyable, deferred, lambda: tagged.filter(
        F.col("__term") == TXN_ABORT
    ).drop("__tid", "__term"))


def collect_terminators(env: DataFrame) -> dict[str, int]:
    """The last marker type (commit or abort) per ``tid`` in ``env``.

    One narrow job collects the marker rows; the last one per tid is
    picked on the driver exactly as ``txn_atomic_split``'s
    ``max_by(type, (tick, type))`` does: the later tick wins, abort wins a
    tie, and a null tick sorts first. The result is bounded by the
    transactions terminating in ``env``. Keys are the tids cast to
    string, which is how ``txn_split_by`` compares them.
    """
    markers = (
        env.filter(F.col("type").isin(TXN_COMMIT, TXN_ABORT))
        .filter(F.col("tid").isNotNull())
        .select(
            F.col("tid").cast("string"),
            F.col("tick").cast("long"),
            F.col("type").cast("int"),
        )
        .collect()
    )
    last: dict[str, tuple[bool, int, int]] = {}
    for tid, tick, typ in markers:
        key = (tick is not None, tick or 0, typ)
        if tid not in last or key > last[tid]:
            last[tid] = key
    return {tid: key[2] for tid, key in last.items()}


# Separates the values of a membership set on their way to the JVM.
_SEP = "\x1f"


def _isin(spark, col: Column, values: Sequence[str]) -> Column:
    """``col IN values`` for string literals, built in a fixed number of
    py4j calls. ``Column.isin(*values)`` makes one call per value
    (~0.4 ms each), which a batch terminating thousands of transactions
    would pay on every micro-batch; here the values cross as one string
    and are split on the JVM. The optimizer turns the ``In`` into a hash
    ``InSet``."""
    if not values:
        return F.lit(False)
    if any(_SEP in v for v in values):
        return col.isin(*values)
    jvm = spark._jvm
    parts = jvm.java.util.regex.Pattern.compile(_SEP).split(_SEP.join(values), -1)
    return Column(col._jc.isin(jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(parts)))


def txn_split_by(env: DataFrame, terminators: dict[str, int]) -> TxnSplit:
    """``txn_atomic_split`` with the terminators already in hand (from
    ``collect_terminators``): each output is a narrow filter of ``env``'s
    document rows by tid membership, with no join and no shuffle."""
    spark = env.sparkSession
    tid = F.col("tid")
    tid_str = tid.cast("string")
    committed = _isin(spark, tid_str, [t for t, ty in terminators.items() if ty == TXN_COMMIT])
    terminated = _isin(spark, tid_str, list(terminators))
    docs = env.filter(F.col("type").isin(UPSERT_DOCUMENT, REMOVE_DOCUMENT))
    return TxnSplit(
        applyable=docs.filter(tid.isNull() | committed),
        deferred=docs.filter(tid.isNotNull() & ~terminated),
        build_aborted=lambda: docs.filter(tid.isNotNull() & terminated & ~committed),
    )
