"""Transaction-atomic CDC apply (r12, VERDICT r11 item 5): a micro-batch
never exposes part of a WAL transaction — rows gate on their tid's
commit marker, aborted txns never land, unterminated txns defer in the
pending buffer across batch cuts."""

import os
import threading
import time
from collections import Counter

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.cdc import (
    TXN_ABORT,
    TXN_COMMIT,
    collect_terminators,
    latest_alive,
    preprocess_envelopes,
    txn_atomic_split,
    txn_split_by,
)
from arango_clickhouse_replica_spark.schema.dsl import TableMapping
from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
    synthetic_txn_envelopes,
)
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor
from tests.conftest import jobs, on_py4j_command

_DATA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_ENV = T.StructType(
    [
        T.StructField("tick", T.LongType()),
        T.StructField("type", T.IntegerType()),
        T.StructField("cuid", T.StringType()),
        T.StructField("tid", T.StringType()),
        T.StructField("data", _DATA),
    ]
)


def _env_df(spark, rows):
    return spark.createDataFrame(
        [
            (t, ty, "c", tid, (eid, val) if eid is not None else None)
            for (t, ty, tid, eid, val) in rows
        ],
        _ENV,
    )


@pytest.fixture
def dirs(tmp_path):
    d = {
        "env": str(tmp_path / "envelopes"),
        "target": str(tmp_path / "target"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["env"])
    return d


def test_no_partial_txn_visible_across_batches(spark, dirs):
    """Txn T2 spans two micro-batches: its first row must stay INVISIBLE
    in latest_alive after batch 1 and appear (whole) only once batch 2
    delivers the commit marker. Aborted T3 never lands; non-txn rows
    apply immediately."""
    pipe = CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=["event_id"],
        txn_atomic=True,
    )
    # batch 1: T1 (rows 1,2 + commit), T2's FIRST row (no terminator yet)
    _env_df(spark, [
        (10, 2300, "T1", 1, 1.0),
        (11, 2300, "T1", 2, 2.0),
        (12, 2201, "T1", None, None),   # T1 commit
        (13, 2300, "T2", 3, 3.0),       # T2 cut mid-transaction
    ]).coalesce(1).write.mode("append").parquet(dirs["env"])
    pipe.run_until_drained(dirs["env"], _ENV)

    alive1 = {r.event_id for r in pipe.latest_alive().collect()}
    assert alive1 == {1, 2}, "half of T2 leaked into latest_state"
    with jobs(spark, "pending") as ids:
        pending = pipe.pending()
    assert ids == [], "pending() ran a schema-inference job"
    assert pending is not None
    assert [(r.tid, r.data.event_id) for r in pending.collect()] == [
        ("T2", 3)
    ]

    # batch 2: T2's second row + commit; T3 aborts; one non-txn row
    _env_df(spark, [
        (14, 2300, "T2", 4, 4.0),
        (15, 2201, "T2", None, None),   # T2 commit
        (16, 2300, "T3", 5, 5.0),
        (17, 2202, "T3", None, None),   # T3 abort
        (18, 2300, None, 6, 6.0),       # non-transactional
    ]).coalesce(1).write.mode("append").parquet(dirs["env"])
    pipe.run_until_drained(dirs["env"], _ENV)

    alive2 = {r.event_id for r in pipe.latest_alive().collect()}
    assert alive2 == {1, 2, 3, 4, 6}   # T2 whole, T3 never, non-txn in
    assert pipe.pending().count() == 0


def test_txn_pipeline_matches_batch_split(spark, sf_dir, dirs):
    """Streamed txn-atomic apply over the synthetic txn envelopes equals
    the batch txn_atomic_split + latest_alive over the same envelopes,
    however the stream is micro-batched."""
    env = synthetic_txn_envelopes(spark, sf_dir).cache()
    env.count()
    # micro-batches must be CONTIGUOUS tick ranges (the WAL is totally
    # ordered; a terminator follows its transaction's rows) — write four
    # tick-range chunks as separately-committed files so the file source
    # replays them in order
    q1, q2, q3 = env.selectExpr(
        "percentile_approx(tick, array(0.25, 0.5, 0.75)) AS q"
    ).first().q
    chunks = [
        env.filter(F.col("tick") <= q1),
        env.filter((F.col("tick") > q1) & (F.col("tick") <= q2)),
        env.filter((F.col("tick") > q2) & (F.col("tick") <= q3)),
        env.filter(F.col("tick") > q3),
    ]
    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(dirs["env"])
    schema = env.schema

    pipe = CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=["event_id"],
        initial_tick=0,
        txn_atomic=True,
    )
    q = pipe.start(dirs["env"], schema, max_files_per_trigger=1)
    q.awaitTermination()

    batch = latest_alive(
        preprocess_envelopes(
            txn_atomic_split(
                spark.read.schema(schema).parquet(dirs["env"])
            ).applyable,
            initial_tick=0,
        ),
        keys=["event_id"],
    )
    got = {(r.event_id, r.value) for r in pipe.latest_alive().collect()}
    want = {(r.event_id, r.value) for r in batch.collect()}
    assert got == want and len(got) > 0
    # the open transactions' rows are exactly what is still pending
    open_rows = txn_atomic_split(
        spark.read.schema(schema).parquet(dirs["env"])
    ).deferred
    assert pipe.pending().count() == open_rows.count() > 0


# -- the micro-batch gate: collected terminators, membership filters ------

_MAPPING = TableMapping.from_dict(
    {
        "table_name": "events_replica",
        "schema": {
            "primary_key": ["eid"],
            "properties": {
                "eid": {"type": "int", "ref": "event_id"},
                "v": {"type": "float", "ref": "value", "required": True},
            },
        },
    }
)


def _land(spark, env_dir, *batches):
    """Each batch becomes one separately committed file, in order."""
    for rows in batches:
        _env_df(spark, rows).coalesce(1).write.mode("append").parquet(env_dir)


def _pipe(spark, dirs, **kw):
    return CdcPipeline(
        spark,
        target_dir=dirs["target"],
        checkpoint_dir=dirs["ckpt"],
        keys=kw.pop("keys", ["event_id"]),
        txn_atomic=True,
        **kw,
    )


def _assert_matches_batch(spark, pipe, env_dir):
    """The streamed replica and pending buffer equal the batch split
    (txn_atomic_split + latest_alive) over every file landed so far, and
    the gate's encoding of the split equals the batch one part by part."""
    env = spark.read.schema(_ENV).parquet(env_dir)
    split = txn_atomic_split(env)
    want = latest_alive(preprocess_envelopes(split.applyable), keys=["event_id"])
    assert Counter(pipe.latest_alive().collect()) == Counter(want.collect())
    assert Counter(pipe.pending().collect()) == Counter(split.deferred.collect())
    gate = txn_split_by(env, collect_terminators(env))
    for part in ("applyable", "deferred", "aborted"):
        assert Counter(getattr(gate, part).collect()) == Counter(
            getattr(split, part).collect()), part


def _alive_ids(pipe):
    return {r.event_id for r in pipe.latest_alive().collect()}


def _data_files(path):
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


def test_micro_batch_job_budget(spark, dirs, tmp_path):
    """A txn-atomic micro-batch with a monitor, a mapping and dead letters
    runs exactly 4 Spark jobs, all in the stream's job group: terminator
    collect, then the pending, dead-letter and target writes, which run
    on other threads. The monitor's tick metrics and the rejected and
    deferred counts are observed on those jobs, not run as jobs of their
    own, and equal the rows each batch wrote. Each pending generation is
    one file, so no job runs more than 2 tasks (the batch's file and the
    pending file)."""
    dead = str(tmp_path / "dead")
    mon = TickGapMonitor()
    pipe = _pipe(spark, dirs, keys=["eid"], mapping=_MAPPING,
                 dead_letter_dir=dead, tick_monitor=mon)
    _land(spark, dirs["env"], [
        (10, 2300, "T1", 1, 1.0),
        (11, 2300, "T1", 2, None),      # rejected: v is required
        (12, 2201, "T1", None, None),
        (13, 2300, "T2", 3, 3.0),       # deferred
    ], [
        (14, 2300, "T2", 4, None),      # rejected once T2 commits
        (15, 2300, "T3", 5, 5.0),       # deferred
        (16, 2201, "T2", None, None),
        (17, 2300, "T5", 6, 6.0),       # deferred, open to the end
    ], [
        (18, 2300, "T4", 7, 7.0),       # deferred
        (19, 2300, "T4", 9, 9.0),       # deferred
        (20, 2202, "T3", None, None),
        (21, 2300, None, 8, None),      # rejected
    ])
    q = pipe.start(dirs["env"], _ENV, max_files_per_trigger=1)
    q.awaitTermination()

    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 3
    tracker = spark.sparkContext.statusTracker()
    group = tracker.getJobIdsForGroup(str(q.runId))
    assert len(group) == 4 * len(batches)
    tasks = {j: sum(tracker.getStageInfo(s).numTasks
                    for s in tracker.getJobInfo(j).stageIds) for j in group}
    assert max(tasks.values()) <= 2, tasks
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == [(0, 10, 13, 4), (1, 14, 17, 4), (2, 18, 21, 4)]
    # The last generation holds T5's row from the one before and T4's
    # rows from the batch: one file all the same.
    assert [(p.n_rejected, p.n_deferred) for p in mon.progress] == [(1, 1), (1, 2), (1, 3)]
    for p in mon.progress:
        assert p.n_rejected == spark.read.parquet(
            os.path.join(dead, f"batch_id={p.batch_id}")).count()
        generation = os.path.join(
            dirs["ckpt"], "txn_pending", f"batch_id={p.batch_id}")
        assert p.n_deferred == spark.read.parquet(generation).count()
        assert len(_data_files(generation)) == 1
    assert {r.eid for r in pipe.latest_alive().collect()} == {1, 3}


def _apply_batch_py4j_calls(spark, pipe, monkeypatch):
    """Count, per micro-batch, the py4j commands sent from any thread
    while ``pipe._apply_batch`` runs: the ``foreachBatch`` thread and
    the threads that run the batch's writes. Not counted: py4j's own
    thread releasing Java references that Python garbage-collected
    (``m`` commands), whenever the collector runs. Patch before
    ``start``: the stream binds ``_apply_batch`` then."""
    apply = pipe._apply_batch
    per_batch, active, lock = [], threading.Event(), threading.Lock()

    def count(command):
        if active.is_set() and not command.startswith(MEMORY_COMMAND_NAME):
            with lock:
                per_batch[-1] += 1

    def counted_apply(batch, batch_id):
        per_batch.append(0)
        active.set()
        try:
            apply(batch, batch_id)
        finally:
            active.clear()

    on_py4j_command(spark, monkeypatch, count)
    monkeypatch.setattr(pipe, "_apply_batch", counted_apply)
    return per_batch


def test_micro_batch_py4j_budget(spark, dirs, tmp_path, monkeypatch):
    """The job-budget pipeline (mapping, monitor, dead letters, txn gate)
    builds its schema-dependent columns on the first batch only: every
    later batch sends at most half the py4j commands that rebuilding
    them per batch sent (1,304 per batch over these five batches)."""
    pipe = _pipe(spark, dirs, keys=["eid"], mapping=_MAPPING,
                 dead_letter_dir=str(tmp_path / "dead"),
                 tick_monitor=TickGapMonitor())
    per_batch = _apply_batch_py4j_calls(spark, pipe, monkeypatch)
    _land(spark, dirs["env"], *[[
        (10 * b, 2300, f"T{b}", 10 * b + 1, 1.0),
        (10 * b + 1, 2300, f"T{b}", 10 * b + 2, None),   # rejected
        (10 * b + 2, 2201, f"T{b}", None, None),
        (10 * b + 3, 2300, f"U{b}", 10 * b + 3, 3.0),    # deferred
        (10 * b + 4, 2300, None, 10 * b + 4, 4.0),
    ] for b in range(1, 6)])
    q = pipe.start(dirs["env"], _ENV, max_files_per_trigger=1)
    q.awaitTermination()
    print(f"py4j calls per batch: {per_batch}")  # shown by pytest -rP
    assert len(per_batch) == 5
    assert max(per_batch[1:]) <= 1304 // 2, per_batch
    assert len({r.eid for r in pipe.latest_alive().collect()}) == 10


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_failed_write_waits_then_replays(spark, tmp_path, monkeypatch):
    """A batch whose dead-letter write raises fails the stream only after
    its pending and target writes have ended (the target write is made
    slow to tell), and leaves no RDD persisted. Restarted once the obstacle is gone, the batch replays
    from the pending generation before it, and the replica, the dead
    letters and the pending buffer equal a run that never failed."""
    first = [
        (10, 2300, "T1", 1, 1.0),
        (11, 2300, "T1", 2, None),      # rejected
        (12, 2201, "T1", None, None),
        (13, 2300, "T2", 3, 3.0),       # deferred into batch 1
    ]
    second = [
        (14, 2300, "T2", 4, None),      # rejected once T2 commits
        (15, 2201, "T2", None, None),
        (16, 2300, "T3", 5, 5.0),       # deferred
        (17, 2300, None, 6, 6.0),
    ]

    def table(name):
        root = tmp_path / name
        d = {k: str(root / k) for k in ("env", "target", "ckpt", "dead")}
        pipe = _pipe(spark, d, keys=["eid"], mapping=_MAPPING,
                     dead_letter_dir=d["dead"], tick_monitor=TickGapMonitor())
        return d, pipe

    ref_dirs, ref = table("ref")
    _land(spark, ref_dirs["env"], first, second)
    ref.start(ref_dirs["env"], _ENV, max_files_per_trigger=1).awaitTermination()

    d, pipe = table("failing")
    _land(spark, d["env"], first)
    pipe.run_until_drained(d["env"], _ENV)
    _land(spark, d["env"], second)
    # A regular file where the dead letters' directory should be: batch
    # 1's dead-letter write cannot create batch_id=1 under it.
    os.rename(d["dead"], d["dead"] + ".aside")
    open(d["dead"], "w").close()
    written, write_batch = [], pipe.store.write_batch

    def slow_write_batch(df, batch_id):
        time.sleep(2)
        write_batch(df, batch_id)
        written.append(batch_id)

    monkeypatch.setattr(pipe.store, "write_batch", slow_write_batch)
    persisted = _persisted_rdds(spark)
    q = pipe.start(d["env"], _ENV)
    with pytest.raises(StreamingQueryException, match="ParentNotDirectory"):
        q.awaitTermination()
    assert written == [1]
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    for sibling in (os.path.join(d["ckpt"], "txn_pending", "batch_id=1"),
                    os.path.join(d["target"], "batch_id=1")):
        assert os.path.exists(os.path.join(sibling, "_SUCCESS")), sibling
    assert _persisted_rdds(spark) == persisted
    assert [p.batch_id for p in pipe.tick_monitor.progress] == [0]

    os.remove(d["dead"])
    os.rename(d["dead"] + ".aside", d["dead"])
    pipe.run_until_drained(d["env"], _ENV)
    assert [p.batch_id for p in pipe.tick_monitor.progress] == [0, 1]
    assert Counter(pipe.latest_alive().collect()) == Counter(
        ref.latest_alive().collect())
    # Rejected rows carry their _errors array: compare them as text.
    assert Counter(map(str, spark.read.parquet(d["dead"]).collect())) == Counter(
        map(str, spark.read.parquet(ref_dirs["dead"]).collect()))
    assert Counter(pipe.pending().collect()) == Counter(ref.pending().collect())
    assert {r.eid for r in pipe.latest_alive().collect()} == {1, 3, 6}


def test_mapping_compiled_once_per_schema(spark, dirs, tmp_path, monkeypatch):
    """Three batches of one envelope schema compile the mapping once. A
    restart on a schema whose payload gained a field compiles it once
    more, and the new field reaches the replica: set in the new rows,
    null in the parts written before it existed (and for the row that
    waited in the pending buffer across the restart)."""
    import arango_clickhouse_replica_spark.streaming.pipeline as pipeline_mod

    compiles = []
    compile_mapping = pipeline_mod.compile_mapping

    def counting(*a, **kw):
        compiles.append(1)
        return compile_mapping(*a, **kw)

    monkeypatch.setattr(pipeline_mod, "compile_mapping", counting)
    mapping = TableMapping.from_dict({"schema": {
        "primary_key": ["eid"],
        "properties": {
            "eid": {"type": "int", "ref": "event_id"},
            "v": {"type": "float", "ref": "value"},
            "note": {"type": "str"},
        },
    }})
    pipe = _pipe(spark, dirs, keys=["eid"], mapping=mapping)
    _land(spark, dirs["env"], [(10, 2300, None, 1, 1.0)],
          [(11, 2300, "T1", 2, 2.0)],                 # deferred
          [(12, 2300, None, 3, 3.0)])
    q = pipe.start(dirs["env"], _ENV, max_files_per_trigger=1)
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 3
    assert len(compiles) == 1

    env2 = T.StructType(_ENV.fields[:-1] + [T.StructField("data", T.StructType(
        _DATA.fields + [T.StructField("note", T.StringType())]))])
    for rows in ([(13, 2300, None, 4, 4.0, "n4"), (14, 2201, "T1", None, None, None)],
                 [(15, 2300, None, 5, 5.0, "n5")]):
        spark.createDataFrame(
            [(t, ty, "c", tid, (eid, val, note) if eid is not None else None)
             for (t, ty, tid, eid, val, note) in rows],
            env2,
        ).coalesce(1).write.mode("append").parquet(dirs["env"])
    q = pipe.start(dirs["env"], env2, max_files_per_trigger=1)
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 2
    assert len(compiles) == 2
    assert {(r.eid, r.note) for r in pipe.latest_alive().collect()} == {
        (1, None), (2, None), (3, None), (4, "n4"), (5, "n5")}


def test_gate_batch_without_terminator(spark, dirs):
    """No marker in the batch: the membership sets are empty, every row
    with a tid defers and rows with a null tid apply."""
    rows = [
        (10, 2300, "T1", 1, 1.0),
        (11, 2300, "T1", 2, 2.0),
        (12, 2300, None, 3, 3.0),
        (13, 2300, "T2", 4, 4.0),
        (14, 2302, None, 5, 5.0),
    ]
    assert collect_terminators(_env_df(spark, rows)) == {}
    pipe = _pipe(spark, dirs)
    _land(spark, dirs["env"], rows)
    pipe.run_until_drained(dirs["env"], _ENV)
    assert _alive_ids(pipe) == {3}  # 5 is a soft delete
    assert {r.data.event_id for r in pipe.pending().collect()} == {1, 2, 4}
    _assert_matches_batch(spark, pipe, dirs["env"])


def test_gate_last_marker_wins(spark, dirs):
    """A tid with both a commit and an abort in one batch: the later tick
    wins, and abort wins a tie, as in the batch split's max_by."""
    rows = [
        (10, 2300, "T1", 1, 1.0),
        (11, 2201, "T1", None, None),
        (12, 2202, "T1", None, None),   # T1: abort is later
        (13, 2300, "T2", 2, 2.0),
        (14, 2202, "T2", None, None),
        (15, 2201, "T2", None, None),   # T2: commit is later
        (16, 2300, "T3", 3, 3.0),
        (17, 2201, "T3", None, None),
        (17, 2202, "T3", None, None),   # T3: tie, abort wins
    ]
    assert collect_terminators(_env_df(spark, rows)) == {
        "T1": TXN_ABORT, "T2": TXN_COMMIT, "T3": TXN_ABORT}
    pipe = _pipe(spark, dirs)
    _land(spark, dirs["env"], rows)
    pipe.run_until_drained(dirs["env"], _ENV)
    assert _alive_ids(pipe) == {2}
    assert pipe.pending().count() == 0
    _assert_matches_batch(spark, pipe, dirs["env"])


def test_gate_txn_spans_three_batches(spark, dirs):
    """A transaction's rows arrive in two batches and its commit in a
    third: it stays invisible until the commit, then lands whole."""
    pipe = _pipe(spark, dirs)
    _land(spark, dirs["env"], [(10, 2300, "T1", 1, 1.0)])
    pipe.run_until_drained(dirs["env"], _ENV)
    assert _alive_ids(pipe) == set()
    _land(spark, dirs["env"], [(11, 2300, "T1", 2, 2.0), (12, 2300, None, 3, 3.0)])
    pipe.run_until_drained(dirs["env"], _ENV)
    assert _alive_ids(pipe) == {3}
    assert {r.data.event_id for r in pipe.pending().collect()} == {1, 2}
    _assert_matches_batch(spark, pipe, dirs["env"])
    _land(spark, dirs["env"], [(13, 2201, "T1", None, None)])
    pipe.run_until_drained(dirs["env"], _ENV)
    assert _alive_ids(pipe) == {1, 2, 3}
    _assert_matches_batch(spark, pipe, dirs["env"])


def _py4j_calls(spark, monkeypatch):
    """Count the py4j commands sent from here on."""
    calls = []
    on_py4j_command(spark, monkeypatch, lambda _command: calls.append(1))
    return calls


def test_gate_many_terminated_txns_in_one_batch(spark, dirs, monkeypatch):
    """One micro-batch terminating 5,200 transactions (two files drained
    together): the stream equals the batch split, and the membership
    predicates are built in a fixed number of py4j calls, not one per
    tid."""
    n = 5200
    rows = []
    for t in range(n):
        rows.append((2 * t, 2300, f"T{t}", t, float(t)))
        rows.append((2 * t + 1, TXN_ABORT if t % 5 == 1 else TXN_COMMIT,
                     f"T{t}", None, None))
    rows += [(2 * n + i, 2300, f"open{i}", n + i, 0.0) for i in range(10)]
    _land(spark, dirs["env"], rows[: len(rows) // 2], rows[len(rows) // 2:])
    pipe = _pipe(spark, dirs)
    q = pipe.start(dirs["env"], _ENV)
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 1
    assert pipe.pending().count() == 10
    assert len(_alive_ids(pipe)) == n - n // 5
    _assert_matches_batch(spark, pipe, dirs["env"])

    env = spark.read.schema(_ENV).parquet(dirs["env"])
    terminators = collect_terminators(env)
    assert len(terminators) == n
    # ~200 calls whatever the tid count; one literal per call would
    # need more than n.
    calls = _py4j_calls(spark, monkeypatch)
    txn_split_by(env, terminators)
    assert 0 < len(calls) < 1000
