"""Tick-gap detection (streaming/monitor.py, SURVEY §2.10 A2): the
'ticks lost asked for X but got Y' alarm of the reference's WAL tail
(publisher.py:140-141), driven through both direct observe() calls and a
real gapped envelope stream via CdcPipeline."""

import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
    synthetic_event_envelopes,
)
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink
from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor


def _env(spark, ticks):
    rows = [(t, 2300, "c1", {"k": str(t)}) for t in ticks]
    return spark.createDataFrame(
        rows, "tick long, type int, cuid string, data map<string,string>"
    )


_STRUCT_ENV = "tick long, type int, cuid string, tid string, data struct<event_id: long>"


def _land(spark, env_dir, *tick_ranges):
    """One separately committed file per tick range; returns the files in
    the order the file source reads them (mtime)."""
    for ticks in tick_ranges:
        spark.createDataFrame(
            [(t, 2300, "c1", None, (t,)) for t in ticks], _STRUCT_ENV
        ).coalesce(1).write.mode("append").parquet(env_dir)
    return sorted(glob.glob(os.path.join(env_dir, "*.parquet")),
                  key=os.path.getmtime)


def _pipe(spark, tmp_path, mon, **kw):
    return CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["event_id"],
        tick_monitor=mon,
        **kw,
    )


def test_contiguous_batches_no_gap(spark):
    mon = TickGapMonitor()
    assert mon.observe(_env(spark, [1, 2, 3]), 0) is None
    assert mon.observe(_env(spark, [4, 5]), 1) is None
    assert mon.gaps == [] and mon.last_tick == 5


def test_gap_between_batches_detected(spark):
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2, 3]), 0)
    gap = mon.observe(_env(spark, [8, 9]), 1)
    assert gap is not None
    assert (gap.expected_from, gap.observed_from, gap.missing) == (4, 8, 4)
    assert mon.gaps == [gap]
    assert mon.last_tick == 9


def test_empty_batch_is_ignored(spark):
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2]), 0)
    assert mon.observe(_env(spark, []), 1) is None
    assert mon.last_tick == 2 and mon.gaps == []


def test_gap_alarm_fires_through_pipeline(spark, sf_dir, tmp_path):
    """A gapped envelope directory drives the monitor via foreachBatch."""
    env_dir = str(tmp_path / "env")
    os.makedirs(env_dir)
    env = synthetic_event_envelopes(spark, sf_dir).filter(F.col("data").isNotNull())
    lo = env.filter(F.col("tick") <= 20)
    hi = env.filter(F.col("tick") > 1000)  # ticks 21..1000 lost
    lo.coalesce(1).write.mode("append").parquet(env_dir)
    first_files = set(os.listdir(env_dir))

    alarms = []
    mon = TickGapMonitor(on_gap=alarms.append)
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["event_id"],
        tick_monitor=mon,
    )
    pipe.run_until_drained(env_dir, env.schema)
    assert mon.gaps == []  # first range alone is gap-free at its start

    hi.coalesce(1).write.mode("append").parquet(env_dir)
    assert set(os.listdir(env_dir)) != first_files
    pipe.run_until_drained(env_dir, env.schema)
    assert len(mon.gaps) >= 1
    assert alarms == mon.gaps
    assert mon.gaps[0].expected_from == 21
    assert mon.gaps[0].observed_from > 1000


def test_batch_progress_records(spark):
    """Per-batch progress (the reference's 'processed X-Y: overall N docs'
    log, publisher.py:155-156) accumulates alongside gap detection."""
    mon = TickGapMonitor()
    mon.observe(_env(spark, [1, 2, 3]), 0)
    mon.observe(_env(spark, []), 1)
    mon.observe(_env(spark, [8, 9]), 2)
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == [(0, 1, 3, 3), (2, 8, 9, 2)]


@pytest.mark.parametrize("mode", ["append", "txn_atomic", "merge_on_write"])
def test_pipeline_progress_matches_standalone_observe(spark, tmp_path, mode):
    """The tick metrics the pipeline observes on its own jobs give the
    same progress and gaps as standalone observe() over the same files,
    and the gap alarm still fires, whichever action reads the batch
    first."""
    env_dir = str(tmp_path / "env")
    files = _land(spark, env_dir, [1, 2, 3], [4, 5], [9, 10, 11])
    alarms = []
    mon = TickGapMonitor(on_gap=alarms.append)
    kw = {"txn_atomic": mode == "txn_atomic"}
    if mode == "merge_on_write":
        kw["merge_sink"] = BucketedMergeSink(
            spark, str(tmp_path / "target"), ["event_id"])
    q = _pipe(spark, tmp_path, mon, **kw).start(
        env_dir, spark.read.parquet(files[0]).schema, max_files_per_trigger=1)
    q.awaitTermination()

    ref = TickGapMonitor()
    for i, f in enumerate(files):
        ref.observe(spark.read.parquet(f), i)
    assert mon.progress == ref.progress
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == [(0, 1, 3, 3), (1, 4, 5, 2), (2, 9, 11, 3)]
    assert mon.gaps == ref.gaps and len(mon.gaps) == 1
    assert alarms == mon.gaps
    assert mon.last_tick == ref.last_tick == 11


def test_failed_batch_records_no_progress(spark, tmp_path, monkeypatch):
    """The monitor records a batch once it is applied: a batch whose
    write raises records nothing, and its retry is counted once."""
    env_dir = str(tmp_path / "env")
    files = _land(spark, env_dir, [1, 2, 3])
    schema = spark.read.parquet(files[0]).schema
    mon = TickGapMonitor()
    pipe = _pipe(spark, tmp_path, mon)

    def disk_full(df, batch_id):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(pipe.store, "write_batch", disk_full)
        q = pipe.start(env_dir, schema)
        with pytest.raises(StreamingQueryException):
            q.awaitTermination()
    assert mon.progress == [] and mon.last_tick is None

    pipe.run_until_drained(env_dir, schema)  # the restart re-runs batch 0
    assert [(p.batch_id, p.tick_from, p.tick_to, p.n_envelopes)
            for p in mon.progress] == [(0, 1, 3, 3)]
    assert {r.event_id for r in pipe.latest_alive().collect()} == {1, 2, 3}
