"""Bucketed merge-on-write sink (streaming/merge_sink.py): result parity
with the merge-on-read path, idempotent replay, and the scale property —
a batch rewrites ONLY the buckets its keys hash into."""

import os

import pytest
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
    synthetic_event_envelopes,
)
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink


@pytest.fixture
def env(spark, sf_dir, tmp_path):
    env_dir = str(tmp_path / "env")
    os.makedirs(env_dir)
    envelopes = synthetic_event_envelopes(spark, sf_dir)
    envelopes.repartition(3).write.mode("append").parquet(env_dir)
    return env_dir, envelopes.schema


def _merge_pipe(spark, tmp_path, name="m"):
    sink = BucketedMergeSink(
        spark, str(tmp_path / name / "target"), keys=["event_id"], n_buckets=4
    )
    return CdcPipeline(
        spark,
        target_dir=sink.target_dir,
        checkpoint_dir=str(tmp_path / name / "ckpt"),
        keys=["event_id"],
        merge_sink=sink,
    ), sink


def test_merge_sink_matches_merge_on_read(spark, sf_dir, tmp_path, env):
    env_dir, schema = env
    mor = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "r" / "target"),
        checkpoint_dir=str(tmp_path / "r" / "ckpt"),
        keys=["event_id"],
    )
    mor.run_until_drained(env_dir, schema)
    mow, _ = _merge_pipe(spark, tmp_path)
    mow.run_until_drained(env_dir, schema)

    want = {(r.event_id, r.value) for r in mor.latest_alive().collect()}
    got = {(r.event_id, r.value) for r in mow.latest_alive().collect()}
    assert got == want and len(got) > 0


def test_merge_sink_keeps_rows_across_batches(spark, tmp_path):
    """A later batch merges into the buckets it touches instead of
    overwriting them: two batches with disjoint keys keep every row."""
    sink = BucketedMergeSink(
        spark, str(tmp_path / "target"), keys=["eid"], n_buckets=4
    )
    for batch_id, lo in enumerate((0, 50)):
        sink.apply_batch(
            spark.range(lo, lo + 50).selectExpr(
                "id AS eid", "id AS _ver", "0 AS _deleted"
            ),
            batch_id,
        )
    assert sorted(r.eid for r in sink.read_alive().collect()) == list(range(100))


def test_merge_sink_replay_is_idempotent(spark, tmp_path, env):
    env_dir, schema = env
    pipe, sink = _merge_pipe(spark, tmp_path)
    pipe.run_until_drained(env_dir, schema)
    first = {(r.event_id, r.value) for r in sink.read_alive().collect()}
    # same batch applied again out-of-band (redelivery): absorbed by _ver
    batch = spark.read.schema(schema).parquet(env_dir)
    from arango_clickhouse_replica_spark.operators.cdc import preprocess_envelopes

    sink.apply_batch(preprocess_envelopes(batch), batch_id=999)
    assert {(r.event_id, r.value) for r in sink.read_alive().collect()} == first


def test_merge_sink_touches_only_affected_buckets(spark, tmp_path, env):
    env_dir, schema = env
    pipe, sink = _merge_pipe(spark, tmp_path)
    pipe.run_until_drained(env_dir, schema)

    bucket_dirs = {
        e: os.path.getmtime(os.path.join(sink.target_dir, e))
        for e in os.listdir(sink.target_dir)
        if e.startswith("__bucket=")
    }
    assert len(bucket_dirs) == 4

    # one-key update -> exactly one affected bucket
    one = (
        spark.read.schema(schema).parquet(env_dir)
        .filter(F.col("type") == 2300)
        .orderBy(F.desc("tick"))
        .limit(1)
        .withColumn("tick", F.lit(10_000_000).cast("long"))
    )
    upd_dir = str(os.path.join(os.path.dirname(env_dir), "env2"))
    one.write.mode("overwrite").parquet(upd_dir)
    from arango_clickhouse_replica_spark.operators.cdc import preprocess_envelopes

    sink.apply_batch(preprocess_envelopes(spark.read.parquet(upd_dir)), batch_id=1)

    changed = [
        e
        for e, old_mtime in bucket_dirs.items()
        if os.path.getmtime(os.path.join(sink.target_dir, e)) != old_mtime
    ]
    assert len(changed) == 1


def test_compact_preserves_bucket_layout(spark, tmp_path, env):
    env_dir, schema = env
    pipe, sink = _merge_pipe(spark, tmp_path)
    pipe.run_until_drained(env_dir, schema)
    before = {(r.event_id, r.value) for r in sink.read_alive().collect()}

    pipe.compact()

    # layout survives: partition dirs intact, reads unchanged
    buckets = [e for e in os.listdir(sink.target_dir) if e.startswith("__bucket=")]
    assert len(buckets) == 4
    assert {(r.event_id, r.value) for r in sink.read_alive().collect()} == before

    # and the sink still merges incrementally after the rewrite
    batch = spark.read.schema(schema).parquet(env_dir)
    from arango_clickhouse_replica_spark.operators.cdc import preprocess_envelopes

    sink.apply_batch(preprocess_envelopes(batch), batch_id=1000)
    assert {(r.event_id, r.value) for r in sink.read_alive().collect()} == before
