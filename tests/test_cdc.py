"""CDC apply kernel tests, mirroring test/test_consumer.py (tombstone drop,
tick cutoff, _ver/_deleted stamping) plus latest-state merge semantics
(version wins, delete wins, replay/overlap idempotence) that the reference
delegates to ClickHouse ReplacingMergeTree."""

import re
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.cdc import (
    latest_alive,
    latest_state,
    merge_upsert,
    preprocess_envelopes,
)

ENVELOPE_SCHEMA = (
    "tick long, type int, cuid string, "
    "data struct<_key string, name string, attr1 long>"
)


def _envelopes(spark):
    rows = [
        (100, 2300, "c1", Row(_key="1", name="t1", attr1=1)),
        (101, 2300, "c1", Row(_key="2", name="t1", attr1=2)),
        (102, 2302, "c1", Row(_key="3", name="t1", attr1=3)),
        (103, 2300, "c1", None),                              # tombstone
        (104, 2201, "c1", Row(_key="9", name="tx", attr1=9)),  # txn marker
        (105, 2300, "c_untracked", Row(_key="8", name="x", attr1=8)),
    ]
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_preprocess_mirror_of_reference_case(spark):
    # initial_tick=101 drops tick 100; tombstone dropped; txn marker dropped;
    # untracked collection dropped; _ver=tick (deterministic, not wall-clock)
    out = preprocess_envelopes(
        _envelopes(spark), tracked_cuids=["c1"], initial_tick=101
    ).orderBy("_ver")
    rows = [r.asDict() for r in out.collect()]
    assert rows == [
        {"_key": "2", "name": "t1", "attr1": 2, "_ver": 101, "_deleted": 0},
        {"_key": "3", "name": "t1", "attr1": 3, "_ver": 102, "_deleted": 1},
    ]


def _chained_preprocess(env, *, tracked_cuids=None, initial_tick=None):
    """The reference: one DataFrame call per step (P1, P2, P3, D1, D2, P5)."""
    keep = F.col("type").isin(2300, 2302)
    if tracked_cuids is not None:
        keep = keep & F.col("cuid").isin(list(tracked_cuids))
    df = env.filter(keep).filter(F.col("data").isNotNull())
    if initial_tick is not None:
        df = df.filter(F.col("tick").cast("long") >= F.lit(int(initial_tick)))
    df = df.withColumn("_ver", F.col("tick").cast("long")).withColumn(
        "_deleted", F.when(F.col("type") == 2302, F.lit(1)).otherwise(F.lit(0))
    )
    return df.select(F.col("data.*"), F.col("_ver"), F.col("_deleted"))


def _optimized(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "", plan)


@pytest.mark.parametrize("tracked_cuids, initial_tick", [
    (None, None), (["c1"], None), (None, 101), (["c1", "c_untracked"], 102),
])
def test_preprocess_matches_chained_steps(spark, tracked_cuids, initial_tick):
    """One filter and one select give the rows, schema and optimized plan
    of the per-step chain, over upserts, removes, a tombstone, a txn
    marker and an untracked collection."""
    env = _envelopes(spark)
    kw = dict(tracked_cuids=tracked_cuids, initial_tick=initial_tick)
    got, want = preprocess_envelopes(env, **kw), _chained_preprocess(env, **kw)
    assert got.schema == want.schema
    assert Counter(got.collect()) == Counter(want.collect())
    assert _optimized(got) == _optimized(want)


def test_latest_state_version_wins(spark):
    df = spark.createDataFrame(
        [("a", 1, 10, 0), ("a", 3, 30, 0), ("a", 2, 20, 0), ("b", 1, 5, 0)],
        "_key string, _ver long, attr long, _deleted int",
    )
    out = {r._key: r.attr for r in latest_state(df, ["_key"]).collect()}
    assert out == {"a": 30, "b": 5}


def test_latest_alive_delete_wins(spark):
    df = spark.createDataFrame(
        [("a", 1, 10, 0), ("a", 2, 10, 1), ("b", 1, 5, 0), ("b", 2, 6, 0)],
        "_key string, _ver long, attr long, _deleted int",
    )
    alive = {r._key: r.attr for r in latest_alive(df, ["_key"]).collect()}
    assert alive == {"b": 6}  # 'a' soft-deleted by the winning version


def test_latest_state_order_insensitive(spark):
    # M5: correctness never depends on arrival order
    rows = [("a", 3, 30, 0), ("a", 1, 10, 0), ("a", 2, 20, 0)]
    for perm in (rows, rows[::-1], [rows[1], rows[0], rows[2]]):
        df = spark.createDataFrame(perm, "_key string, _ver long, attr long, _deleted int")
        assert latest_state(df, ["_key"]).collect()[0].attr == 30


def test_merge_upsert_idempotent_and_overlap(spark):
    schema = "_key string, _ver long, attr long, _deleted int"
    snapshot = spark.createDataFrame([("a", 1, 10, 0), ("b", 1, 20, 0)], schema)
    batch = spark.createDataFrame([("a", 2, 11, 0), ("a", 1, 10, 0), ("c", 1, 30, 0)], schema)
    once = merge_upsert(snapshot, batch, ["_key"])
    twice = merge_upsert(once, batch, ["_key"])  # replay the same batch
    expect = {("a", 11), ("b", 20), ("c", 30)}
    assert {(r._key, r.attr) for r in once.collect()} == expect
    assert {(r._key, r.attr) for r in twice.collect()} == expect


def test_equal_version_delete_preferred(spark):
    # deterministic tie rule: same _ver -> the delete wins (documented;
    # ClickHouse keeps an arbitrary last-inserted row on ties)
    df = spark.createDataFrame(
        [("a", 2, 10, 0), ("a", 2, 10, 1)],
        "_key string, _ver long, attr long, _deleted int",
    )
    assert latest_alive(df, ["_key"]).count() == 0
