"""JSONL envelope files in the reference's exact wire shape
(test/test_consumer.py:8-26: string-encoded tick, type code, cuid, full
post-image in data) through batch and streaming readers into the CDC
apply kernel."""

import json
import os

from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.cdc import (
    latest_alive,
    preprocess_envelopes,
)
from arango_clickhouse_replica_spark.sources.cdc_envelopes import read_envelopes
from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

DATA_SCHEMA = T.StructType(
    [
        T.StructField("_key", T.StringType()),
        T.StructField("_id", T.StringType()),
        T.StructField("_rev", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("attr1", T.LongType()),
    ]
)


def _wire_lines():
    def env(tick, op, key, attr1):
        return {
            "tick": str(tick),  # string-encoded on the wire (reader.py:53)
            "type": op,
            "db": "customerfeedback",
            "cuid": "c4010527",
            "tid": "5559734947",
            "data": {"_key": key, "_id": f"X/{key}", "_rev": "_r", "name": "t1",
                     "attr1": attr1},
        }

    return [
        env(100, 2300, "1", 1),
        env(101, 2300, "2", 2),
        env(102, 2300, "1", 10),   # update wins over tick 100
        env(103, 2302, "2", 2),    # soft delete key 2
        env(104, 2201, "9", 0),    # txn marker: filtered (P1)
    ]


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")


def test_batch_jsonl_roundtrip(spark, tmp_path):
    src = str(tmp_path / "wire")
    _write(os.path.join(src, "part-0.jsonl"), _wire_lines())
    env = read_envelopes(spark.read, src, DATA_SCHEMA, "json")
    assert dict(env.dtypes)["tick"] == "bigint"
    alive = latest_alive(preprocess_envelopes(env), keys=["_key"])
    rows = {r._key: (r.attr1, r._ver) for r in alive.collect()}
    assert rows == {"1": (10, 102)}  # update won, delete filtered, marker dropped


def test_stream_jsonl_matches_batch(spark, tmp_path):
    src = str(tmp_path / "wire")
    lines = _wire_lines()
    _write(os.path.join(src, "a.jsonl"), lines[:2])
    _write(os.path.join(src, "b.jsonl"), lines[2:])

    target = str(tmp_path / "target")
    stream = read_envelopes(
        spark.readStream.option("maxFilesPerTrigger", 1), src, DATA_SCHEMA, "json"
    )
    q = (
        preprocess_envelopes(stream)
        .writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r._key: (r.attr1, r._ver)
        for r in latest_alive(spark.read.parquet(target), keys=["_key"]).collect()
    }
    assert got == {"1": (10, 102)}


def test_txn_gate_holds_on_file_envelopes(spark, tmp_path):
    """The file reader keeps ``tid``, so the transaction gate sees it: an
    aborted transaction's documents are never served, and a document
    outside any transaction (Arango's ``tid "0"``) applies at once."""
    def env(tick, op, tid, key):
        data = None if key is None else {
            "_key": key, "_id": f"X/{key}", "_rev": "_r", "name": "t",
            "attr1": tick,
        }
        return {"tick": str(tick), "type": op, "db": "d", "cuid": "c",
                "tid": tid, "data": data}

    src = str(tmp_path / "wire")
    _write(os.path.join(src, "part-0.jsonl"), [
        env(100, 2300, "7", "a"),
        env(101, 2300, "7", "b"),
        env(102, 2202, "7", None),   # ABORT of tid 7
        env(103, 2300, "0", "c"),    # outside any transaction
    ])
    env_df = read_envelopes(spark.read, src, DATA_SCHEMA, "json")
    pipe = CdcPipeline(spark, target_dir=str(tmp_path / "target"),
                       checkpoint_dir=str(tmp_path / "ckpt"), keys=["_key"],
                       txn_atomic=True)
    pipe._apply_batch(env_df, 0)
    assert {r._key for r in pipe.latest_alive().collect()} == {"c"}
