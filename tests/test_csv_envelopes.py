"""CSV envelope dumps (flat wire shape: JSON payload in a quoted string
column) through batch and streaming readers into the CDC apply kernel —
the CSV sibling of test_jsonl_envelopes.py."""

import csv
import json
import os

from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.cdc import (
    latest_alive,
    preprocess_envelopes,
)
from arango_clickhouse_replica_spark.sources.cdc_envelopes import read_envelopes

from .test_jsonl_envelopes import DATA_SCHEMA, _wire_lines


def _write_csv(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["tick", "type", "db", "cuid", "tid", "data"])
        for line in lines:
            w.writerow(
                [line["tick"], line["type"], line["db"], line["cuid"],
                 line["tid"], json.dumps(line["data"])]
            )


def test_batch_csv_roundtrip(spark, tmp_path):
    src = str(tmp_path / "wire")
    _write_csv(os.path.join(src, "part-0.csv"), _wire_lines())
    env = read_envelopes(spark.read, src, DATA_SCHEMA, "csv")
    assert dict(env.dtypes)["tick"] == "bigint"
    alive = latest_alive(preprocess_envelopes(env), keys=["_key"])
    rows = {r._key: (r.attr1, r._ver) for r in alive.collect()}
    assert rows == {"1": (10, 102)}


def test_csv_and_jsonl_wire_shapes_agree(spark, tmp_path):
    lines = _wire_lines()
    csv_src = str(tmp_path / "csv")
    jsonl_src = str(tmp_path / "jsonl")
    _write_csv(os.path.join(csv_src, "part-0.csv"), lines)
    os.makedirs(jsonl_src, exist_ok=True)
    with open(os.path.join(jsonl_src, "part-0.jsonl"), "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")
    a = read_envelopes(spark.read, csv_src, DATA_SCHEMA, "csv")
    b = read_envelopes(spark.read, jsonl_src, DATA_SCHEMA, "json")
    assert "tid" in a.columns and "tid" in b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_stream_csv_matches_batch(spark, tmp_path):
    src = str(tmp_path / "wire")
    lines = _wire_lines()
    _write_csv(os.path.join(src, "a.csv"), lines[:2])
    _write_csv(os.path.join(src, "b.csv"), lines[2:])

    target = str(tmp_path / "target")
    checkpoint = str(tmp_path / "ckpt")
    stream = read_envelopes(
        spark.readStream.option("maxFilesPerTrigger", 1), src, DATA_SCHEMA, "csv"
    )
    q = (
        preprocess_envelopes(stream)
        .writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = latest_alive(spark.read.parquet(target), keys=["_key"])
    rows = {r._key: (r.attr1, r._ver) for r in streamed.collect()}
    assert rows == {"1": (10, 102)}
