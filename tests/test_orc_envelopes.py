"""ORC envelope archives (columnar wire shape, nested data struct)
through batch and streaming readers into the CDC apply kernel — the
columnar sibling of test_jsonl_envelopes.py / test_csv_envelopes.py."""

import json
import os

from arango_clickhouse_replica_spark.operators.cdc import (
    latest_alive,
    preprocess_envelopes,
)
from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
    envelope_schema,
    read_envelopes,
)

from .test_jsonl_envelopes import DATA_SCHEMA, _wire_lines


def _write_orc(spark, path, lines):
    rows = [
        (str(ln["tick"]), ln["type"], ln["db"], ln["cuid"], ln["tid"],
         (ln["data"]["_key"], ln["data"]["_id"], ln["data"]["_rev"],
          ln["data"]["name"], ln["data"]["attr1"]) if ln["data"] else None)
        for ln in lines
    ]
    spark.createDataFrame(rows, envelope_schema(DATA_SCHEMA)) \
        .coalesce(1).write.mode("append").orc(path)


def test_batch_orc_roundtrip(spark, tmp_path):
    src = str(tmp_path / "wire")
    _write_orc(spark, src, _wire_lines())
    env = read_envelopes(spark.read, src, DATA_SCHEMA, "orc")
    assert dict(env.dtypes)["tick"] == "bigint"
    alive = latest_alive(preprocess_envelopes(env), keys=["_key"])
    rows = {r._key: (r.attr1, r._ver) for r in alive.collect()}
    assert rows == {"1": (10, 102)}


def test_orc_and_jsonl_wire_shapes_agree(spark, tmp_path):
    lines = _wire_lines()
    orc_src = str(tmp_path / "orc")
    jsonl_src = str(tmp_path / "jsonl")
    _write_orc(spark, orc_src, lines)
    os.makedirs(jsonl_src, exist_ok=True)
    with open(os.path.join(jsonl_src, "part-0.jsonl"), "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")
    a = read_envelopes(spark.read, orc_src, DATA_SCHEMA, "orc")
    b = read_envelopes(spark.read, jsonl_src, DATA_SCHEMA, "json")
    assert "tid" in a.columns and "tid" in b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stream_orc_matches_batch(spark, tmp_path):
    src = str(tmp_path / "wire")
    lines = _wire_lines()
    _write_orc(spark, src, lines[:2])
    _write_orc(spark, src, lines[2:])

    target = str(tmp_path / "target")
    checkpoint = str(tmp_path / "ckpt")
    stream = read_envelopes(
        spark.readStream.option("maxFilesPerTrigger", 1), src, DATA_SCHEMA, "orc"
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
