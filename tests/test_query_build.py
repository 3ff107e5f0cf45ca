"""Building a query's plan on the driver: ``load_table`` takes the schema
from the parquet footer with pyarrow instead of running Spark's
schema-inference job, and the session records no Python call site per
PySpark call (``spark.python.sql.dataFrameDebugging.enabled=false``)."""

import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arango_clickhouse_replica_spark.queries import QUERIES
from arango_clickhouse_replica_spark.sources.tables import (
    TABLES,
    events_ts,
    load_table,
    parquet_schema,
)
from tests.conftest import jobs, on_py4j_command

# The physical encodings the events fixture's ts has shipped in: arrow
# type to write, and pq.write_table options.
TS_ENCODINGS = {
    "micros_naive": (pa.timestamp("us"), {}),
    "micros_utc": (pa.timestamp("us", "UTC"), {}),
    "nanos": (pa.timestamp("ns"), {"version": "2.6"}),
    "int96": (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),
}
# Nanoseconds since the epoch; the first has sub-microsecond digits.
TS_NS = [1_704_110_400_123_456_789, None, 1_706_745_599_999_999_000]


def _assert_loads_like_inference(spark, name, sf_dir):
    """``load_table`` runs no job, reads the schema Spark infers and the
    same rows as inference followed by the same ``ts`` normalization."""
    path = f"{sf_dir}/{name}.parquet"
    with jobs(spark, f"load_{name}") as ran:
        df = load_table(spark, name, sf_dir)
    assert ran == []
    inferred = spark.read.parquet(path)
    assert spark.read.schema(parquet_schema(path)).parquet(path).schema == inferred.schema
    if name == "events":
        inferred = events_ts(inferred)
    assert df.schema == inferred.schema
    assert df.exceptAll(inferred).isEmpty() and inferred.exceptAll(df).isEmpty()


@pytest.mark.parametrize("name", TABLES)
def test_load_table_matches_inferred_read(spark, sf_dir, name):
    _assert_loads_like_inference(spark, name, sf_dir)


@pytest.mark.parametrize("encoding", sorted(TS_ENCODINGS))
def test_load_table_events_ts_encodings(spark, tmp_path, encoding):
    """INT96 must read as TimestampType (pyarrow calls it a naive
    timestamp, and Spark refuses to read it as TIMESTAMP_NTZ); NANOS as
    the long that ``nanosAsLong`` gives."""
    arrow_type, options = TS_ENCODINGS[encoding]
    ts = pa.array(TS_NS, pa.timestamp("ns")).cast(arrow_type, safe=False)
    pq.write_table(pa.table({"event_id": pa.array([0, 1, 2], pa.int64()), "ts": ts}),
                   tmp_path / "events.parquet", **options)
    _assert_loads_like_inference(spark, "events", str(tmp_path))


def test_load_table_reads_a_spark_written_directory(spark, tmp_path):
    """A table written by Spark is a directory of parts (and ``_SUCCESS``
    and ``.crc`` files); its timestamps are INT96."""
    spark.createDataFrame(
        [(i, f"2024-01-0{i % 9 + 1} 00:00:0{i % 10}") for i in range(20)],
        "event_id long, ts string",
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts").repartition(3).write.parquet(
        str(tmp_path / "events.parquet"))
    _assert_loads_like_inference(spark, "events", str(tmp_path))


def test_query_build_py4j_budget(spark, sf_dir, monkeypatch):
    """A warm build of ``cdc_latest_state`` sends at most 700 py4j
    commands (391 at sf0.001). With call-site capture on, every Column or
    DataFrame call also looked up the active session, read a conf and set
    and cleared the JVM origin: the build sent 1,281."""
    build = QUERIES["cdc_latest_state"].build
    build(spark, sf_dir)
    me, calls = threading.get_ident(), []

    def count(_command):
        if threading.get_ident() == me:
            calls.append(1)

    on_py4j_command(spark, monkeypatch, count)
    build(spark, sf_dir)
    print(f"py4j commands per build: {len(calls)}")  # shown by pytest -rP
    assert len(calls) <= 700
