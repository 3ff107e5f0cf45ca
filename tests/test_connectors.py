"""Connector plumbing tests (no broker / no ClickHouse in this
environment): envelope encode->decode round-trips through the exact
expressions the Kafka source/sink use, and writer configuration is
constructible without a live target."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.sources.cdc_envelopes import envelope_schema
from arango_clickhouse_replica_spark.sources.jdbc_sink import jdbc_batch_writer
from arango_clickhouse_replica_spark.sources.kafka import (
    decode_envelopes,
    encode_envelopes,
    kafka_stream_reader,
)
from arango_clickhouse_replica_spark.sources.tables import load_table


def test_envelope_roundtrip(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).limit(100)
    data_schema = ev.schema
    env = ev.select(
        F.lit("events").alias("topic"),
        F.col("event_id").cast("string").alias("key"),
        F.col("event_id").alias("tick"),
        F.lit(2300).alias("type"),
        F.lit("db").alias("db"),
        F.lit("c1").alias("cuid"),
        F.lit("t1").alias("tid"),
        F.struct(*[F.col(c) for c in ev.columns]).alias("data"),
    )
    wire = encode_envelopes(env)
    assert wire.columns == ["topic", "key", "value"]

    # simulate the Kafka record shape the source sees
    raw = wire.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
    )
    decoded = decode_envelopes(raw, data_schema)
    assert decoded.filter(F.col("type") == 2300).count() == 100
    got = {r.data.event_id for r in decoded.select("data").collect()}
    want = {r.event_id for r in ev.collect()}
    assert got == want


def test_decode_reference_wire_record(spark):
    """A record in the reference's wire shape: ``tick`` a JSON string
    (reader.py:53), ``tid "0"`` for a write outside any transaction."""
    value = ('{"tick": "100", "type": 2300, "db": "d", "cuid": "c1", '
             '"tid": "0", "data": {"_key": "k1"}}')
    raw = spark.createDataFrame(
        [(b"k1", value.encode())], "key binary, value binary"
    )
    data_schema = T.StructType([T.StructField("_key", T.StringType())])
    (row,) = decode_envelopes(raw, data_schema).collect()
    assert (row.key, row.tick, row.tid, row.data._key) == ("k1", 100, None, "k1")


def test_envelope_schema_shape():
    s = envelope_schema(T.StructType([T.StructField("_key", T.StringType())]))
    names = [f.name for f in s.fields]
    assert names == ["tick", "type", "db", "cuid", "tid", "data"]


def test_kafka_reader_configures_without_broker(spark):
    reader = kafka_stream_reader(
        spark,
        bootstrap_servers="localhost:9092",
        topics="events",
        max_offsets_per_trigger=1000,
    )
    assert reader is not None  # lazy: no connection until .load()/.start()


def test_jdbc_writer_configures_without_target(spark, sf_dir):
    df = load_table(spark, "events", sf_dir).limit(5)
    writer = jdbc_batch_writer(
        df, url="jdbc:clickhouse://localhost:8123/default", table="events",
        num_partitions=2,
    )
    assert writer is not None  # lazy: no connection until .save()
