"""Kafka envelope source/sink builders (SURVEY §2.1 S5, §2.2 K1).

The reference consumes one topic per collection with group=topic,
earliest offsets, manual commit (``replication/consumer/broker.py:14-22``)
and produces keyed JSON envelopes with a flush barrier
(``replication/producer/writer.py:5-25``). On Spark both collapse into
the built-in Kafka connector:

- source: ``readStream.format("kafka")`` — offsets live in the
  checkpoint (replacing manual commit), ``startingOffsets=earliest``
  matches the reference's ``auto_offset_reset`` default.
- sink: ``write.format("kafka")`` with ``key``/``value``/``topic``
  columns — keyed writes, per-message topic, flushed per batch.

A record value is one JSON envelope. ``decode_envelopes`` parses it with
the one wire schema, ``cdc_envelopes.envelope_schema``, and decodes it
with ``cdc_envelopes.decode_wire``, as the file and WAL sources do: the
reference's string ``tick`` becomes a long and Arango's ``tid "0"`` a
null. ``encode_envelopes`` writes it with ``to_json``.

No broker exists in the test environment, so builders only CONSTRUCT
the reader/writer (connection is attempted lazily by Spark on
``.start()``/``.save()``); tests cover envelope encode/decode round-trip
through the same expressions.

Scale notes: unlike the reference's 1-partition-per-topic total order
(``sync.py:64``), any partition count is safe here — the version-based
merge (M1) is order-insensitive, so source parallelism scales with
Kafka partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cdc_envelopes import decode_wire, envelope_schema


def decode_envelopes(raw: DataFrame, data_schema: T.DataType) -> DataFrame:
    """Kafka records (binary key/value) -> the Kafka ``key`` and the
    decoded envelope columns.

    The reference JSON-decodes each message value (broker.py:20-21);
    here it's one ``from_json`` projection (key = ``data._key``,
    publisher.py:86-88)."""
    wire = raw.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(
            F.col("value").cast("string"), envelope_schema(data_schema)
        ).alias("env"),
    ).select("key", "env.*")
    return decode_wire(wire, data_schema, "key")


def encode_envelopes(df: DataFrame, *, topic_col: str = "topic",
                     key_col: str = "key") -> DataFrame:
    """Envelope columns -> Kafka-writable (topic, key, value) frame."""
    payload_cols = [c for c in df.columns if c not in (topic_col, key_col)]
    value: Column = F.to_json(F.struct(*[F.col(c) for c in payload_cols]))
    return df.select(
        F.col(topic_col).alias("topic"),
        F.col(key_col).cast("string").alias("key"),
        value.alias("value"),
    )


def kafka_stream_reader(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
):
    """Configured (unstarted) Kafka stream reader.

    ``max_offsets_per_trigger`` is the backpressure knob replacing the
    reference's poll ``max_records`` (settings.yaml:43); data-loss
    detection replaces its tick-gap check (A2, publisher.py:140-141).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def kafka_batch_writer(df: DataFrame, *, bootstrap_servers: str):
    """Configured (unsaved) Kafka batch writer for an encoded frame."""
    return (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
    )
