"""The envelope wire, and deterministic synthetic envelope streams over
the fixture tables.

Every wire source decodes through this module: ``envelope_schema`` is
the one wire schema (test/test_consumer.py:8-26) and ``decode_wire`` the
one function from wire rows to the envelope columns the pipeline reads.
``read_envelopes`` reads JSONL, CSV and ORC envelope files with them;
``sources/kafka.py`` parses its record values with the same schema, and
``sources/wal_datasource.py`` declares its rows with it.

No live ArangoDB/Kafka is needed to prove CDC correctness: the synthetic
change streams, already in the decoded shape, derive from a keyed
fixture table by the FIXTURES.md recipe (§"CDC-apply fixture recipe"):

- every row becomes an upsert envelope (``type=2300``, ``tick=2*key``);
- keys with ``key % 10 == 0`` get a later update (``tick=2*key+1``) with a
  mutated value column (update wins);
- keys with ``key % 20 == 7`` get a delete (``type=2302``,
  ``tick=2*key+1``) (delete wins);
- a sample of null-payload tombstones is appended (dropped by P2).

The same construction is expressible in plain SQL, so the full CDC
pipeline (preprocess -> version dedup -> soft-delete filter) has a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from ..operators.cdc import REMOVE_DOCUMENT, UPSERT_DOCUMENT
from .tables import load_table

EVENTS_CUID = "c_events"


def synthetic_event_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAL envelopes (tick, type, cuid, data struct) from the events table."""
    ev = load_table(spark, "events", sf_dir)
    cols = ev.columns

    def envelope(df: DataFrame, tick, op: int) -> DataFrame:
        return df.select(
            tick.cast("long").alias("tick"),
            F.lit(op).alias("type"),
            F.lit(EVENTS_CUID).alias("cuid"),
            F.struct(*[F.col(c) for c in cols]).alias("data"),
        )

    two_id = F.col("event_id") * 2
    base = envelope(ev, two_id, UPSERT_DOCUMENT)
    updates = envelope(
        ev.filter(F.col("event_id") % 10 == 0).withColumn("value", F.col("value") + 1000),
        two_id + 1,
        UPSERT_DOCUMENT,
    )
    deletes = envelope(ev.filter(F.col("event_id") % 20 == 7), two_id + 1, REMOVE_DOCUMENT)
    tombstones = (
        ev.filter(F.col("event_id") % 50 == 3)
        .select(
            F.lit(1).cast("long").alias("tick"),
            F.lit(UPSERT_DOCUMENT).alias("type"),
            F.lit(EVENTS_CUID).alias("cuid"),
            F.lit(None).cast(base.schema["data"].dataType).alias("data"),
        )
    )
    return base.unionByName(updates).unionByName(deletes).unionByName(tombstones)


# The same change stream in DuckDB SQL (for oracles). Produces the flattened
# post-preprocess shape: payload columns + _ver + _deleted.
CHANGES_SQL = """
  SELECT 2*event_id AS _ver, 0 AS _deleted,
         event_id, ts, user_id, event_type, value, props
  FROM events
  UNION ALL
  SELECT 2*event_id+1, 0, event_id, ts, user_id, event_type, value+1000, props
  FROM events WHERE event_id % 10 = 0
  UNION ALL
  SELECT 2*event_id+1, 1, event_id, ts, user_id, event_type, value, props
  FROM events WHERE event_id % 20 = 7
"""


# ---------------------------------------------------------------------------
# The envelope wire: one schema and one decoder for every wire source
# ---------------------------------------------------------------------------

def envelope_schema(data_schema: T.DataType) -> T.StructType:
    """The WAL envelope wire schema (test/test_consumer.py:8-26): ``tick``
    is a STRING-encoded integer on the wire (reader.py:53; a JSON number
    reads as its text too), ``data`` holds the full post-image document,
    typed by ``data_schema`` or a JSON string when it is ``StringType``."""
    return T.StructType(
        [
            T.StructField("tick", T.StringType()),
            T.StructField("type", T.IntegerType()),
            T.StructField("db", T.StringType()),
            T.StructField("cuid", T.StringType()),
            T.StructField("tid", T.StringType()),
            T.StructField("data", data_schema),
        ]
    )


def decode_wire(wire: DataFrame, data_schema: T.DataType,
                *carry: str) -> DataFrame:
    """Wire rows -> the envelope columns ``CdcPipeline`` and
    ``preprocess_envelopes`` read: ``tick`` (long), ``type``, ``cuid``,
    ``tid`` and ``data``, after the ``carry`` columns of the wire.

    ``tid`` is null for an operation outside any transaction (Arango
    writes ``"0"`` there), which the transaction gate reads as
    non-transactional. A ``data`` carried as a JSON string parses
    JVM-side with ``data_schema`` (``from_json``); a NULL or empty one
    becomes a NULL struct, the tombstone shape P2 drops."""
    data = F.col("data")
    string_cell = isinstance(wire.schema["data"].dataType, T.StringType)
    if string_cell and not isinstance(data_schema, T.StringType):
        data = F.from_json(data, data_schema)
    return wire.select(
        *carry,
        F.col("tick").cast("long").alias("tick"),
        "type",
        "cuid",
        F.nullif("tid", F.lit("0")).alias("tid"),
        data.alias("data"),
    )


def read_envelopes(reader: DataFrameReader | DataStreamReader, path: str,
                   data_schema: T.DataType, fmt: str) -> DataFrame:
    """Envelope files of format ``fmt`` (``json``: one envelope per line,
    the Kafka message value format, reader.py:27-28; ``csv``; ``orc``)
    under ``path``, decoded. ``reader`` is ``spark.read``, or
    ``spark.readStream`` with the caller's options (say
    ``maxFilesPerTrigger``) to tail a directory: the file-drop ingest
    path, S1 without a broker.

    CSV has no nested types, so its ``data`` is a JSON string cell
    under a header row. ORC keeps the nested struct, and a tick-range
    or op-type replay filter reaches its stripe index."""
    wire = envelope_schema(T.StringType() if fmt == "csv" else data_schema)
    if fmt == "csv":
        # RFC-4180 dumps escape quotes by doubling them; Spark's default
        # escape is backslash, so the JSON payload cell needs this or it
        # truncates at the first embedded quote
        reader = reader.option("header", "true").option("escape", '"')
    return decode_wire(reader.schema(wire).format(fmt).load(path), data_schema)


# Deterministic transaction lanes for the txn-atomic fixtures: 4
# consecutive event_ids share a transaction; every 7th txn is left OPEN
# (no terminator — the micro-batch cut mid-transaction), every 5th of
# the rest ABORTS, the remainder COMMIT. The same arithmetic is plain
# SQL, so the atomic-apply semantics have a DuckDB oracle.
TXN_GROUP = 4
TXN_STATUS_SQL = """
  CASE WHEN (event_id // {g}) % 7 = 3 THEN 'open'
       WHEN (event_id // {g}) % 5 = 1 THEN 'aborted'
       ELSE 'committed' END
""".format(g=TXN_GROUP)


def synthetic_txn_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic change stream with WAL transaction envelopes: every
    document row carries its ``tid`` (string on the wire, like ``tick``
    — reader.py:53), and each non-open transaction is terminated by a
    commit (2201) or abort (2202) marker row with a tick AFTER all of
    the transaction's document ticks (WAL order: rows precede their
    terminator)."""
    from ..operators.cdc import TXN_ABORT, TXN_COMMIT

    env = synthetic_event_envelopes(spark, sf_dir)
    tid_num = F.expr(f"data.event_id div {TXN_GROUP}")
    with_tid = env.select(
        "tick", "type", "cuid",
        F.when(F.col("data").isNotNull(), tid_num.cast("string"))
        .alias("tid"),
        "data",
    )
    tids = (
        load_table(spark, "events", sf_dir)
        .select(F.expr(f"event_id div {TXN_GROUP}").alias("t"))
        .distinct()
    )
    markers = (
        tids.filter((F.col("t") % 7) != 3)  # open txns get no terminator
        .select(
            # WAL order: the terminator follows every document tick of
            # its transaction (docs of txn t are events 4t..4t+3 with
            # ticks <= 2*(4t+3)+1 = 8t+7)
            (F.col("t") * 8 + 8).cast("long").alias("tick"),
            F.when((F.col("t") % 5) == 1, TXN_ABORT)
            .otherwise(TXN_COMMIT).alias("type"),
            F.lit(EVENTS_CUID).alias("cuid"),
            F.col("t").cast("string").alias("tid"),
            F.lit(None).cast(env.schema["data"].dataType).alias("data"),
        )
    )
    return with_tid.unionByName(markers)
