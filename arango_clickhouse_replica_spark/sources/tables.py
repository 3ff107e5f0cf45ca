"""Batch table loaders for the driver-provided parquet fixtures.

Maps the reference's full-collection snapshot scan
(replication/replicator/store.py:16-22 — AQL ``FOR d IN col RETURN d``
streamed in batches) onto ``spark.read.parquet``: Spark's splittable
columnar scan already gives batched, parallel, column-pruned,
predicate-pushed reads, so there is nothing to hand-roll.

A load runs no Spark job. ``spark.read.parquet(path)`` with no schema
runs one to infer it from the footer; ``load_table`` instead reads the
footer on the driver with pyarrow (~1 ms; of the first data file when
the table is a Spark-written directory), converts it to the schema
Spark would infer, and reads with ``spark.read.schema(...)``. The
conversion is ``from_arrow_type(..., prefer_timestamp_ntz=True)`` per
leaf column, except for two rules that depend on the parquet physical
type, where pyarrow and Spark disagree:

- INT96 reads as ``TimestampType`` (pyarrow reports a naive
  ``timestamp[ns]``, which would convert to ``TimestampNTZType``);
- INT64 ``TIMESTAMP(NANOS)`` reads as ``LongType``, as Spark reads it
  under ``spark.sql.legacy.parquet.nanosAsLong``, which the ``events``
  load sets.

At 100 TB the same call works unchanged: parquet footers give partition
planning, ``spark.sql.files.maxPartitionBytes`` controls split size, and
Catalyst pushes filters/projections into the scan.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# All fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables — always broadcast-able in joins.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part"})


def parquet_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the footer of
    the file, or of the first data file of a Spark-written directory (as
    Spark reads one footer without ``mergeSchema``), read on the driver
    (see the module docstring for the rules)."""
    if os.path.isdir(path):
        # Spark skips names starting with "_" or "." (_SUCCESS, .crc).
        parts = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        if not parts:
            raise FileNotFoundError(f"no parquet data file under {path}")
        path = os.path.join(path, parts[0])
    columns = pq.read_metadata(path).schema
    leaves = iter(columns.column(i).physical_type for i in range(len(columns)))

    def convert(at: pa.DataType) -> T.DataType:
        # Parquet leaf columns come in the depth-first order of the
        # arrow leaves, so each primitive consumes the next one.
        if pa.types.is_struct(at):
            return T.StructType([T.StructField(f.name, convert(f.type), f.nullable)
                                 for f in at])
        if pa.types.is_list(at):
            return T.ArrayType(convert(at.value_type), at.value_field.nullable)
        if pa.types.is_map(at):
            return T.MapType(convert(at.key_type), convert(at.item_type),
                             at.item_field.nullable)
        physical = next(leaves)
        if physical == "INT96":
            return T.TimestampType()
        if physical == "INT64" and pa.types.is_timestamp(at) and at.unit == "ns":
            return T.LongType()
        return from_arrow_type(at, prefer_timestamp_ntz=True)

    return convert(pa.struct(columns.to_arrow_schema()))


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``events`` fixture's ``ts`` to a session-tz
    ``TimestampType`` at microsecond precision.

    events.parquet has shipped with several physical types for ts across
    fixture generations: TIMESTAMP(NANOS) (Spark 4 refuses outright —
    PARQUET_TYPE_ILLEGAL — unless read nanos-as-long), TIMESTAMP(MICROS)
    isAdjustedToUTC=false (reads as TIMESTAMP_NTZ), plain TIMESTAMP and
    INT96. Each becomes the value DuckDB produces for that encoding, so
    oracle comparisons stay bit-identical regardless of fixture vintage."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # nanos-as-long: floor-divide to micros (DuckDB's truncation).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, T.TimestampType):
        # TIMESTAMP_NTZ (or anything else): naive wall-clock -> session-tz
        # timestamp. Sessions here run UTC, so the instant is unchanged and
        # pandas round-trips the identical naive value.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one fixture table as a DataFrame; runs no Spark job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_schema(path)).parquet(path)
    return events_ts(df) if name == "events" else df


def spread_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-spread an UNDER-SPLIT scan across the session parallelism
    before per-row-expensive work (guide §2.6 — the multimodal
    ``_spread_ids`` lesson generalized): a small fixture file arrives as
    one input split, so a JSON-synth / shingle-explode / md5 chain over
    it runs on ONE core while the rest idle. The repartition fires ONLY
    when the scan has fewer partitions than the session parallelism — at
    real scale the file splits already provide the parallelism and the
    corpus is never reshuffled. The partition key is the guide-§2.5
    synthetic key — ``pmod(xxhash64(key), 100 * n)`` — deterministic
    under task retry (never round-robin or rand-derived over a re-read
    scan) with 100x more distinct values than partitions so the hash
    spreads evenly; deriving it (rather than hashing the raw key column)
    also keeps the exchange's partitioning claim disjoint from every
    downstream JOIN key, so the planner can never elide a required
    exchange against this claim (observed: a union of two raw-key-spread
    branches fed a sort-merge join that tried to zip 32- and
    64-partition RDDs).

    INPUT CONTRACT (r15, ADVICE r14): ``df`` must be a bare file-source
    scan (optionally with narrow projections/filters) — the
    ``df.rdd.getNumPartitions()`` probe below finalizes the physical
    plan, and under AQE a plan containing Exchanges would eagerly
    materialize its upstream query stages (running real jobs) just to
    answer the partition-count question. Every caller passes a
    ``load_table`` scan; pass nothing wider."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(
            n, F.pmod(F.xxhash64(F.col(key_col)), F.lit(100 * n))
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table keyed by name."""
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each fixture table as a temp view for ``spark.sql`` use —
    the engine's AQL-pass-through analog (SURVEY.md §2.1 S4:
    arangodb/connect.py:28-63 runs arbitrary AQL; we expose full Spark SQL).
    """
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
