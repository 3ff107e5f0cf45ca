"""Physical data layout strategies for 100 TB-scale tables.

The reference gets its layout for free from ClickHouse MergeTree:
``ORDER BY`` sort keys + ``index_granularity`` give range-scan locality
(``tables/test.yaml:14-16``), and background merges bound part counts.
On Spark the equivalent levers are explicit, and this module packages
them:

- ``write_bucketed``: hash-bucket a fact table on its join/merge key.
  Two tables bucketed the same way join WITHOUT a shuffle on either
  side — the 100 TB lineitem-orders join becomes an exchange-free
  sort-merge (the single biggest shuffle eliminated). Also the right
  layout for the CDC latest-state dedup: buckets align with the
  ``partitionBy(pk)`` window so merge-on-read needs no exchange.
- ``write_partitioned``: directory partitioning on a low-cardinality
  column (date, collection) -> static + dynamic partition PRUNING at
  scan time; the analogue of MergeTree's PARTITION BY.
- ``write_clustered``: repartition-by-range + sort-within-partitions on
  a key: row-group min/max statistics become selective, so point/range
  predicates skip most of the file — the analogue of the MergeTree
  primary index.
- ``write_zordered`` / ``zorder_value``: MULTI-dimensional clustering
  via Morton bit interleave (pure JVM bit ops) — both/all z-ordered
  columns keep tight per-file min/max, so predicates on any of them
  skip row groups (Delta OPTIMIZE ZORDER BY, dependency-free;
  data-skipping proven in ``tests/test_zorder.py``).

Small-file compaction after streaming micro-batches (the OPTIMIZE /
background-merge analogue, M3) is the part store's ``compact``
(operators/part_store.py), which the CDC target uses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    path: str,
    buckets: int,
    bucket_cols: str | Sequence[str],
    sort_cols: str | Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed table registered in the catalog.

    Joins/aggregations keyed on ``bucket_cols`` between tables with the
    same bucket count read co-located buckets and skip the exchange.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(buckets, *bucket_cols)
    )
    if sort_cols is not None:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    *,
    path: str,
    partition_cols: str | Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet: scans with a predicate on the
    partition column read only matching directories (PartitionFilters)."""
    partition_cols = (
        [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    )
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_clustered(
    df: DataFrame,
    *,
    path: str,
    cluster_cols: str | Sequence[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-repartition + sort within partitions on ``cluster_cols`` so
    parquet row-group min/max stats are tight -> predicate skipping."""
    cluster_cols = (
        [cluster_cols] if isinstance(cluster_cols, str) else list(cluster_cols)
    )
    out = (
        df.repartitionByRange(num_partitions, *cluster_cols)
        if num_partitions
        else df.repartitionByRange(*cluster_cols)
    )
    out.sortWithinPartitions(*cluster_cols).write.mode(mode).parquet(path)


def zorder_value(*cols, bits: int = 16):
    """Z-order (Morton) value interleaving the bits of up to 4 columns.

    Each input column must already be scaled to an integer in
    [0, 2**bits) — see ``write_zordered`` for the min/max scaling step.
    Bit spreading uses the standard mask-shift sequence entirely in JVM
    expressions (shiftleft/AND/OR: whole-stage codegen, no UDF).

    Why not single-key sorting (``write_clustered``): sorting on (a, b)
    makes b's row-group stats useless — every file spans b's full range.
    Interleaving bits gives BOTH columns tight min/max per file, so
    predicates on either (or both) skip row groups. This is the same
    multi-dimensional clustering Delta's OPTIMIZE ZORDER BY applies at
    100 TB; here it is an explicit, dependency-free column expression.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_value takes 1-4 columns")
    n = len(cols)

    def spread(c: Column) -> Column:
        """Insert n-1 zero bits between consecutive bits of c."""
        v = c.cast("long")
        if n == 1:
            return v
        # Mask-shift bit spreading, widened for stride n: place bit i of
        # the input at position i*n of the output, one bit at a time.
        # bits<=16 and n<=4 keeps everything inside a 64-bit long.
        out = F.lit(0).cast("long")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(v, i).bitwiseAND(F.lit(1)), i * n
                )
            )
        return out

    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        col = c if isinstance(c, Column) else F.col(c)
        z = z.bitwiseOR(F.shiftleft(spread(col), j))
    return z


def write_zordered(
    df: DataFrame,
    *,
    path: str,
    zorder_cols: Sequence[str],
    num_partitions: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: scale each column to [0, 2**bits) by
    global min/max (one tiny aggregate, broadcast as literals), compute
    the Morton value, range-repartition + sort on it, drop the helper
    column on write. Point/range predicates on ANY of the z-ordered
    columns then skip most row groups via parquet min/max stats.

    At 100 TB the min/max aggregate is a map-side-combinable full scan
    (or comes free from table metadata); the single range exchange on
    the z-value replaces the sort a clustered write needs anyway.
    """
    from pyspark.sql import functions as F

    cols = list(zorder_cols)
    mm = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = mm[f"mn_{c}"], mm[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top
                ).cast("long"),
            )
        )
    out = df.withColumn("__z", zorder_value(*scaled, bits=bits))
    (
        out.repartitionByRange(num_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
