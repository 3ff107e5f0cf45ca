"""Bucketed merge-on-WRITE sink (the Delta-MERGE-shaped alternative).

The default pipeline is append-only + merge-on-read views — exactly
ClickHouse ``ReplacingMergeTree``'s write path (readme.md:89-91), where
background merges eventually compact. This sink is the other classic
shape: resolve versions AT WRITE TIME, like ``MERGE INTO`` on a Delta /
Iceberg table, so reads are plain scans with zero dedup cost.

Storage-agnostic implementation on hash-bucketed parquet:

- the target is partitioned by ``__bucket = pmod(xxhash64(keys), n)``;
- each micro-batch only touches the buckets its keys hash into: read
  THOSE partitions (partition-pruned scan), union the batch, keep the
  max-``_ver`` winner per key, and rewrite JUST those partitions via
  dynamic partition overwrite;
- replay/redelivery is absorbed by the same version dedup, so the sink
  stays idempotent (T2/T3) without a transaction log.

Scale: per-batch cost is O(size of affected buckets), not O(table).
Pick ``n_buckets`` so one bucket ≈ a few HDFS blocks; a trickle of
updates then rewrites a bounded slice of a 100 TB table. The
``localCheckpoint`` before the overwrite breaks lineage against the
files being replaced (Spark cannot overwrite a path it is still
reading from lazily); on a transactional table format (the real
deployment target) MERGE INTO replaces this dance wholesale.

Single-writer per target, like the reference's one consumer thread per
table (loader.py:224-231).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import VER_COL, latest_state

BUCKET_COL = "__bucket"


class BucketedMergeSink:
    """Merge-on-write target: latest-state rows, hash-bucket partitioned."""

    def __init__(
        self,
        spark: SparkSession,
        target_dir: str,
        keys: Sequence[str],
        *,
        n_buckets: int = 16,
        ver_col: str = VER_COL,
    ) -> None:
        self.spark = spark
        self.target_dir = target_dir
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self.ver_col = ver_col

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)),
        )

    def _exists(self) -> bool:
        # Test for the partition prefix: ``__bucket=N`` starts with "_"
        # like the files Spark treats as hidden.
        return os.path.isdir(self.target_dir) and any(
            e.startswith(BUCKET_COL + "=") for e in os.listdir(self.target_dir)
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch: rewrite only the affected buckets."""
        staged = self._bucket(batch)
        if self._exists():
            # Affected-bucket list is bounded by n_buckets — a scalar
            # driver probe, never data-sized.
            affected = [
                r[BUCKET_COL]
                for r in staged.select(BUCKET_COL).distinct().collect()
            ]
            if not affected:
                return
            existing = self.spark.read.parquet(self.target_dir).filter(
                F.col(BUCKET_COL).isin(affected)  # partition-pruned scan
            )
            merged = latest_state(
                existing.unionByName(staged, allowMissingColumns=True),
                self.keys,
                self.ver_col,
            )
        else:
            merged = latest_state(staged, self.keys, self.ver_col)
        self._overwrite(merged)

    def compact(self) -> None:
        """Coalesce each bucket's per-batch small files into one file.
        The target is already winners-only; the bucket layout the
        partition-pruned merge reads depend on is kept."""
        self._overwrite(
            self.spark.read.parquet(self.target_dir).repartition(BUCKET_COL)
        )

    def _overwrite(self, df: DataFrame) -> None:
        """Rewrite exactly the buckets ``df`` holds (dynamic partition
        overwrite), materialized first because ``df`` may read the very
        files being replaced."""
        (
            df.localCheckpoint(eager=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.target_dir)
        )

    # -- read path: plain scans, no merge-on-read dedup needed -------------

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.target_dir).drop(BUCKET_COL)

    def read_alive(self) -> DataFrame:
        out = self.read()
        if "_deleted" in out.columns:
            out = out.filter(F.col("_deleted") == 0)
        return out
