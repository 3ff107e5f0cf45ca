"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the same code scales to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast selection) — replaces hand-tuned shuffle.partitions.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (which reads parquet values as-is).
- Arrow enabled for the few Pandas-UDF operators (similarity/multimodal);
  everything else stays JVM-side in whole-stage codegen.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``).
  When on, every Column or DataFrame call walks the Python stack to
  record its call site and sends extra py4j commands (the active-session
  lookup, a conf read, setting and clearing the JVM origin): a warm
  build of ``cdc_latest_state`` at sf0.001 sent 1,281 commands with it
  and 391 without. What is lost: a runtime error's query context no
  longer names the Python line that built the failing expression.
  Analysis errors still raise at the call site with a full Python
  traceback.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "arango-clickhouse-replica-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime shuffle-partition coalescing + skew handling. At
        # cluster scale this is what keeps 100TB shuffles from producing
        # millions of tiny tasks or a handful of skewed giants.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing reasons in BYTES; the embedding/pair-kernel
        # stages here are byte-light but compute-heavy (64-dim array
        # folds per joined row), so the default 1 MB minPartitionSize
        # floor collapses their shuffles to ONE partition and serializes
        # the kernel on a single core (measured: the mutual-kNN pair
        # stage ran 1 task x 2.0 s; at 16k it runs 13 tasks x 0.03 s —
        # r14 opt round, guide §2.2/§2.6). parallelismFirst (default
        # true) already targets total/parallelism as the partition size;
        # this floor just lets it act on small-byte/large-compute
        # shuffles too. Large shuffles are untouched (their sizes sit
        # far above any floor), so the setting is scale-neutral at
        # 100 TB; parameterized for ops override.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "16k"),
        )
        # Static default sized for local test data; AQE coalesces down,
        # and on a real cluster this would be ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # Deterministic timestamps, matching the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for Pandas UDFs (vectorized python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables (region/nation/supplier/part) stay broadcast-able.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # A static conf: it must be set before the session starts.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Optional connector jars for the live-backend harness
    # (tests/test_live_backends.py): e.g. the Kafka source and the
    # ClickHouse JDBC driver. Must be set BEFORE the first session in
    # the process — jars cannot join a running JVM.
    packages = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES")
    if packages:
        builder = builder.config("spark.jars.packages", packages)
    return builder.getOrCreate()
