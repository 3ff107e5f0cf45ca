#!/usr/bin/env python
"""Replication orchestrator CLI — the reference's ``replicate.py`` entry
point (§3.1, replicate.py:26-32 + replication/replicator/sync.py:75-160)
reduced to its Spark shape: per-table streaming pipelines with optional
full resync, driven by YAML table mappings.

    python tools/replicate.py --tables events,documents \\
        --envelope-root /data/envelopes --state-root /data/state \\
        [--mappings tables/] [--resync] [--drain]

Each table is one CdcPipeline, built alike for envelope dirs and for a
live WAL (--wal-url): its state under --state-root/<table>, its mapping
from --mappings/<table>.yaml when that exists, the transaction gate on
(envelopes without ``tid`` skip it), a tick monitor and dead letters.
Per table this either starts a continuous stream or (with --drain)
processes what is available and exits. --resync is
``CdcPipeline.reset()``: the table's checkpoint, target and dead letters
are wiped and the stream rebuilds the table from the source's start
(overlap absorbed by version dedup). No Redis, no PM2: the checkpoint
directory is the only progress state.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--tables", required=True,
                    help="comma-separated table names (envelope dirs under envelope-root)")
    ap.add_argument("--envelope-root", default=None,
                    help="envelope-dir source root (required unless --wal-url)")
    ap.add_argument("--state-root", required=True,
                    help="per-table target/checkpoint/dead-letter dirs live here")
    ap.add_argument("--mappings", default=None,
                    help="directory of per-table YAML mappings (tables/*.yaml shape)")
    ap.add_argument("--keys", default="_key",
                    help="comma-separated primary-key columns (default: _key)")
    ap.add_argument("--resync", action="store_true",
                    help="wipe each table's checkpoint, target and dead letters "
                         "and rebuild it from the source's start")
    ap.add_argument("--drain", action="store_true",
                    help="process what is available, then exit (envelope dirs: "
                         "Trigger.AvailableNow; --wal-url: processAllAvailable, "
                         "then stop)")
    ap.add_argument("--ddl", action="store_true",
                    help="print the generated ClickHouse target DDL per mapped "
                         "table (schema/ddl.py) and exit — for bootstrapping a "
                         "fresh JDBC target")
    ap.add_argument("--merge-on-write", action="store_true",
                    help="use the bucketed merge-on-write sink instead of the "
                         "append-only + merge-on-read target")
    ap.add_argument("--wal-url", default=None,
                    help="tail a live ArangoDB WAL instead of envelope dirs: "
                         "http://host:port/db (native arango_wal streaming "
                         "source; the checkpoint stores the tick). Requires "
                         "--data-schema; --tables entries are collection "
                         "cuids in this mode")
    ap.add_argument("--data-schema", default=None,
                    help="Spark DDL string for the document payload when "
                         "--wal-url is used, e.g. '_key string, v long'")
    ap.add_argument("--failure-log", default=None,
                    help="JSONL file for structured query-failure records "
                         "(C7 alerting; streaming/alerts.py) — every stream "
                         "termination with an exception is appended here")
    args = ap.parse_args()

    from arango_clickhouse_replica_spark.schema.dsl import TableMapping
    from arango_clickhouse_replica_spark.session import get_spark
    from arango_clickhouse_replica_spark.streaming.manager import (
        ReplicationManager,
        TableRunner,
    )

    if args.ddl:
        from arango_clickhouse_replica_spark.schema.ddl import create_table_ddl

        if not args.mappings:
            raise SystemExit("--ddl requires --mappings")
        for name in args.tables.split(","):
            yml = os.path.join(args.mappings, f"{name}.yaml")
            if not os.path.exists(yml):
                raise SystemExit(f"no mapping for table {name!r}: {yml}")
            print(create_table_ddl(TableMapping.from_yaml_file(yml)))
        return

    spark = get_spark("replicate")
    mgr = ReplicationManager(spark)
    if args.failure_log:
        # C7 default-on alerting, matching the reference's always-wired
        # mailer hook (loader.py:172-187): failures land in the JSONL log.
        mgr.attach_alerts(args.failure_log)

    if args.wal_url:
        _run_wal_mode(spark, args)
        return
    if not args.envelope_root:
        raise SystemExit("--envelope-root is required unless --wal-url is given")

    for name in args.tables.split(","):
        env_dir = os.path.join(args.envelope_root, name)
        if not os.path.isdir(env_dir):
            raise SystemExit(f"no envelope dir for table {name!r}: {env_dir}")
        pipe = _table_pipeline(spark, args, name)
        schema = spark.read.parquet(env_dir).schema
        if args.drain:
            pipe.run_until_drained(env_dir, schema)
            print(f"{name}: drained; latest-state rows = {pipe.latest_alive().count()}")
        else:
            mgr.add(TableRunner(name, pipe, env_dir, schema))

    if not args.drain:
        mgr.start_all()
        print("streams running:", [s["table"] for s in mgr.statuses()])
        try:
            for r in mgr.runners.values():
                r.query.awaitTermination()
        except KeyboardInterrupt:
            mgr.stop_all()


def _table_pipeline(spark, args, name, tracked_cuids=None):
    """The CdcPipeline of table ``name``, alike in both modes (see the
    module docstring); ``--resync`` resets it here, before its stream
    starts."""
    from arango_clickhouse_replica_spark.schema.dsl import TableMapping
    from arango_clickhouse_replica_spark.streaming import CdcPipeline
    from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink
    from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor

    keys = args.keys.split(",")
    mapping = None
    if args.mappings:
        yml = os.path.join(args.mappings, f"{name}.yaml")
        if os.path.exists(yml):
            mapping = TableMapping.from_yaml_file(yml)
    state = os.path.join(args.state_root, name)
    target_dir = os.path.join(state, "target")
    monitor = TickGapMonitor(
        on_gap=lambda g: print(
            f"{name}: TICKS LOST asked for {g.expected_from} "
            f"but got {g.observed_from} ({g.missing} missing)",
            file=sys.stderr,
        )
    )
    pipe = CdcPipeline(
        spark,
        target_dir=target_dir,
        checkpoint_dir=os.path.join(state, "ckpt"),
        keys=keys,
        mapping=mapping,
        dead_letter_dir=os.path.join(state, "dead"),
        tick_monitor=monitor,
        merge_sink=(BucketedMergeSink(spark, target_dir, keys)
                    if args.merge_on_write else None),
        tracked_cuids=tracked_cuids,
        txn_atomic=True,
    )
    if args.resync:
        pipe.reset()
    return pipe


def _run_wal_mode(spark, args) -> None:
    """One CdcPipeline per watched collection, fed by the native
    ``arango_wal`` streaming source (no envelope dirs, no broker); the
    checkpoint carries the WAL tick. ``--tables`` entries name the
    collection cuids to watch."""
    from urllib.parse import urlparse

    from pyspark.sql.types import _parse_datatype_string

    if not args.data_schema:
        raise SystemExit("--wal-url requires --data-schema")
    u = urlparse(args.wal_url)
    wal_options = {
        "host": u.hostname or "localhost",
        "port": u.port or 8529,
        "db": (u.path or "/_system").strip("/") or "_system",
        "username": os.environ.get("ARANGO_USER", "root"),
        "password": os.environ.get("ARANGO_PASSWORD", ""),
        # test hook: scripted transport + its state file (the same
        # env-gating as the connector itself)
        **({"transportFactory": os.environ["ARANGO_WAL_TRANSPORT_FACTORY"]}
           if "ARANGO_WAL_TRANSPORT_FACTORY" in os.environ else {}),
        **({"walFile": os.environ["ARANGO_WAL_FILE"]}
           if "ARANGO_WAL_FILE" in os.environ else {}),
    }
    data_schema = _parse_datatype_string(args.data_schema)
    queries = [
        _table_pipeline(spark, args, name, tracked_cuids=[name]).start_wal(
            data_schema=data_schema, wal_options=wal_options,
            collections=[name],
        )
        for name in args.tables.split(",")
    ]
    print(f"tailing WAL {args.wal_url} for {args.tables}")
    try:
        for q in queries:
            if args.drain:
                q.processAllAvailable()
                q.stop()
            q.awaitTermination()
    except KeyboardInterrupt:
        for q in queries:
            q.stop()


if __name__ == "__main__":
    main()
