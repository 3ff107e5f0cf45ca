"""Control plane: per-table query supervision and resync (SURVEY §2.9).

The reference runs one supervised OS thread per table with restart
backoff and max-restart caps (C1, ``replication/consumer/task.py:49-199``,
``settings.yaml:38-41``), a Redis pub/sub command protocol for
start/stop/status (C2, ``taskmanager.py:15-102``), and a full-resync
orchestration that stops everything, recreates topics, snapshots, and
restarts (C3, ``replication/replicator/sync.py:75-160``).

On Spark the heavy machinery collapses into ``StreamingQueryManager``
plus a thin supervisor:

- one ``StreamingQuery`` per table replaces the thread-per-table model;
- ``query.status`` / ``lastProgress`` / ``stop()`` replace the pub/sub
  protocol;
- a ``StreamingQueryListener`` replaces the SMTP failure alerts (C7) —
  terminations land in a status log any alerting hook can consume;
- resync = stop query -> recreate the topic (with a topic admin) ->
  ``CdcPipeline.reset(snapshot)``, which owns the table's state ->
  restart stream (the reference's topic-recreate + snapshot + restart
  dance, minus the external services).

Restart policy mirrors the reference's knobs: ``max_restarts`` (give up
after N crashes), ``min_up_time`` (a crash after a long healthy run
resets the counter), ``restart_delay`` backoff (settings.yaml:39-41).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .pipeline import CdcPipeline


@dataclass
class RestartPolicy:
    """The reference's supervisor knobs (settings.yaml:38-41)."""

    max_restarts: int = 3
    min_up_time_s: float = 60.0
    restart_delay_s: float = 30.0


@dataclass
class TableRunner:
    """Supervised streaming query for one replicated table (C1)."""

    name: str
    pipeline: CdcPipeline
    envelope_dir: str
    envelope_schema: object
    policy: RestartPolicy = field(default_factory=RestartPolicy)
    #: Kafka topic shape for this table, reapplied on resync-recreate
    #: (the reference re-creates with the table's topic_config —
    #: sync.py:64-70; partitions>1 is this engine's extension, safe
    #: because the version merge M1 is order-insensitive).
    topic_partitions: int = 1
    topic_configs: dict | None = None
    restarts: int = 0
    started_at: float = 0.0
    query: object = None

    def start(self) -> None:
        self.started_at = time.monotonic()
        self.query = self.pipeline.start(
            self.envelope_dir, self.envelope_schema, available_now=False
        )

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def status(self) -> dict:
        """The pub/sub INFO/status reply (C2, taskmanager.py:60-80)."""
        q = self.query
        return {
            "table": self.name,
            "active": bool(q is not None and q.isActive),
            "restarts": self.restarts,
            "last_progress": None if q is None else q.lastProgress,
        }

    def supervise_once(self) -> bool:
        """One supervisor tick: restart a dead query per policy.

        Returns False when the runner has permanently given up
        (task.py:135-152 semantics: backoff, capped restarts, healthy
        uptime resets the counter)."""
        q = self.query
        if q is not None and q.isActive:
            return True
        up_time = time.monotonic() - self.started_at
        if up_time >= self.policy.min_up_time_s:
            self.restarts = 0
        if self.restarts >= self.policy.max_restarts:
            return False
        self.restarts += 1
        time.sleep(min(self.policy.restart_delay_s, 0.01))  # test-friendly floor
        self.start()
        return True


class ReplicationManager:
    """All per-table runners + resync orchestration (C2/C3)."""

    def __init__(self, spark: SparkSession, *, topic_admin=None) -> None:
        self.spark = spark
        self.runners: dict[str, TableRunner] = {}
        self.listener = None
        #: optional sources/kafka_admin.KafkaTopicAdmin — when set, resync
        #: recreates the table's topic (C4, sync.py:119-130) so compacted
        #: history from the previous epoch cannot replay into the target.
        self.topic_admin = topic_admin

    def attach_alerts(self, log_path: str, notifiers=None):
        """C7 analogue: register the failure listener (streaming/alerts.py)
        so every query termination with an exception lands as a structured
        record in ``log_path`` and fans out to ``notifiers``."""
        from .alerts import attach_alerts

        self.listener = attach_alerts(self.spark, log_path, notifiers)
        return self.listener

    def add(self, runner: TableRunner) -> None:
        self.runners[runner.name] = runner

    def start_all(self) -> None:
        for r in self.runners.values():
            r.start()

    def stop_all(self) -> None:
        for r in self.runners.values():
            r.stop()

    def statuses(self) -> list[dict]:
        return [r.status() for r in self.runners.values()]

    def resync(self, name: str, snapshot_df) -> None:
        """Full table resync (C3, sync.py:75-160): stop the stream,
        recreate its topic when a topic admin is set, reset the table to
        the snapshot (``CdcPipeline.reset``), restart the stream. Overlap
        between the snapshot and replayed envelopes is absorbed by version
        dedup (M4) — the reference's records-tick-before-snapshot trick,
        without the Redis token."""
        r = self.runners[name]
        r.stop()
        if self.topic_admin is not None:
            # C4: the reference drops + recreates the table's topic between
            # stop and backfill (sync.py:119-130), with the table's
            # topic_config (sync.py:64-70); a failed recreation aborts the
            # resync rather than replaying stale history.
            ok = self.topic_admin.recreate(
                [name],
                partitions=r.topic_partitions,
                topic_configs={name: r.topic_configs} if r.topic_configs else None,
            )
            if not ok:
                raise RuntimeError(f"topic recreation failed for {name!r}")
        r.pipeline.reset(snapshot_df)
        r.restarts = 0
        r.start()
