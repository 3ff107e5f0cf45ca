"""Kafka topic admin (sources/kafka_admin.py): the resync topic
lifecycle — delete-and-wait under asynchronous broker deletion, config
carry-through on recreate, failure propagation — against an injected
in-memory client (no broker in this environment; the protocol is the
contract, mirroring reference sync.py:18-72)."""

from arango_clickhouse_replica_spark.sources.kafka_admin import KafkaTopicAdmin


class FakeAdminClient:
    """Broker double with ASYNC deletion: a deleted topic stays visible
    for ``lag`` subsequent topics() polls (Kafka deletes are async)."""

    def __init__(self, topics=(), lag=0):
        self._topics = set(topics)
        self._pending = {}  # name -> polls remaining until it disappears
        self.lag = lag
        self.created = []  # (name, partitions, rf, configs)

    def topics(self):
        gone = [t for t, n in self._pending.items() if n <= 0]
        for t in gone:
            self._pending.pop(t)
            self._topics.discard(t)
        for t in self._pending:
            self._pending[t] -= 1
        return set(self._topics)

    def delete_topics(self, names):
        for n in names:
            if n in self._topics:
                self._pending[n] = self.lag

    def create_topic(self, name, partitions, replication_factor, configs):
        self._topics.add(name)
        self.created.append((name, partitions, replication_factor, configs))


def _admin(client):
    return KafkaTopicAdmin(client, delete_timeout=2.0, sleep=lambda s: None)


def test_delete_waits_out_async_deletion():
    client = FakeAdminClient(topics=["events", "other"], lag=3)
    assert _admin(client).delete_topics(["events"]) is True
    assert client.topics() == {"other"}


def test_delete_of_absent_topic_is_trivially_true():
    client = FakeAdminClient(topics=["other"])
    assert _admin(client).delete_topics(["events"]) is True


def test_delete_timeout_reports_failure():
    client = FakeAdminClient(topics=["events"], lag=10**9)
    admin = KafkaTopicAdmin(client, delete_timeout=0.05, sleep=lambda s: None)
    assert admin.delete_topics(["events"]) is False


def test_recreate_drops_then_creates_with_configs():
    client = FakeAdminClient(topics=["events"], lag=1)
    ok = _admin(client).recreate(
        ["events"],
        partitions=4,
        topic_configs={"events": {"cleanup.policy": "delete"}},
    )
    assert ok is True
    assert client.created == [("events", 4, 1, {"cleanup.policy": "delete"})]
    assert "events" in client.topics()


def test_resync_recreates_topic_and_aborts_on_failure(spark, sf_dir, tmp_path):
    """ReplicationManager.resync invokes the C4 hook between stop and
    backfill, and refuses to backfill if recreation fails."""
    import pytest

    from arango_clickhouse_replica_spark.sources.tables import load_table
    from arango_clickhouse_replica_spark.streaming import CdcPipeline
    from arango_clickhouse_replica_spark.streaming.manager import ReplicationManager

    target_dir = str(tmp_path / "target")

    class _Runner:
        name = "events"
        # a real pipeline (resync resets it); no stream is started
        pipeline = CdcPipeline(spark, target_dir=target_dir,
                               checkpoint_dir=str(tmp_path / "ckpt"),
                               keys=["event_id"])
        restarts = 3
        # declared topic shape must survive the recreate (ADVICE r4:
        # resync previously recreated with broker defaults)
        topic_partitions = 4
        topic_configs = {"cleanup.policy": "delete"}

        def stop(self):
            self.stopped = True

        def start(self):
            self.started = True

    snapshot = load_table(spark, "events", sf_dir).limit(10)

    client = FakeAdminClient(topics=["events"], lag=1)
    mgr = ReplicationManager(spark, topic_admin=_admin(client))
    runner = _Runner()
    mgr.add(runner)
    mgr.resync("events", snapshot)
    assert client.created and runner.started and runner.restarts == 0
    assert client.created == [("events", 4, 1, {"cleanup.policy": "delete"})]
    assert spark.read.parquet(target_dir).count() == 10

    stuck = FakeAdminClient(topics=["events"], lag=10**9)
    mgr2 = ReplicationManager(
        spark, topic_admin=KafkaTopicAdmin(stuck, delete_timeout=0.05,
                                          sleep=lambda s: None))
    runner2 = _Runner()
    mgr2.add(runner2)
    with pytest.raises(RuntimeError, match="topic recreation failed"):
        mgr2.resync("events", snapshot)
    assert not hasattr(runner2, "started")
