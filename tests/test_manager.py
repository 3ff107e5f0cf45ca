"""Control-plane tests: supervised per-table queries (status / restart
policy) and full-resync orchestration."""

import os
import sys
import time
from pathlib import Path

import pytest
import yaml
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.cdc import latest_alive, preprocess_envelopes
from arango_clickhouse_replica_spark.schema.dsl import TableMapping, apply_mapping
from arango_clickhouse_replica_spark.sources.cdc_envelopes import synthetic_event_envelopes
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.manager import (
    ReplicationManager,
    RestartPolicy,
    TableRunner,
)
from arango_clickhouse_replica_spark.streaming.merge_sink import BucketedMergeSink


def _runner(spark, sf_dir, tmp_path, merge_on_write=False):
    env_dir = str(tmp_path / "env")
    os.makedirs(env_dir)
    env = synthetic_event_envelopes(spark, sf_dir)
    env.write.mode("append").parquet(env_dir)
    target = str(tmp_path / "target")
    pipe = CdcPipeline(
        spark,
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["event_id"],
        initial_tick=0,
        merge_sink=BucketedMergeSink(spark, target, keys=["event_id"], n_buckets=4)
        if merge_on_write else None,
    )
    return TableRunner(
        name="events",
        pipeline=pipe,
        envelope_dir=env_dir,
        envelope_schema=env.schema,
        policy=RestartPolicy(max_restarts=2, min_up_time_s=0.0, restart_delay_s=0.0),
    )


@pytest.fixture
def runner(spark, sf_dir, tmp_path):
    return _runner(spark, sf_dir, tmp_path)


def _wait_for_rows(pipe, timeout=60):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            if pipe.raw().count() > 0:
                return True
        except Exception:
            pass
        time.sleep(0.5)
    return False


def test_runner_status_and_stop(spark, runner):
    runner.start()
    try:
        assert _wait_for_rows(runner.pipeline)
        st = runner.status()
        assert st["table"] == "events" and st["active"]
    finally:
        runner.stop()
    assert not runner.status()["active"]


def test_supervisor_restarts_dead_query(spark, runner):
    runner.start()
    try:
        assert _wait_for_rows(runner.pipeline)
        runner.query.stop()  # simulated crash
        assert runner.supervise_once()  # restarted
        assert runner.status()["active"]
        assert runner.restarts in (0, 1)
        # give up after max_restarts consecutive fast deaths
        runner.policy.min_up_time_s = 1e9  # uptime never counts as healthy
        runner.query.stop()
        assert runner.supervise_once()
        runner.query.stop()
        assert not runner.supervise_once()  # cap reached
    finally:
        runner.stop()


@pytest.mark.parametrize("merge_on_write", [False, True],
                         ids=["merge_on_read", "merge_on_write"])
def test_resync_rebuilds_and_restarts(spark, sf_dir, tmp_path, merge_on_write):
    runner = _runner(spark, sf_dir, tmp_path, merge_on_write)
    mgr = ReplicationManager(spark)
    mgr.add(runner)
    mgr.start_all()
    try:
        assert _wait_for_rows(runner.pipeline)
        before = runner.pipeline.latest_alive().count()

        # snapshot = the preprocessed envelopes themselves (schema match)
        snap = preprocess_envelopes(
            spark.read.schema(runner.envelope_schema).parquet(runner.envelope_dir),
            initial_tick=0,
        )
        mgr.resync("events", snap)
        assert _wait_for_rows(runner.pipeline)
        assert runner.status()["active"]
        after = runner.pipeline.latest_alive().count()
        assert after == before  # snapshot ∪ replay collapses to the same state
    finally:
        mgr.stop_all()


# ---------------------------------------------------------------------------
# A table's state is its checkpoint, target and dead letters: a resync (the
# manager's or the CLI's --resync) resets all three
# ---------------------------------------------------------------------------

_ENV = "tick long, type int, cuid string, data struct<event_id: long, value: double>"

_MAPPING_DICT = {
    "table_name": "events",
    "schema": {
        "primary_key": ["eid"],
        "properties": {
            "eid": {"type": "int", "ref": "event_id"},
            "v": {"type": "float", "ref": "value", "required": True},
            "_ver": {"type": "int"},
            "_deleted": {"type": "int"},
        },
    },
}
_MAPPING = TableMapping.from_dict(_MAPPING_DICT)

# One envelope file per batch: each upserts a key and has one row the
# mapping rejects (value is required); later files update key 0, the
# last removes key 2.
_FILES = [
    [(1, 2300, "c1", (0, 0.0)), (2, 2300, "c1", (1, None))],
    [(3, 2300, "c1", (2, 2.0)), (4, 2300, "c1", (3, None)),
     (5, 2300, "c1", (0, 10.0))],
    [(6, 2300, "c1", (4, 4.0)), (7, 2300, "c1", (5, None)),
     (8, 2300, "c1", (0, 20.0))],
    [(9, 2300, "c1", (6, 6.0)), (10, 2300, "c1", (7, None)),
     (11, 2302, "c1", (2, 2.0))],
]


def _land(spark, env_dir, files):
    for rows in files:
        spark.createDataFrame(rows, _ENV).coalesce(1).write.mode("append").parquet(env_dir)


def _mapped(spark, env_dir):
    """The batch reference of the envelopes landed so far: preprocess,
    then the mapping's valid rows."""
    return apply_mapping(preprocess_envelopes(spark.read.parquet(env_dir)), _MAPPING).valid


def _served(df):
    return sorted(tuple(r) for r in df.select("eid", "v", "_ver").collect())


def _dead_keys(spark, dead_dir):
    return sorted(r.event_id for r in spark.read.parquet(dead_dir).collect())


def test_resync_drops_previous_epoch_dead_letters(spark, tmp_path):
    """The restarted stream numbers its batches from 0 again: a
    dead-letter part the previous epoch wrote under a later batch id
    must not survive beside the new epoch's."""
    env_dir, dead = str(tmp_path / "env"), str(tmp_path / "dead")
    _land(spark, env_dir, _FILES)
    schema = spark.read.parquet(env_dir).schema
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["eid"],
        mapping=_MAPPING,
        dead_letter_dir=dead,
    )
    pipe.start(env_dir, schema, max_files_per_trigger=1).awaitTermination()
    assert len(os.listdir(dead)) >= len(_FILES)  # one part per batch
    before = _served(pipe.latest_alive())

    mgr = ReplicationManager(spark)
    runner = TableRunner("events", pipe, env_dir, schema)
    mgr.add(runner)
    mgr.resync("events", _mapped(spark, env_dir))
    try:
        runner.query.processAllAvailable()
    finally:
        mgr.stop_all()
    assert _dead_keys(spark, dead) == [1, 3, 5, 7]
    assert _served(pipe.latest_alive()) == before


def test_replicate_cli_envelope_mode(spark, tmp_path, monkeypatch):
    """tools/replicate.py over envelope dirs: two --drain runs (two
    batches of one checkpoint), then --resync --drain on the same state
    root. After each, the served view equals the batch reference and the
    dead letters hold each rejected row once."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import tools.replicate as replicate

    env_root, state, tables = tmp_path / "env", tmp_path / "state", tmp_path / "tables"
    env_dir = str(env_root / "events")
    tables.mkdir()
    (tables / "events.yaml").write_text(yaml.safe_dump(_MAPPING_DICT))

    def run(*extra, rejected):
        monkeypatch.setattr(sys, "argv", [
            "replicate.py", "--tables", "events", "--keys", "eid",
            "--envelope-root", str(env_root), "--mappings", str(tables),
            "--state-root", str(state), "--drain", *extra])
        replicate.main()
        served = CdcPipeline(spark, target_dir=str(state / "events" / "target"),
                             checkpoint_dir=str(state / "events" / "ckpt"),
                             keys=["eid"]).latest_alive()
        assert _served(served) == _served(latest_alive(_mapped(spark, env_dir), ["eid"]))
        assert _dead_keys(spark, str(state / "events" / "dead")) == rejected

    _land(spark, env_dir, _FILES[:2])
    run(rejected=[1, 3])
    _land(spark, env_dir, _FILES[2:])
    run(rejected=[1, 3, 5, 7])
    run("--resync", rejected=[1, 3, 5, 7])


# ---------------------------------------------------------------------------
# C7 analogue: failure records on induced crash (streaming/alerts.py)
# ---------------------------------------------------------------------------


def test_listener_records_failure_on_induced_crash(spark, tmp_path):
    from arango_clickhouse_replica_spark.streaming.alerts import FailureLog

    mgr = ReplicationManager(spark)
    log_path = str(tmp_path / "failures.jsonl")
    notified = []
    listener = mgr.attach_alerts(log_path, notifiers=[notified.append])
    try:
        src = str(tmp_path / "src")
        spark.range(10).write.parquet(src)

        def boom(it):
            raise RuntimeError("induced crash for alert test")
            yield  # pragma: no cover

        q = (
            spark.readStream.schema("id long").parquet(src)
            .mapInPandas(boom, "id long")
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination()

        deadline = time.monotonic() + 30
        records = []
        while time.monotonic() < deadline:
            records = [r for r in FailureLog(log_path).records() if r["failed"]]
            if records:
                break
            time.sleep(0.5)
        assert records, "no failure record captured"
        rec = records[0]
        assert rec["event"] == "query_terminated"
        assert rec["run_id"] == str(q.runId)
        assert "induced crash" in (rec["exception"] or "")
        assert notified and notified[0]["run_id"] == rec["run_id"]
    finally:
        spark.streams.removeListener(listener)


def test_smtp_notifier_gate_and_transport():
    from arango_clickhouse_replica_spark.streaming.alerts import (
        MailConfig,
        smtp_notifier,
    )

    sent = []

    def fake_transport(cfg, subject, body):
        sent.append((cfg.host, subject, body))
        return {}

    record = {"event": "query_terminated", "query_id": "q1", "failed": True}
    # disabled: returns False, transport never touched (mailer.py:26-27)
    off = smtp_notifier(MailConfig(enabled=False), transport=fake_transport)
    assert off(record) is False and sent == []
    # enabled: transport called with the record serialized into the body
    on = smtp_notifier(
        MailConfig(host="mx", enabled=True, to=("ops@example.com",)),
        transport=fake_transport,
    )
    assert on(record) == {}
    assert sent[0][0] == "mx" and "q1" in sent[0][1] and "q1" in sent[0][2]
