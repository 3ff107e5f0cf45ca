"""Native arango_wal streaming DataSource (sources/wal_datasource.py):
end-to-end Structured Streaming against a scripted WAL server —
delivery, filtering, start position, mid-stream growth,
checkpoint-restart replay, transactions, and the bridge into the CDC
latest-state merge."""

import json
import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.sources.wal_datasource import register
from tests import wal_fake
from tests.test_arango_wal import _entry
from arango_clickhouse_replica_spark.sources.arango_wal import (
    ABORT_TRANSACTION,
    COMMIT_TRANSACTION,
    REMOVE_DOCUMENT,
    START_TRANSACTION,
    UPSERT_DOCUMENT,
)


def _reader(spark, wal_file, **opts):
    register(spark)
    r = (
        spark.readStream.format("arango_wal")
        .option("transportFactory", "tests.wal_fake:make_transport")
        .option("walFile", wal_file)
        .option("host", "scripted")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _drain(query, sink_df, want_rows, timeout_s=60):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if sink_df.count() >= want_rows:
            break
        time.sleep(0.3)
    query.stop()
    query.awaitTermination(30)


def test_stream_delivers_and_filters_envelopes(spark, tmp_path):
    entries = [
        _entry(1, cuid="c_a", v=1),
        {"tick": "2", "type": START_TRANSACTION, "db": "d", "cuid": None,
         "tid": "9", "data": None},
        _entry(3, cuid="c_b", v=3),
        {"tick": "4", "type": COMMIT_TRANSACTION, "db": "d", "cuid": None,
         "tid": "9", "data": None},
        _entry(5, typ=REMOVE_DOCUMENT, cuid="c_a"),
        _entry(6, cuid="c_ignored", v=6),
    ]
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, entries, page_size=2)
    df = _reader(spark, wal, collections="c_a,c_b")
    q = (
        df.writeStream.format("memory").queryName("wal_sink1")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    sink = spark.sql("SELECT * FROM wal_sink1")
    _drain(q, sink, want_rows=5)
    rows = {r.tick: r for r in sink.collect()}
    # the unwatched collection is gone; transaction markers (no cuid)
    # pass, for the pipeline's transaction gate
    assert set(rows) == {"1", "2", "3", "4", "5"}
    assert rows["5"].type == REMOVE_DOCUMENT
    assert json.loads(rows["1"].data)["v"] == 1


def test_stream_picks_up_mid_stream_writes(spark, tmp_path):
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_entry(1, v=1)], page_size=2)
    df = _reader(spark, wal)
    q = (
        df.writeStream.format("memory").queryName("wal_sink2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    sink = spark.sql("SELECT * FROM wal_sink2")
    _drain_until = time.monotonic() + 30
    while sink.count() < 1 and time.monotonic() < _drain_until:
        time.sleep(0.2)
    wal_fake.append_entries(wal, [_entry(2, v=2), _entry(3, v=3)])
    _drain(q, sink, want_rows=3)
    assert {r.tick for r in sink.collect()} == {"1", "2", "3"}


def test_checkpoint_restart_resumes_from_tick(spark, tmp_path):
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_entry(t, v=t) for t in (1, 2, 3, 4)],
                       page_size=2)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _file_query():
        # file sinks (unlike the memory sink) support checkpoint recovery
        return (
            _reader(spark, wal)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def _ticks():
        try:
            return {r.tick for r in spark.read.parquet(out).collect()}
        except Exception:
            return set()

    q = _file_query()
    deadline = time.monotonic() + 60
    while len(_ticks()) < 4 and time.monotonic() < deadline:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    assert _ticks() == {"1", "2", "3", "4"}

    # new writes land while the stream is DOWN; the restarted stream must
    # resume from the checkpointed tick and deliver exactly the new range
    # once (no re-delivery of 1-4)
    wal_fake.append_entries(wal, [_entry(5, v=5), _entry(6, v=6)])
    q2 = _file_query()
    deadline = time.monotonic() + 60
    while len(_ticks()) < 6 and time.monotonic() < deadline:
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(30)
    rows = spark.read.parquet(out).collect()
    assert {r.tick for r in rows} == {"1", "2", "3", "4", "5", "6"}
    assert len(rows) == 6  # exactly-once: nothing re-delivered


def test_bridge_into_cdc_latest_state(spark, tmp_path):
    """WAL source -> from_json -> version-dedup merge: the full
    replication path with no Kafka/file hop."""
    entries = [
        _entry(10, cuid="c_events", k="a", v=1),
        _entry(20, cuid="c_events", k="a", v=2),   # update wins by tick
        _entry(30, cuid="c_events", k="b", v=9),
        _entry(40, typ=REMOVE_DOCUMENT, cuid="c_events", k="b"),  # delete
    ]
    # _entry synthesizes _key = f"{k}{tick}"; re-key to stable doc keys
    for e, key in zip(entries, ("a", "a", "b", "b")):
        e["data"]["_key"] = key
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, entries, page_size=2)
    df = _reader(spark, wal, collections="c_events")
    parsed = df.select(
        F.col("tick").cast("long").alias("_ver"),
        (F.col("type") == REMOVE_DOCUMENT).cast("int").alias("_deleted"),
        F.get_json_object("data", "$._key").alias("key"),
        F.get_json_object("data", "$.v").cast("long").alias("v"),
    )
    q = (
        parsed.writeStream.format("memory").queryName("wal_sink4")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    sink = spark.sql("SELECT * FROM wal_sink4")
    _drain(q, sink, want_rows=4)
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(F.desc("_ver"))
    latest = (
        sink.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND _deleted = 0")
        .select("key", "v")
    )
    assert {(r.key, r.v) for r in latest.collect()} == {("a", 2)}


def test_cdc_pipeline_runs_on_native_wal_source(spark, tmp_path):
    """CdcPipeline.start_wal: the full replication engine fed directly by
    the native WAL source — typed parse, preprocess, append, merge-on-read
    latest-alive view — with no Kafka or file hop."""
    from pyspark.sql import types as T

    from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

    entries = [
        _entry(10, cuid="c_events", k="a", v=1),
        _entry(20, cuid="c_events", k="a", v=2),
        _entry(30, cuid="c_events", k="b", v=9),
        _entry(40, typ=REMOVE_DOCUMENT, cuid="c_events", k="b"),
        _entry(50, cuid="c_other", k="x", v=7),  # unwatched collection
    ]
    for e, key in zip(entries, ("a", "a", "b", "b", "x")):
        e["data"]["_key"] = key
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, entries, page_size=2)

    data_schema = T.StructType([
        T.StructField("_key", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["_key"],
        tracked_cuids=["c_events"],
        initial_tick=0,
    )
    q = pipe.start_wal(
        data_schema=data_schema,
        wal_options={
            "transportFactory": "tests.wal_fake:make_transport",
            "walFile": wal,
            "host": "scripted",
        },
        collections=["c_events", "c_other"],
        processing_time="200 milliseconds",
    )
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        try:
            if pipe.raw().count() >= 4:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)
    # tracked_cuids drops c_other INSIDE the pipeline's preprocess;
    # latest-alive collapses versions and the delete
    alive = {(r._key, r.v) for r in pipe.latest_alive().select("_key", "v").collect()}
    assert alive == {("a", 2)}


def test_wal_to_latest_state_survives_restart_end_to_end(spark, tmp_path):
    """The full chain, restart-spanning (r4 verdict item #2): scripted
    server pages ticks including upsert-then-update and upsert-then-delete
    per key -> native arango_wal source -> CdcPipeline.start_wal ->
    append target -> latest_alive merge view; the query is KILLED
    mid-stream, more ticks land while it is down, and the restarted query
    (same checkpoint) must resume from its tick so the final latest state
    equals a brute-force driver-side apply of the complete envelope list.
    End-to-end mirror of the reference's ack/replay test
    (reference/test/test_producer.py:28-58), driven through every layer
    at once instead of per-layer."""
    from pyspark.sql import types as T

    from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

    # phase 1 ticks: a v1, a v2 (update wins), b v9, d v4
    # phase 2 ticks (land while the stream is DOWN): b deleted, c v5,
    #   d v6 (update), e v7 then e deleted, + an unwatched-collection row
    phase1 = [
        _entry(10, cuid="c_events", k="a", v=1),
        _entry(20, cuid="c_events", k="a", v=2),
        _entry(30, cuid="c_events", k="b", v=9),
        _entry(40, cuid="c_events", k="d", v=4),
    ]
    phase2 = [
        _entry(50, typ=REMOVE_DOCUMENT, cuid="c_events", k="b"),
        _entry(60, cuid="c_events", k="c", v=5),
        _entry(70, cuid="c_events", k="d", v=6),
        _entry(80, cuid="c_events", k="e", v=7),
        _entry(90, typ=REMOVE_DOCUMENT, cuid="c_events", k="e"),
        _entry(95, cuid="c_other", k="z", v=99),
    ]
    for e, key in zip(phase1 + phase2,
                      ("a", "a", "b", "d", "b", "c", "d", "e", "e", "z")):
        e["data"]["_key"] = key
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, phase1, page_size=2)

    data_schema = T.StructType([
        T.StructField("_key", T.StringType()),
        T.StructField("v", T.LongType()),
    ])

    def _pipe():
        return CdcPipeline(
            spark,
            target_dir=str(tmp_path / "target"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            keys=["_key"],
            tracked_cuids=["c_events"],
            initial_tick=0,
        )

    def _start(pipe):
        return pipe.start_wal(
            data_schema=data_schema,
            wal_options={
                "transportFactory": "tests.wal_fake:make_transport",
                "walFile": wal,
                "host": "scripted",
            },
            collections=["c_events", "c_other"],
            processing_time="200 milliseconds",
        )

    def _rows(pipe):
        try:
            return pipe.raw().count()
        except Exception:
            return 0

    pipe = _pipe()
    q = _start(pipe)
    deadline = time.monotonic() + 60
    while _rows(pipe) < 4 and time.monotonic() < deadline:
        time.sleep(0.3)
    q.stop()  # kill mid-stream
    q.awaitTermination(30)
    assert _rows(pipe) == 4

    # changes land while the replica is down
    wal_fake.append_entries(wal, phase2)

    pipe2 = _pipe()
    q2 = _start(pipe2)
    deadline = time.monotonic() + 60
    while _rows(pipe2) < 9 and time.monotonic() < deadline:
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(30)
    # exactly-once across the restart: 9 tracked envelopes, no re-delivery
    assert _rows(pipe2) == 9

    # brute-force driver-side apply of the COMPLETE envelope list
    state: dict = {}
    for e in phase1 + phase2:
        if e["cuid"] != "c_events":
            continue
        k = e["data"]["_key"]
        prev = state.get(k)
        if prev is None or int(e["tick"]) > prev[0]:
            state[k] = (int(e["tick"]), e["type"] == REMOVE_DOCUMENT,
                        e["data"].get("v"))
    want = {(k, v) for k, (_, deleted, v) in state.items() if not deleted}

    got = {(r._key, r.v)
           for r in pipe2.latest_alive().select("_key", "v").collect()}
    assert got == want == {("a", 2), ("c", 5), ("d", 6)}


def test_replay_terminates_against_stuck_server():
    """readBetweenOffsets must not spin when a misbehaving server keeps
    answering check_more=true with last_included == cursor (ADVICE r4:
    forward-progress guard). No Spark needed — the reader is plain
    Python driver-side."""
    from arango_clickhouse_replica_spark.sources.wal_datasource import (
        ArangoWalSimpleStreamReader,
    )

    reader = ArangoWalSimpleStreamReader({
        "transportfactory": "tests.wal_fake:make_stuck_transport",
        "host": "scripted",
    })
    rows = list(reader.readBetweenOffsets({"tick": "0"}, {"tick": "100"}))
    assert rows == []  # terminated, served nothing — did not hang


def test_replicate_cli_wal_mode(spark, tmp_path, monkeypatch):
    """tools/replicate.py --wal-url end to end against the scripted
    server: argv parsing, url -> config, pipeline construction, bounded
    run, and the resulting latest-state target."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import tools.replicate as replicate

    entries = [
        _entry(10, cuid="events", k="a", v=1),
        _entry(20, cuid="events", k="a", v=2),
        _entry(30, typ=REMOVE_DOCUMENT, cuid="events", k="c"),
    ]
    for e, key in zip(entries, ("a", "a", "c")):
        e["data"]["_key"] = key
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, entries, page_size=2)

    monkeypatch.setenv("ARANGO_WAL_TRANSPORT_FACTORY",
                       "tests.wal_fake:make_transport")
    monkeypatch.setenv("ARANGO_WAL_FILE", wal)
    monkeypatch.setattr(
        sys, "argv",
        ["replicate.py", "--tables", "events",
         "--state-root", str(tmp_path / "state"),
         "--wal-url", "http://scripted:8529/_system",
         "--data-schema", "_key string, v long", "--drain",
         "--failure-log", str(tmp_path / "alerts" / "failures.jsonl")],
    )
    replicate.main()

    # --failure-log wired the C7 listener (it eagerly creates the log dir;
    # nothing failed in this run, so the log itself stays empty/absent)
    assert (tmp_path / "alerts").is_dir()

    target = spark.read.parquet(str(tmp_path / "state" / "events" / "target"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("_key").orderBy(F.desc("_ver"))
    alive = (
        target.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND _deleted = 0")
        .select("_key", "v")
    )
    assert {(r._key, r.v) for r in alive.collect()} == {("a", 2)}


def test_replicate_cli_wal_mode_gates_transactions(spark, tmp_path, monkeypatch):
    """The CLI's pipelines apply on transaction boundaries: the two
    documents of the aborted tid 7 never reach the target, the document
    outside any transaction (tid "0") does."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import tools.replicate as replicate

    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [
        _doc(1, "b", 2, tid="7"),
        _doc(2, "c", 3, tid="7"),
        _marker(3, ABORT_TRANSACTION, "7"),
        _doc(4, "a", 1),
    ], page_size=2)
    monkeypatch.setenv("ARANGO_WAL_TRANSPORT_FACTORY",
                       "tests.wal_fake:make_transport")
    monkeypatch.setenv("ARANGO_WAL_FILE", wal)
    state = tmp_path / "state" / "c_events"
    monkeypatch.setattr(
        sys, "argv",
        ["replicate.py", "--tables", "c_events",
         "--state-root", str(tmp_path / "state"),
         "--wal-url", "http://scripted:8529/_system",
         "--data-schema", "_key string, v long", "--drain"],
    )
    replicate.main()

    from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, target_dir=str(state / "target"),
                       checkpoint_dir=str(state / "ckpt"), keys=["_key"])
    assert _alive(pipe) == {("a", 1)}


def _memory_query(df, name, tmp_path):
    return (
        df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )


def test_start_tick_delivers_only_later_ticks(spark, tmp_path):
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_entry(t, v=t) for t in (1, 2, 3, 4, 5)],
                       page_size=2)
    q = _memory_query(_reader(spark, wal, startTick="3"), "wal_sink5",
                      tmp_path)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    ticks = {r.tick for r in spark.sql("SELECT * FROM wal_sink5").collect()}
    assert ticks == {"4", "5"}


def test_from_latest_delivers_only_later_writes(spark, tmp_path):
    """fromLatest=true starts at the server's head tick when the query
    first starts: history before it belongs to the snapshot."""
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_entry(1, v=1), _entry(2, v=2)], page_size=2)
    q = _memory_query(_reader(spark, wal, fromLatest="true"), "wal_sink6",
                      tmp_path)
    # the first trigger has taken the head tick (2) as its start
    deadline = time.monotonic() + 60
    while q.lastProgress is None and time.monotonic() < deadline:
        time.sleep(0.1)
    assert q.lastProgress is not None
    wal_fake.append_entries(wal, [_entry(3, v=3), _entry(4, v=4)])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    ticks = {r.tick for r in spark.sql("SELECT * FROM wal_sink6").collect()}
    assert ticks == {"3", "4"}


# -- CdcPipeline.start_wal: replay and transactions -------------------------

_DOC_SCHEMA = T.StructType([
    T.StructField("_key", T.StringType()),
    T.StructField("v", T.LongType()),
])


def _doc(tick, key, v, tid="0"):
    e = _entry(tick, cuid="c_events", v=v)
    e["data"]["_key"] = key
    e["tid"] = tid
    return e


def _marker(tick, typ, tid):
    return {"tick": str(tick), "type": typ, "db": "testdb", "cuid": None,
            "tid": tid, "data": None}


def _start_pipe(spark, tmp_path, wal, txn_atomic=False):
    from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["_key"],
        tracked_cuids=["c_events"],
        txn_atomic=txn_atomic,
    )
    q = pipe.start_wal(
        data_schema=_DOC_SCHEMA,
        wal_options={
            "transportFactory": "tests.wal_fake:make_transport",
            "walFile": wal,
            "host": "scripted",
        },
        collections=["c_events"],
        processing_time="200 milliseconds",
    )
    return pipe, q


def _alive(pipe):
    return {(r._key, r.v)
            for r in pipe.latest_alive().select("_key", "v").collect()}


def _pending_keys(pipe):
    pending = pipe.pending()
    return set() if pending is None else {
        r.data["_key"] for r in pending.collect()}


def test_restart_rereads_last_batch_between_offsets(spark, tmp_path):
    """Drop the last batch's commit (as perfbench's replay check does)
    and restart: Spark re-runs that batch from the offsets it logged,
    through readBetweenOffsets, so it reads the same ticks and leaves
    the served view unchanged."""
    entries = [_doc(t, k, t) for t, k in
               zip((10, 20, 30, 40, 50, 60), "abcabd")]
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, entries, page_size=2)
    pipe, q = _start_pipe(spark, tmp_path, wal)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert [p.numInputRows for p in batches] == [2, 2, 2]
    last = batches[-1].batchId
    part = str(tmp_path / "target" / f"batch_id={last}")

    def part_ticks():
        return sorted(r._ver for r in spark.read.parquet(part).collect())

    assert part_ticks() == [50, 60]
    before = _alive(pipe)
    assert before == {("a", 40), ("b", 50), ("c", 30), ("d", 60)}

    commits = str(tmp_path / "ckpt" / "commits")
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    # One entry per page now: a re-run that fetched a fresh page from its
    # start tick would read (40, 50] only.
    wal_fake.write_wal(wal, entries, page_size=1)
    pipe2, q2 = _start_pipe(spark, tmp_path, wal)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)
    rerun = [p for p in q2.recentProgress if p.batchId == last]
    assert rerun and rerun[0].numInputRows == 2
    assert part_ticks() == [50, 60]
    assert _alive(pipe2) == before


def test_wal_aborted_transaction_never_applies(spark, tmp_path):
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [
        _doc(1, "a", 1),
        _doc(2, "b", 2, tid="7"),
        _doc(3, "c", 3, tid="7"),
        _marker(4, ABORT_TRANSACTION, "7"),
    ], page_size=2)
    pipe, q = _start_pipe(spark, tmp_path, wal, txn_atomic=True)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    assert _alive(pipe) == {("a", 1)}
    assert _pending_keys(pipe) == set()


def test_wal_transaction_applies_with_its_commit_page(spark, tmp_path):
    """Rows of tid 7 arrive on two tail pages before its COMMIT: none of
    them is served until the batch that reads the COMMIT applies."""
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [
        _doc(1, "a", 1),
        _doc(2, "b", 2, tid="7"),
        _doc(3, "c", 3, tid="7"),
    ], page_size=2)
    pipe, q = _start_pipe(spark, tmp_path, wal, txn_atomic=True)
    try:
        q.processAllAvailable()
        assert _alive(pipe) == {("a", 1)}
        assert _pending_keys(pipe) == {"b", "c"}
        wal_fake.append_entries(wal, [_marker(4, COMMIT_TRANSACTION, "7")])
        q.processAllAvailable()
        assert _alive(pipe) == {("a", 1), ("b", 2), ("c", 3)}
        assert _pending_keys(pipe) == set()
    finally:
        q.stop()
        q.awaitTermination(30)


def test_wal_document_outside_transaction_applies_in_its_batch(spark, tmp_path):
    """Arango writes tid "0" on an operation outside any transaction: it
    applies in the batch that reads it, while the open tid 7 beside it
    waits."""
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_doc(1, "a", 1), _doc(2, "b", 2, tid="7")],
                       page_size=2)
    pipe, q = _start_pipe(spark, tmp_path, wal, txn_atomic=True)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    assert [p.numInputRows for p in q.recentProgress
            if p.numInputRows > 0] == [2]
    assert _alive(pipe) == {("a", 1)}
    assert _pending_keys(pipe) == {"b"}
