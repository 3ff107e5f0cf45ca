"""The ``replicate`` workload: the paper's CDC path, catch-up -> tail -> serve.

The envelope stream is ``synthetic_txn_envelopes`` over a seeded
``events`` table in which a share of the payloads is corrupted (a null
``event_type``), so the mapping rejects them into the dead-letter
directory; about one transaction in seven is never terminated. The
envelopes are cut into parquet files in WAL (tick) order at seeded cut
points, and each landed file gets a later mtime than the one before: the
file source orders files by mtime, and the transaction gate assumes WAL
order.

The stream runs through ``CdcPipeline`` with the full apply path:
``txn_atomic=True``, a ``TickGapMonitor``, a mapping shaped like the
engine's events mapping, a dead-letter directory, append mode and
merge-on-read. One file per trigger.

- Set-up builds the batch reference from the same files
  (``txn_atomic_split`` -> ``preprocess_envelopes`` -> mapping ->
  ``latest_alive``), starts the stream and applies the first files: the
  first micro-batches of a JVM run several times slower than later ones.
- Catch-up (closed loop): a landed backlog is drained; its wall time is
  the workload's ``pass_s``.
- Tail (open loop): files land on a fixed schedule at half the measured
  catch-up capacity; each file's freshness runs from its due time to the
  end of the micro-batch that applied it.
- Serve (closed loop, one client): rounds of ``latest_alive()`` reads
  against the many-small-file target (a count, a key lookup and a
  group-by), one round per 2 s of the given seconds, at least four,
  after two untimed warm-up rounds whose time counts as set-up.

Untimed checks afterwards: the final ``latest_alive()`` equals the batch
reference, the dead-letter rows equal the batch-rejected set, every serve
read returned the reference's answer, and re-running the last micro-batch
changes nothing.

Merge-on-write (``BucketedMergeSink``) is left out: it loses rows across
micro-batches (see ``mow_defect.py``), so a ``replicate_mow`` workload
waits for that fix.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.cdc import (
    latest_alive, preprocess_envelopes, txn_atomic_split)
from arango_clickhouse_replica_spark.schema.dsl import TableMapping, compile_mapping
from arango_clickhouse_replica_spark.sources.cdc_envelopes import synthetic_txn_envelopes
from arango_clickhouse_replica_spark.streaming.monitor import TickGapMonitor
from arango_clickhouse_replica_spark.streaming.pipeline import CdcPipeline

from compare import spark_rows
from tracing import median, pct

N_EVENTS = 4000
CORRUPT_FRAC = 0.03
TABLE_SIZES = {"events": N_EVENTS}
WARMUP_FILES = 3
BACKLOG_FILES = 8
TAIL_FILES = 3
WARMUP_READ_ROUNDS = 2
MIN_SERVE_ROUNDS = 4
# The timed work is sized from the run's seconds, not cut by the clock: a
# slow run then does the same work instead of fewer, earlier (slower,
# less warm) samples.
SERVE_ROUND_S = 2
KEYS = ["eid"]

MAPPING = TableMapping.from_dict(
    {
        "table_name": "events_replica",
        "schema": {
            "primary_key": ["eid"],
            "properties": {
                "eid": {"type": "int", "ref": "event_id"},
                "occurred": {"type": "from_datetime", "ref": "ts", "required": True},
                "kind": {"type": "str", "ref": "event_type", "required": True},
                "amount": {"type": "float", "ref": "value", "default": 0.0},
                "props_map": {"type": "decode_json", "ref": "props"},
                "tags": {"type": "to_array", "ref": "event_type"},
            },
        },
    }
)


def same_rows(a, b) -> bool:
    return spark_rows(a) == spark_rows(b)


def cut_files(spark, sf_dir: str, out_dir: str, n_files: int, rng) -> tuple:
    """Write the envelope stream as ``n_files`` parquet files in tick order.

    Cut points fall between distinct ticks (near-equal sizes, seeded
    jitter), so file i's max tick is below file i+1's min tick."""
    env = synthetic_txn_envelopes(spark, sf_dir)
    table = env.toArrow()
    table = table.take(pc.sort_indices(table, [("tick", "ascending")]))
    ticks = table["tick"].to_numpy()
    starts = np.flatnonzero(np.diff(ticks) > 0) + 1
    n = len(ticks)
    want = (np.arange(1, n_files) + rng.uniform(-0.3, 0.3, n_files - 1)) * n / n_files
    cuts = [0, *sorted({int(starts[np.abs(starts - w).argmin()]) for w in want}), n]
    if len(cuts) != n_files + 1:
        raise RuntimeError("envelope stream too short for the file count")
    os.makedirs(out_dir)
    files = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        if i and ticks[a - 1] >= ticks[a]:
            raise RuntimeError(f"file {i - 1} max tick is not below file {i} min tick")
        path = os.path.join(out_dir, f"{i:05d}.parquet")
        pq.write_table(table.slice(a, b - a), path)
        files.append((path, b - a))
    return env.schema, files


def _land(src: str, landing: str, mtime: float) -> None:
    """Make ``src`` appear in ``landing`` at once, with the given mtime."""
    os.utime(src, (mtime, mtime))
    os.link(src, os.path.join(landing, os.path.basename(src)))


def _batches(q) -> list:
    return sorted((p for p in q.recentProgress if p.numInputRows > 0),
                  key=lambda p: p.batchId)


def _wait_batches(q, n: int, timeout_s: float) -> list:
    """Wait until ``n`` micro-batches have read data. Polls only the last
    progress: reading the whole progress buffer often slows the stream."""
    deadline = time.time() + timeout_s
    while True:
        last = q.lastProgress
        if last is not None and last.batchId >= n - 1:
            done = _batches(q)
            if len(done) >= n:
                return done
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"no {n} micro-batches after {timeout_s:.0f} s")
        time.sleep(0.1)


def _batch_end(p) -> float:
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start + p.durationMs["triggerExecution"] / 1e3


def _count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


class Replicate:
    name = "replicate"

    def __init__(self, spark, tracer, work: str, sf_dir: str, seed: int,
                 seconds: int) -> None:
        self.spark, self.tr, self.seed, self.seconds = spark, tracer, seed, seconds
        self.sf_dir = sf_dir
        self.dirs = {k: os.path.join(work, k) for k in
                     ("files", "landing", "target", "checkpoint", "dead")}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}

    def _check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    # -- set-up (counted in setup_s) -----------------------------------------

    def prepare(self) -> None:
        rng = np.random.default_rng([self.seed, 7])
        self.schema, self.files = cut_files(
            self.spark, self.sf_dir, self.dirs["files"],
            WARMUP_FILES + BACKLOG_FILES + TAIL_FILES, rng)
        self.lookup_keys = [int(k) for k in rng.integers(0, N_EVENTS, 16)]
        self._reference()
        self.pipe = CdcPipeline(
            self.spark,
            target_dir=self.dirs["target"],
            checkpoint_dir=self.dirs["checkpoint"],
            keys=KEYS,
            mapping=MAPPING,
            dead_letter_dir=self.dirs["dead"],
            tick_monitor=TickGapMonitor(),
            txn_atomic=True,
        )
        os.makedirs(self.dirs["landing"])
        base = time.time() - 60
        for i, (path, _) in enumerate(self.files[:WARMUP_FILES]):
            _land(path, self.dirs["landing"], base + i)
        self.q = self.pipe.start(self.dirs["landing"], self.schema,
                                 available_now=False, max_files_per_trigger=1)
        _wait_batches(self.q, WARMUP_FILES, 120)

    def _reference(self) -> None:
        """The batch reference over every file. Traced, each layer's step
        is materialized on its own under a span."""
        def step(name: str, df):
            if not self.tr.enabled:
                return df
            df = df.cache()
            with self.tr.span(name, f"{self.name}/reference"):
                df.count()
            return df

        env = step("sources.read", self.spark.read.schema(self.schema).parquet(self.dirs["files"]))
        applyable = step("operators.cdc.txn_split", txn_atomic_split(env).applyable)
        rows = step("operators.cdc.preprocess", preprocess_envelopes(applyable))
        with self.tr.span("schema.dsl.compile"):
            compiled = compile_mapping(MAPPING, rows.schema)
        res = compiled.apply(rows, passthrough=["_ver", "_deleted"])
        self.valid = step("schema.dsl.apply", res.valid).cache()
        self.rejected = res.rejected.cache()
        self.ref = latest_alive(self.valid, KEYS).cache()
        n_valid, n_rejected = self.valid.count(), self.rejected.count()
        self.ref.count()
        for df in (env, applyable, rows):
            df.unpersist()
        self.layer["schema.dsl.rejected_frac"] = n_rejected / (n_valid + n_rejected)

    # -- timed phases ---------------------------------------------------------

    def run(self) -> dict:
        w, k, j = WARMUP_FILES, BACKLOG_FILES, TAIL_FILES
        q = self.q
        try:
            # Catch-up: the backlog lands at once while the stream idles.
            t0 = time.time()
            for i, (path, _) in enumerate(self.files[w:w + k]):
                _land(path, self.dirs["landing"], t0 - 1 + i / 100)
            done = _wait_batches(q, w + k, 120)
            catchup_s = _batch_end(done[w + k - 1]) - t0
            catchup_ms = [p.durationMs["triggerExecution"] for p in done[w:w + k]]
            # Tail: an open loop at half the catch-up capacity.
            interval = 2 * median(catchup_ms) / 1e3
            landed: list[tuple[float, float]] = []
            first_due = time.time()

            def generate() -> None:
                for i, (path, _) in enumerate(self.files[w + k:]):
                    due = first_due + i * interval
                    time.sleep(max(0.0, due - time.time()))
                    _land(path, self.dirs["landing"], time.time())
                    landed.append((due, time.time()))

            gen = threading.Thread(target=generate, name="tail-generator")
            gen.start()
            try:
                done = _wait_batches(q, w + k + j, j * interval + 120)
            finally:
                gen.join()
        finally:
            q.stop()
        self.run_id = str(q.runId)
        self.progress = done
        for p, (_, rows) in zip(done, self.files):
            self._check(p.numInputRows == rows, f"batch {p.batchId} read "
                        f"{p.numInputRows} rows, its file has {rows}")
        ends = [_batch_end(p) for p in done]
        fresh_ms = [(ends[w + k + i] - due) * 1e3 for i, (due, _) in enumerate(landed)]
        last_land = landed[-1][1]
        # The first reads after the stream run up to twice as slow: warm up
        # here; the time counts as set-up.
        warm_start = time.time()
        for i in range(WARMUP_READ_ROUNDS * len(self._reads())):
            self._read(i)
        warm_s = time.time() - warm_start
        serve_ms = self._serve()

        self.layer.update({
            "streaming.pipeline.batch_ms_p50": median(catchup_ms),
            "streaming.pipeline.batch_ms_p75": pct(catchup_ms, 0.75),
            "streaming.pipeline.catchup_eps":
                sum(r for _, r in self.files[w:w + k]) / catchup_s,
            "streaming.pipeline.freshness_ms_p50": median(fresh_ms),
            "streaming.pipeline.freshness_ms_p75": pct(fresh_ms, 0.75),
            **{f"serve.{kind}_ms": median(ms) for kind, ms in serve_ms.items()},
            "generator.late_ms_max": max((t - d) * 1e3 for d, t in landed),
            "generator.tail_backlog_files_end": sum(1 for e in ends[w + k:] if e > last_land),
        })
        return {"pass_s": catchup_s, "op_ms": serve_ms, "warm_s": warm_s}

    def _reads(self) -> list:
        alive = self.pipe.latest_alive
        return [
            ("count", lambda _: alive().count()),
            ("lookup", lambda key: [r.asDict(recursive=True) for r in
                                    alive().filter(F.col("eid") == key)
                                    .select("eid", "_ver", "kind", "amount").collect()]),
            ("group", lambda _: sorted(tuple(r) for r in
                                       alive().groupBy("kind").count().collect())),
        ]

    def _read(self, i: int) -> tuple[str, int, object]:
        """Read ``i`` of the round-robin over the serve reads."""
        reads = self._reads()
        name, fn = reads[i % len(reads)]
        key = self.lookup_keys[i // len(reads) % len(self.lookup_keys)]
        try:
            return name, key, fn(key)
        except Exception as e:  # a failed read counts, the run goes on
            return name, key, e

    def _serve(self) -> dict[str, list[float]]:
        """One round of reads per ``SERVE_ROUND_S`` of ``seconds``, at
        least ``MIN_SERVE_ROUNDS``; returns each read kind's latencies."""
        n_reads = len(self._reads())
        self.served: list[tuple[str, int, object]] = []
        lat: dict[str, list[float]] = {}
        rounds = max(MIN_SERVE_ROUNDS, self.seconds // SERVE_ROUND_S)
        for i in range(rounds * n_reads):
            t = time.time()
            with self.tr.span("serve.read", f"{self.name}/serve"):
                self.served.append(self._read(i))
            lat.setdefault(self.served[-1][0], []).append((time.time() - t) * 1e3)
        return lat

    # -- untimed checks -------------------------------------------------------

    def check(self) -> None:
        self._check(same_rows(self.pipe.latest_alive(), self.ref),
                    "latest_alive() differs from the batch reference")
        dead = self.spark.read.parquet(self.dirs["dead"]).drop("batch_id")
        self._check(self.rejected.count() > 0 and same_rows(dead, self.rejected),
                    "dead-letter rows differ from the batch-rejected set")
        self._check_serve()

        pending = self.pipe.pending()
        catchup = self.progress[WARMUP_FILES:WARMUP_FILES + BACKLOG_FILES]
        self.layer.update({
            "operators.cdc.versions_per_key":
                self.pipe.raw().count() / self.pipe.latest().count(),
            "operators.cdc.target_files": _count_files(self.dirs["target"]),
            "streaming.pipeline.batches": len(self.progress),
            "streaming.pipeline.pending_rows_end": pending.count() if pending is not None else 0,
            # The checkpoint's only parquet files are the txn pending buffer.
            "streaming.pipeline.pending_files_end": _count_files(self.dirs["checkpoint"]),
            "streaming.monitor.gaps": len(self.pipe.tick_monitor.gaps),
            "sources.input_rows": sum(p.numInputRows for p in self.progress),
            "sources.latest_offset_ms_p50": median(
                [p.durationMs.get("latestOffset", 0) for p in catchup]),
            "sources.get_batch_ms_p50": median(
                [p.durationMs.get("getBatch", 0) for p in catchup]),
            "streaming.pipeline.add_batch_ms_p50": median(
                [p.durationMs.get("addBatch", 0) for p in catchup]),
            "streaming.pipeline.wal_commit_ms_p50": median(
                [p.durationMs.get("walCommit", 0) for p in catchup]),
            "streaming.pipeline.planning_ms_p50": median(
                [p.durationMs.get("queryPlanning", 0) for p in catchup]),
        })
        if self.tr.enabled:
            self._trace_layers()
        self._check_replay(dead.count())

    def _trace_layers(self) -> None:
        tr, g = self.tr, f"{self.name}/layers"
        with tr.span("operators.cdc.latest_alive", g):
            latest_alive(self.pipe.raw(), KEYS).write.format("noop").mode("overwrite").save()
        # The monitor's separate min/max/count job, on each landed file.
        mon = TickGapMonitor()
        for i, (path, _) in enumerate(self.files):
            batch = self.spark.read.schema(self.schema).parquet(path)
            with tr.span("streaming.monitor.observe", g):
                mon.observe(batch, i)
        self.layer.update({
            "streaming.monitor.observe_ms_p50": median(tr.ms("streaming.monitor.observe")),
            "schema.dsl.compile_ms": sum(tr.ms("schema.dsl.compile")),
            "schema.dsl.apply_ms": sum(tr.ms("schema.dsl.apply")),
            "operators.cdc.preprocess_ms": sum(tr.ms("operators.cdc.preprocess")),
            "operators.cdc.txn_split_ms": sum(tr.ms("operators.cdc.txn_split")),
            "operators.cdc.latest_alive_ms": sum(tr.ms("operators.cdc.latest_alive")),
        })

    def _check_serve(self) -> None:
        ref = self.ref
        want_count = ref.count()
        want_group = sorted(tuple(r) for r in ref.groupBy("kind").count().collect())
        keys = sorted({key for name, key, _ in self.served if name == "lookup"})
        want_lookup = {key: [] for key in keys}
        for r in (ref.filter(F.col("eid").isin(keys))
                  .select("eid", "_ver", "kind", "amount").collect()):
            want_lookup[r.eid].append(r.asDict(recursive=True))
        for name, key, out in self.served:
            want = want_lookup[key] if name == "lookup" else (
                want_count if name == "count" else want_group)
            self._check(out == want, f"serve read {name}({key}) returned {out!r}")

    def _check_replay(self, n_dead: int) -> None:
        """Drop the last batch's commit and restart: Spark re-runs that
        batch with the same offsets, which must leave the served view
        and the dead letters unchanged."""
        last = self.progress[-1].batchId
        commits = os.path.join(self.dirs["checkpoint"], "commits")
        for name in (str(last), f".{last}.crc"):
            os.remove(os.path.join(commits, name))
        q = self.pipe.start(self.dirs["landing"], self.schema,
                            available_now=True, max_files_per_trigger=1)
        q.awaitTermination(120)
        rerun = [p for p in _batches(q) if p.batchId == last]
        self._check(bool(rerun) and rerun[0].numInputRows == self.progress[-1].numInputRows,
                    "restart did not re-run the last micro-batch")
        dead = self.spark.read.parquet(self.dirs["dead"]).drop("batch_id")
        self._check(same_rows(self.pipe.latest_alive(), self.ref) and dead.count() == n_dead,
                    "re-running the last micro-batch changed the replica")

    def spark_layers(self, stats) -> dict:
        """Per-batch job counters of the stream (its jobs run in the
        query's runId job group); returns the stream-wide summary."""
        stream = stats.summary(lambda r: r["group"] == self.run_id)
        n = len(self.progress)
        gaps = 0
        for p in self.progress:
            end = _batch_end(p) * 1e3 + 1
            start = end - p.durationMs["triggerExecution"] - 2
            gaps += stats.summary(lambda r: r["group"] == self.run_id
                                  and start <= r["submit"] <= end)["job_gap_ms"]
        self.layer.update({
            "streaming.pipeline.jobs_per_batch": stream["jobs"] / n,
            "streaming.pipeline.stages_per_batch": stream["stages"] / n,
            "streaming.pipeline.job_gap_ms_per_batch": gaps / n,
        })
        return stream
