"""Structured Streaming CDC pipeline (SURVEY §2.8, §3.5).

Collapses the reference's producer/consumer loops (WAL poll ->
Kafka -> per-table consumer thread -> bulk insert,
replication/producer/publisher.py:129-163 +
replication/consumer/loader.py:89-169) into one streaming query per
table:

    readStream (file or Kafka envelope source)
      -> foreachBatch: preprocess (P1-P3, D1/D2) [+ mapping DSL]
      -> write one part of the columnar target table

The target is a part log (operators/part_store.py) — exactly ClickHouse
ReplacingMergeTree's write path — and reads go through the
``latest_state``/``latest_alive`` merge-on-read views (M1/M2) over its
live parts. ``compact()`` rewrites the winners as one part (M3) under the
part store's crash-safe protocol.

What the checkpoint replaces (T2/T3/T6): the Redis ``last-tick`` token
(publisher.py:24-46), manual Kafka commits (loader.py:147-157), and the
replay/ack protocol (reader.py:37-60) — source offsets + the idempotent
version-dedup make redelivery a no-op. ``Trigger.AvailableNow`` is the
drain-and-stop backlog probe (S6, broker.py:25-32).

A table's state is three directories: the checkpoint (source offsets
and the transaction pending buffer), the target (the part store, or the
merge-on-write sink's directory) and the dead letters. ``reset`` is the
one place that knows them: it wipes all three and can load a snapshot
as the target's base, the whole of a resync (C3) once the stream stops.

Scale notes: the apply is narrow (no shuffle, no broadcast): with
``txn_atomic`` a micro-batch runs four jobs over the pinned batch, and
the monitor's metrics ride on them via ``DataFrame.observe``. The
terminator collect runs first; then the pending generation, the dead
letters and the target part are written at once, and the batch waits
for all three. Their order cannot change the result: each is a pure
function of the pinned batch and the pending generation before it, and
each overwrites only its own ``batch_id=N`` path, so a replay rewrites
whichever of them a crash left (the epoch-keyed idempotent sinks of
Structured Streaming). The pending generation is one file: it holds only
the transactions in flight at the batch cut, and as one file it adds
one task, not one per file, to every write that reads it. Appends are
partition-parallel; per-key ordering is irrelevant by design (M5)
because the merge is version-based, so arbitrary source parallelism is
safe — the reference needed 1 Kafka partition per topic for ordering; we
do not.

The Spark driver builds each batch's plan from PySpark calls, and every
Column built costs py4j round trips. So what depends only on the
envelope schema is built once per schema and pipeline (``_program``):
the preprocess predicate and projection, the compiled mapping with its
``_errors`` and valid/rejected predicates, and the ``_ver``/``_deleted``
passthrough. Per batch the Spark driver only composes frames over them,
and builds what depends on the batch's data: its observations, the
terminator membership sets, the pending-buffer read and the writes.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor, wait
from functools import partial
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.util import inheritable_thread_target

from ..operators.cdc import (
    DELETED_COL,
    VER_COL,
    collect_terminators,
    latest_alive,
    latest_state,
    preprocess_columns,
    txn_split_by,
)
from ..operators.part_store import PartStore, _footer_schema
from ..schema.dsl import CompiledMapping, TableMapping, compile_mapping
from .merge_sink import BucketedMergeSink
from .monitor import TickGapMonitor


class _Watch:
    """One micro-batch's ``DataFrame.observe`` metrics for the tick
    monitor. Each is filled by the first action over the frame it
    watches, so it costs no job of its own; read them after that action.
    A no-op when the pipeline has no monitor."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.obs: dict[str, Observation] = {}

    def __call__(self, df: DataFrame, name: str, metrics=None) -> DataFrame:
        if not self.enabled:
            return df
        self.obs[name] = Observation()
        return df.observe(self.obs[name], *(metrics or [F.count("*").alias("n")]))

    def get(self, name: str) -> dict:
        return self.obs[name].get

    def count(self, name: str) -> int:
        """A watched frame's row count; 0 if the batch wrote no such frame."""
        return self.get(name)["n"] if name in self.obs else 0


# The most writes a micro-batch runs: pending generation, dead letters,
# target part.
_MAX_WRITES = 3


class _BatchProgram(NamedTuple):
    """What a micro-batch's apply builds from its envelope schema: the
    preprocess predicate and projection, the compiled mapping and the
    ``_ver``/``_deleted`` columns it must pass through."""

    keep: Column
    projection: list[Column]
    mapping: CompiledMapping | None
    passthrough: list[str]


class CdcPipeline:
    """One replicated table: envelope stream in, latest-state views out."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        target_dir: str,
        checkpoint_dir: str,
        keys: Sequence[str],
        mapping: TableMapping | None = None,
        tracked_cuids: Sequence[str] | None = None,
        initial_tick: int | None = None,
        dead_letter_dir: str | None = None,
        tick_monitor: "TickGapMonitor | None" = None,
        merge_sink: "BucketedMergeSink | None" = None,
        txn_atomic: bool = False,
    ) -> None:
        self.spark = spark
        self.target_dir = target_dir
        self.checkpoint_dir = checkpoint_dir
        self.keys = list(keys)
        self.mapping = mapping
        self.tracked_cuids = tracked_cuids
        self.initial_tick = initial_tick
        self.dead_letter_dir = dead_letter_dir
        self.tick_monitor = tick_monitor
        self.merge_sink = merge_sink
        self.store = PartStore(target_dir)
        # r12 (VERDICT r11 item 5): apply on transaction boundaries — a
        # micro-batch never exposes part of a WAL transaction. Document
        # rows gate on their tid's terminator (2201/2202, reader.py:9-14);
        # unterminated rows persist in a pending buffer unioned into the
        # next batch. Requires `tid` on the envelope wire.
        self.txn_atomic = txn_atomic
        # Keyed by the raw batch schema. Per instance, never per module:
        # the Columns are handles in this session's JVM.
        self._programs: dict[T.StructType, _BatchProgram] = {}
        # Runs a batch's writes at once; built on first use and kept, as
        # in pinned-thread mode each new Python thread opens its own JVM
        # connection.
        self._pool: ThreadPoolExecutor | None = None

    # -- txn-atomic pending buffer -------------------------------------------

    def _pending_root(self) -> str:
        return os.path.join(self.checkpoint_dir, "txn_pending")

    def _pending_path(self, batch_id: int) -> str:
        return os.path.join(self._pending_root(), f"batch_id={batch_id}")

    def _pending_ids(self) -> list[int]:
        import pathlib

        root = pathlib.Path(self._pending_root())
        if not root.is_dir():
            return []
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in root.glob("batch_id=*")
            if p.is_dir()
        )

    def pending(self) -> DataFrame | None:
        """The rows currently deferred (latest pending generation)."""
        ids = self._pending_ids()
        if not ids:
            return None
        path = self._pending_path(ids[-1])
        # Spark wrote the generation, so its footer holds the schema:
        # reading with it runs no schema-inference job.
        return self.spark.read.schema(_footer_schema(path)).parquet(path)

    def _txn_gate(
        self, batch: DataFrame, schema: T.StructType, batch_id: int,
        watch: _Watch,
    ) -> tuple[DataFrame, DataFrame, list[int]]:
        """Union the pending buffer in and split on txn outcome. Returns
        the applyable rows, the new deferred set (to overwrite generation
        ``batch_id``) and the ids of the generations before it.

        The batch's terminators are collected first (one narrow job: the
        pending buffer holds document rows only), so the split is two
        membership filters and every write over it is one narrow job.
        The caller writes the deferred set alongside the batch's other
        writes, in any order: it depends only on the batch and
        generation ``prior[-1]``, which no write of this batch touches,
        and a retried batch rewrites the SAME generation. It is one
        partition, so one file: it holds only the transactions in flight
        at the batch cut, and the next batch reads it in one task."""
        terminators = collect_terminators(batch)
        prior = [i for i in self._pending_ids() if i < batch_id]
        if prior:
            # The buffer was written from earlier batches of this schema:
            # reading with it spares a footer-inference job per batch.
            batch = batch.unionByName(
                self.spark.read.schema(schema).parquet(
                    self._pending_path(prior[-1])
                ),
                allowMissingColumns=True,
            )
        split = txn_split_by(batch, terminators)
        return (
            split.applyable,
            watch(split.deferred.coalesce(1), "n_deferred"),
            prior,
        )

    def _prune_pending(self, prior: list[int], batch_id: int) -> None:
        """Drop generations older than batch_id-2, once generation
        ``batch_id`` is written: a foreachBatch retry only ever re-runs
        the latest batch, which reads generation ``prior[-1]``."""
        for i in prior[:-1]:
            if i < batch_id - 2:
                shutil.rmtree(self._pending_path(i), ignore_errors=True)

    # -- write path ---------------------------------------------------------

    def _program(self, batch: DataFrame, schema: T.StructType) -> _BatchProgram:
        """The columns for a batch of ``schema``, built on its first batch.
        A restart on an envelope schema that gained a field builds anew."""
        program = self._programs.get(schema)
        if program is None:
            keep, projection = preprocess_columns(
                tracked_cuids=self.tracked_cuids,
                initial_tick=self.initial_tick,
            )
            compiled, passthrough = None, []
            if self.mapping is not None:
                rows = batch.filter(keep).select(*projection)
                compiled = compile_mapping(self.mapping, rows.schema)
                # Re-attach _ver/_deleted when the mapping does not declare
                # them: without _ver, latest() raises; without _deleted,
                # latest_alive() silently stops filtering soft deletes.
                declared = {p.name for p in self.mapping.properties}
                passthrough = [c for c in (VER_COL, DELETED_COL)
                               if c not in declared]
            program = _BatchProgram(keep, projection, compiled, passthrough)
            self._programs[schema] = program
        return program

    def _run_writes(self, writes: list[Callable[[], None]]) -> None:
        """Run a batch's writes at once and wait for all of them, then
        raise the first one's error, if any: nothing may unpersist the
        batch under a live write, nor a write run on into a replay. The
        pool threads take the stream thread's local properties, so every
        write job is in the stream's job group (its ``runId``, which
        ``stop()`` cancels)."""
        if len(writes) == 1:
            writes[0]()
            return
        if self._pool is None:
            self._pool = ThreadPoolExecutor(
                _MAX_WRITES, thread_name_prefix="cdc-write"
            )
        inherit = inheritable_thread_target(self.spark)
        # With pinned-thread mode off PySpark returns the session itself:
        # no Python thread then owns JVM local properties to pass on.
        futures = [
            self._pool.submit(w if inherit is self.spark else inherit(w))
            for w in writes
        ]
        wait(futures)
        for f in futures:
            f.result()

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        # The batch feeds up to four actions (terminator collect, pending
        # write, dead-letter write, target write; or the merge sink's
        # bucket probe and write) — pin it so the source read + transform
        # run once, not once per action.
        multi_action = (
            self.mapping is not None and self.dead_letter_dir is not None
        ) or self.merge_sink is not None or self.txn_atomic
        # Keep the persisted handle in its own name: _txn_gate rebinds
        # `batch` to a derived frame, and unpersisting THAT is a no-op on
        # the pinned raw batch (a cache leak growing every micro-batch).
        raw = batch
        if multi_action:
            raw = batch.persist()
            batch = raw
        schema = batch.schema
        monitor = self.tick_monitor if "tick" in schema.names else None
        watch = _Watch(monitor is not None)
        try:
            program = self._program(batch, schema)
            if monitor is not None:
                # A2: tick-continuity metrics on the RAW batch (pre-filter
                # — txn markers occupy ticks too), publisher.py:140-141
                # analog, observed on the batch's first action.
                batch = watch(batch, "batch", monitor.metrics())
            writes: list[Callable[[], None]] = []
            prior = None
            if self.txn_atomic and "tid" in schema.names:
                batch, deferred, prior = self._txn_gate(
                    batch, schema, batch_id, watch
                )
                writes.append(partial(
                    deferred.write.mode("overwrite").parquet,
                    self._pending_path(batch_id),
                ))
            rows = batch.filter(program.keep).select(*program.projection)
            if program.mapping is not None:
                result = program.mapping.apply(rows, passthrough=program.passthrough)
                rows = result.valid
                if self.dead_letter_dir is not None:
                    # Idempotent per-batch path: a retried/replayed batch
                    # OVERWRITES its own dead letters instead of appending
                    # duplicates (rejected rows carry no _ver to dedup on).
                    writes.append(partial(
                        watch(result.rejected, "n_rejected").write.mode(
                            "overwrite"
                        ).parquet,
                        os.path.join(self.dead_letter_dir, f"batch_id={batch_id}"),
                    ))
            if self.merge_sink is not None:
                # merge-on-WRITE: versions resolved now, reads are plain scans
                writes.append(partial(self.merge_sink.apply_batch, rows, batch_id))
            else:
                # A replayed batch rewrites its own part: no duplicates.
                writes.append(partial(self.store.write_batch, rows, batch_id))
            self._run_writes(writes)
            if prior is not None:
                self._prune_pending(prior, batch_id)
            if monitor is not None:
                # After the writes: a batch that raised records nothing.
                m = watch.get("batch")
                monitor.record(
                    batch_id, m["mn"], m["mx"], m["n"],
                    n_rejected=watch.count("n_rejected"),
                    n_deferred=watch.count("n_deferred"),
                )
        finally:
            if multi_action:
                raw.unpersist()

    def start(
        self,
        envelope_dir: str,
        envelope_schema: T.StructType,
        *,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ) -> StreamingQuery:
        reader = self.spark.readStream.schema(envelope_schema)
        if max_files_per_trigger is not None:  # backpressure (T1/T4 analog)
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        trigger = {"availableNow": True} if available_now else {}
        return self._run(reader.parquet(envelope_dir), **trigger)

    def run_until_drained(self, envelope_dir: str, envelope_schema: T.StructType) -> None:
        q = self.start(envelope_dir, envelope_schema, available_now=True)
        q.awaitTermination()

    def start_kafka(
        self,
        *,
        bootstrap_servers: str,
        topics: str,
        data_schema: T.DataType,
        starting_offsets: str = "earliest",
        max_offsets_per_trigger: int | None = None,
        available_now: bool = False,
    ) -> StreamingQuery:
        """The production source: Kafka envelope topics (S5) through the
        same foreachBatch apply. Offsets checkpoint exactly like the file
        source; ``maxOffsetsPerTrigger`` is the poll-batch backpressure
        knob (settings.yaml:43 analog). Requires a reachable broker —
        construction is lazy, connection happens at start."""
        from ..sources.kafka import decode_envelopes, kafka_stream_reader

        raw = kafka_stream_reader(
            self.spark,
            bootstrap_servers=bootstrap_servers,
            topics=topics,
            starting_offsets=starting_offsets,
            max_offsets_per_trigger=max_offsets_per_trigger,
        ).load()
        stream = decode_envelopes(raw, data_schema).drop("key")
        trigger = {"availableNow": True} if available_now else {}
        return self._run(stream, **trigger)

    def start_wal(
        self,
        *,
        data_schema: T.DataType,
        wal_options: dict | None = None,
        collections: Sequence[str] | None = None,
        processing_time: str = "1 second",
    ) -> StreamingQuery:
        """The Kafka-free production source: the native ``arango_wal``
        streaming DataSource (sources/wal_datasource.py) feeding the same
        foreachBatch apply. WAL ticks are the checkpoint offsets, so this
        collapses the reference's producer + broker + consumer into ONE
        streaming query; the ``data`` JSON string parses into the typed
        document struct here (from_json + data_schema), after which the
        path is identical to the file/Kafka sources. The stream carries
        the transaction markers and ``tid``, so ``txn_atomic`` gates it
        as it does the others."""
        from ..sources.wal_datasource import wal_envelope_stream

        stream = wal_envelope_stream(
            self.spark, data_schema,
            wal_options=wal_options, collections=collections,
        )
        return self._run(stream, processingTime=processing_time)

    def _run(self, stream: DataFrame, **trigger) -> StreamingQuery:
        """Start ``stream`` through the micro-batch apply, its progress
        in the checkpoint; ``trigger`` is ``DataStreamWriter.trigger``'s
        (none: the default processing-time trigger)."""
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- read path (merge-on-read, M1/M2) -----------------------------------

    def raw(self) -> DataFrame:
        if self.merge_sink is not None:
            return self.merge_sink.read()
        # The target accumulates parts written across pipeline restarts;
        # when the source collection gained a field in between (schema
        # evolution), their footers disagree. read() merges the footer
        # schemas on the driver, so new columns surface (null-backfilled)
        # without a schema-inference job.
        raw = self.store.read(self.spark)
        if raw is None:
            raise ValueError(f"no committed part under {self.target_dir}")
        return raw

    def latest(self) -> DataFrame:
        """All winning versions, including soft-deleted rows."""
        if self.merge_sink is not None:
            return self.merge_sink.read()  # already merged at write time
        return latest_state(self.raw(), self.keys)

    def latest_alive(self) -> DataFrame:
        """The queryable latest-state table (soft deletes excluded)."""
        if self.merge_sink is not None:
            return self.merge_sink.read_alive()
        return latest_alive(self.raw(), self.keys)

    # -- maintenance (M3/K4, C3) --------------------------------------------

    def reset(self, snapshot: DataFrame | None = None) -> None:
        """Wipe the table's state: its checkpoint (source offsets, the
        transaction pending buffer), target and dead letters. Given a
        ``snapshot`` of the target's shape, load it as the target's base:
        the compacted part on merge-on-read (the restarted stream's
        ``batch_id=`` parts cannot overwrite it), through the sink on
        merge-on-write. Stop the stream first."""
        dirs = [self.checkpoint_dir, self.target_dir, self.dead_letter_dir]
        if self.merge_sink is not None:
            dirs.append(self.merge_sink.target_dir)
        for d in dirs:
            if d is not None:
                shutil.rmtree(d, ignore_errors=True)
        if snapshot is None:
            return
        if self.merge_sink is not None:
            self.merge_sink.apply_batch(snapshot, 0)
        else:
            self.store.compact(snapshot)

    def compact(self) -> None:
        """Rewrite the target keeping only winners (crash-safe, and a
        reader that resolved its parts before keeps them: see
        operators/part_store.py). Single writer: do not run while a
        micro-batch is being applied."""
        if self.merge_sink is not None:
            self.merge_sink.compact()
        else:
            self.store.compact(self.latest())
