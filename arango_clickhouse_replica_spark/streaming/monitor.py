"""Data-loss monitoring on the envelope stream (SURVEY §2.10 A2).

The reference's only data-loss alarm: after asking the WAL tail to resume
from ``last_tick``, it logs ``'ticks lost asked for X but got Y'`` when
the server no longer holds that position
(``/root/reference/replication/producer/publisher.py:140-141`` — the
``from_present`` flag). The Spark analog watches the envelope stream's
tick range per micro-batch: if a batch starts past the last position we
processed (+1), the ticks in between were lost upstream (WAL truncation,
envelope files deleted, broker retention).

The check needs the batch's min and max ``tick`` and its row count,
taken on the RAW envelope batch before op-type filtering (transaction
markers 2200/2201/2202 occupy ticks too, so the raw stream is where tick
space is dense). ``CdcPipeline`` observes them (``DataFrame.observe``)
on the batch's first action instead of running a job of its own, and
calls ``record`` once the batch is applied: the alarm fires after the
batch's writes, and a batch whose write raises records nothing, so a
failed-and-retried batch is counted once. ``observe`` is the standalone
probe: one aggregate job over a given batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TickGap:
    batch_id: int
    expected_from: int  # last processed tick + 1
    observed_from: int  # first tick the batch actually delivered
    missing: int        # ticks lost in between


@dataclass(frozen=True)
class BatchProgress:
    """One micro-batch's progress record — the analog of the reference's
    per-batch log line ``'processed {tick_start}-{last_included}: overall
    {N} docs'`` (publisher.py:155-156)."""

    batch_id: int
    tick_from: int
    tick_to: int
    n_envelopes: int
    n_rejected: int = 0  # rows written to the dead letters
    n_deferred: int = 0  # rows written to the txn pending buffer


@dataclass
class TickGapMonitor:
    """Per-micro-batch tick-continuity check (A2).

    ``on_gap`` is called for every detected gap (default: collected in
    ``gaps``); the monitor also keeps the running ``last_tick`` high-water
    mark, the analog of the reference's Redis ``last processed tick``
    (publisher.py:130-131).
    """

    on_gap: Callable[[TickGap], None] | None = None
    last_tick: int | None = None
    gaps: list[TickGap] = field(default_factory=list)
    progress: list[BatchProgress] = field(default_factory=list)

    def metrics(self) -> list[Column]:
        """The aggregates ``record`` takes: ``mn``, ``mx`` and ``n``."""
        tick = F.col("tick").cast("long")
        return [
            F.min(tick).alias("mn"),
            F.max(tick).alias("mx"),
            F.count("*").alias("n"),
        ]

    def observe(self, batch: DataFrame, batch_id: int) -> TickGap | None:
        row = batch.agg(*self.metrics()).first()
        return self.record(batch_id, row.mn, row.mx, row.n)

    def record(
        self,
        batch_id: int,
        mn: int | None,
        mx: int | None,
        n: int,
        *,
        n_rejected: int = 0,
        n_deferred: int = 0,
    ) -> TickGap | None:
        if mn is None:
            return None  # empty batch
        self.progress.append(
            BatchProgress(
                batch_id=batch_id, tick_from=mn, tick_to=mx, n_envelopes=n,
                n_rejected=n_rejected, n_deferred=n_deferred,
            )
        )
        gap = None
        if self.last_tick is not None and mn > self.last_tick + 1:
            gap = TickGap(
                batch_id=batch_id,
                expected_from=self.last_tick + 1,
                observed_from=mn,
                missing=mn - self.last_tick - 1,
            )
            self.gaps.append(gap)
            if self.on_gap is not None:
                self.on_gap(gap)
        self.last_tick = max(self.last_tick or 0, mx)
        return gap
