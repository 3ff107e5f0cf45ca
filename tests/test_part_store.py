"""The crash-safe part store (operators/part_store.py): kill-point tests at
each step of a compaction, run against the bare store and against the CDC
target built on it, plus the reader-during-compaction, manifest and id
rules the protocol depends on."""

import json
import os
import shutil

import pytest

from arango_clickhouse_replica_spark.operators.cdc import latest_state
from arango_clickhouse_replica_spark.operators.part_store import MANIFEST, PartStore
from arango_clickhouse_replica_spark.streaming import CdcPipeline


class Crash(Exception):
    """The process dying at a kill point."""


KILL_POINTS = ("entry_written", "promoted_partial", "promoted_committed")


def _crash_next_compaction(monkeypatch, point):
    """Stop the next compaction at ``point``: right after its inert
    manifest entry is written, partway through its promoted part (files
    written, no ``_SUCCESS``), or after the promoted part commits (the
    compaction completes; the crash is the reopen that follows)."""
    write = PartStore._write

    def crashing_write(self, df, name, mode):
        if not name.startswith("compact_id="):
            return write(self, df, name, mode)
        if point == "entry_written":
            raise Crash(name)
        write(self, df, name, mode)
        if point == "promoted_partial":
            os.remove(os.path.join(self.root, name, "_SUCCESS"))
            raise Crash(name)

    monkeypatch.setattr(PartStore, "_write", crashing_write)


def _compact_until_crash(monkeypatch, point, compact, root):
    _crash_next_compaction(monkeypatch, point)
    if point == "promoted_committed":
        compact()
    else:
        with pytest.raises(Crash):
            compact()
        with open(os.path.join(root, MANIFEST)) as fh:
            assert len(json.load(fh)["compactions"]) == 1  # the inert entry
    monkeypatch.undo()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _read(spark, store):
    return spark.read.parquet(*store.paths())


def _fill(spark, store):
    """Three batches with overlapping keys: later versions win."""
    for b in range(3):
        store.write_batch(
            spark.createDataFrame(
                [(k, b) for k in range(2 * b, 2 * b + 4)], "k long, _ver long"
            ),
            b,
        )


@pytest.mark.parametrize("point", KILL_POINTS)
def test_part_store_compaction_kill_points(spark, tmp_path, monkeypatch, point):
    root = str(tmp_path / "store")
    store = PartStore(root)
    _fill(spark, store)
    raw = _rows(_read(spark, store))
    view = _rows(latest_state(_read(spark, store), ["k"]))

    _compact_until_crash(
        monkeypatch, point,
        lambda: store.compact(latest_state(_read(spark, store), ["k"])), root,
    )

    reopened = PartStore(root)
    assert _rows(latest_state(_read(spark, reopened), ["k"])) == view
    # Every row is counted once: the originals, or the winners alone.
    committed = point == "promoted_committed"
    assert _rows(_read(spark, reopened)) == (view if committed else raw)
    assert len(reopened._entries()) == int(committed)  # inert entry rolled back

    # The next compaction on the recovered store stays correct.
    reopened.compact(latest_state(_read(spark, reopened), ["k"]))
    assert _rows(_read(spark, reopened)) == view


_ENVELOPE = "tick long, type int, cuid string, data struct<id:long, v:long>"
_CDC_BATCHES = [
    [(1, 2300, "c", (k, 10 * k)) for k in range(6)],
    [(2, 2300, "c", (k, 20 * k)) for k in range(3, 9)],
    [(3, 2302, "c", (0, 0)), (3, 2300, "c", (9, 90))],  # a delete + an insert
]


def _cdc_pipe(spark, tmp_path):
    return CdcPipeline(
        spark,
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        keys=["id"],
    )


def _applied_cdc_pipe(spark, tmp_path):
    pipe = _cdc_pipe(spark, tmp_path)
    for b, rows in enumerate(_CDC_BATCHES):
        pipe._apply_batch(spark.createDataFrame(rows, _ENVELOPE), batch_id=b)
    return pipe


@pytest.mark.parametrize("point", KILL_POINTS)
def test_cdc_target_compaction_kill_points(spark, tmp_path, monkeypatch, point):
    pipe = _applied_cdc_pipe(spark, tmp_path)
    raw, latest = _rows(pipe.raw()), _rows(pipe.latest())
    alive = _rows(pipe.latest_alive())

    _compact_until_crash(monkeypatch, point, pipe.compact, pipe.target_dir)

    reopened = _cdc_pipe(spark, tmp_path)
    assert _rows(reopened.latest_alive()) == alive
    assert _rows(reopened.raw()) == (
        latest if point == "promoted_committed" else raw
    )
    reopened.compact()
    assert _rows(reopened.raw()) == latest
    assert _rows(reopened.latest_alive()) == alive


def test_cdc_target_replayed_batch_rewrites_its_part(spark, tmp_path):
    pipe = _applied_cdc_pipe(spark, tmp_path)
    raw = _rows(pipe.raw())
    pipe._apply_batch(spark.createDataFrame(_CDC_BATCHES[1], _ENVELOPE), batch_id=1)
    assert _rows(pipe.raw()) == raw  # no second copy of batch 1


def test_cdc_reader_during_compaction_keeps_its_rows(spark, tmp_path):
    """A read whose parts were resolved before a compaction still runs
    after it: the retired parts stay on disk until the next one."""
    pipe = _applied_cdc_pipe(spark, tmp_path)
    want = _rows(pipe.latest_alive())
    before = pipe.latest_alive()
    pipe.compact()
    assert _rows(before) == want
    assert _rows(pipe.latest_alive()) == want


def test_unreadable_manifest_raises(spark, tmp_path):
    """A torn manifest must not read as 'no compactions': that would put
    the retired parts still on disk back in the live set."""
    root = str(tmp_path / "store")
    store = PartStore(root)
    _fill(spark, store)
    store.compact(latest_state(_read(spark, store), ["k"]))
    path = os.path.join(root, MANIFEST)
    with open(path) as fh:
        text = fh.read()
    with open(path, "w") as fh:
        fh.write(text[: len(text) // 2])
    with pytest.raises(ValueError, match="unreadable compaction manifest"):
        store.paths()
    with pytest.raises(ValueError, match="unreadable compaction manifest"):
        PartStore(root)


def test_append_never_reuses_an_id_the_manifest_names(spark, tmp_path):
    """A crash after a compaction deleted retired parts, before it
    rewrote the manifest, leaves their names only in the manifest; a new
    part under one of those names would be invisible."""
    root = tmp_path / "store"
    store = PartStore(str(root))
    store.write_batch(spark.range(3), 0)
    store.compact(_read(spark, store))
    shutil.rmtree(root / "batch_id=0")  # the deleting step
    assert store.append(spark.range(5, 7)) == 1
    assert sorted(r.id for r in _read(spark, PartStore(str(root))).collect()) == [
        0, 1, 2, 5, 6
    ]
