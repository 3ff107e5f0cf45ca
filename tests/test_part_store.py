"""The crash-safe part store (operators/part_store.py): kill-point tests at
each step of a compaction, run against the bare store and against the CDC
target built on it, plus the reader-during-compaction, manifest and id
rules the protocol depends on, and ``read()``'s footer-merged schema
against Spark's ``mergeSchema``."""

import datetime as dt
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.agg_state import AggregateStateStore
from arango_clickhouse_replica_spark.operators.ann_index import AnnIndexStore, GraphIndexStore
from arango_clickhouse_replica_spark.operators.cdc import latest_state
from arango_clickhouse_replica_spark.operators.part_store import MANIFEST, PartStore
from arango_clickhouse_replica_spark.streaming import CdcPipeline
from arango_clickhouse_replica_spark.streaming.dedup import IncrementalLshDedup
from tests.conftest import jobs as _jobs


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


# -- read(): the merged footer schema ----------------------------------------


def _added_column(spark, store):
    """A later part gained a top-level column. Batch 10 sorts before
    batch 2 by path, so its columns are seen first."""
    for b, (rows, schema) in {
        0: ([(1, "a")], "id long, name string"),
        2: ([(2, "b", "x@y.z")], "id long, name string, email string"),
        10: ([(3, 7, "c")], "id long, score int, name string"),
    }.items():
        store.write_batch(spark.createDataFrame(rows, schema), b)


def _nested_field_added(spark, store):
    store.write_batch(spark.createDataFrame(
        [(1, (10, "a"))], "tick long, data struct<id:long, name:string>"), 0)
    store.write_batch(spark.createDataFrame(
        [(2, (20, "b", [(1, "p")]))],
        "tick long, data struct<id:long, name:string, "
        "tags:array<struct<k:int, v:string>>>"), 1)
    store.write_batch(spark.createDataFrame(
        [(3, (30, "c", [(2, "q", True)]))],
        "tick long, data struct<id:long, name:string, "
        "tags:array<struct<k:int, v:string, hot:boolean>>>"), 2)


def _nested_types(spark, store):
    at = dt.datetime(2024, 5, 1, 12, 30)
    store.write_batch(spark.createDataFrame(
        [(1, {"a": 1}, [1.5, None], at, at)],
        "id long, m map<string, int>, xs array<double>, "
        "ts timestamp, ntz timestamp_ntz"), 0)
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("m2", T.MapType(T.StringType(), T.StructType([
            T.StructField("n", T.IntegerType()),
            T.StructField("s", T.StringType())]), False)),
        T.StructField("xs", T.ArrayType(T.DoubleType(), False)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
    ])
    store.write_batch(spark.createDataFrame(
        [(2, {"b": (2, "z")}, [2.5], at, at)], schema), 1)


def _case_differs(spark, store):
    """Spark matches column names case-insensitively by default."""
    store.write_batch(spark.createDataFrame([(1, "a")], "id long, Name string"), 0)
    store.write_batch(spark.createDataFrame([(2, "b")], "ID long, name string"), 1)


def _empty_part(spark, store):
    """Batch 1's rows all sit in an unterminated transaction: the CDC
    target writes an empty part for it."""
    pipe = CdcPipeline(spark, target_dir=store.root,
                       checkpoint_dir=store.root + "_ckpt", keys=["id"],
                       txn_atomic=True)
    env = "tick long, type int, cuid string, tid string, data struct<id:long, v:long>"
    pipe._apply_batch(spark.createDataFrame(
        [(1, 2300, "c", "T1", (1, 10)), (2, 2201, "c", "T1", None)], env), 0)
    pipe._apply_batch(spark.createDataFrame(
        [(3, 2300, "c", "T2", (2, 20))], env), 1)
    assert spark.read.parquet(store.paths()[1]).count() == 0


def _compacted_then_batches(spark, store):
    _fill(spark, store)
    store.compact(latest_state(store.read(spark), ["k"]))
    store.write_batch(spark.createDataFrame(
        [(1, 5, "late")], "k long, _ver long, note string"), 5)
    store.write_batch(spark.createDataFrame([(2, 6)], "k long, _ver long"), 6)


@pytest.mark.parametrize("layout", [
    _added_column, _nested_field_added, _nested_types, _case_differs,
    _empty_part, _compacted_then_batches,
])
def test_read_schema_matches_merge_schema(spark, tmp_path, layout):
    store = PartStore(str(tmp_path / "store"))
    layout(spark, store)
    got = store.read(spark)
    want = spark.read.option("mergeSchema", "true").parquet(*store.paths())
    assert got.schema == want.schema  # column order and nullability too
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("column, schemas", [
    ("v", ["id long, v long", "id long, v string"]),
    ("data.v", ["data struct<id:long, v:long>",
                "data struct<id:long, v:string>"]),
])
def test_read_type_conflict_raises_naming_the_column(spark, tmp_path, column, schemas):
    store = PartStore(str(tmp_path / "store"))
    for b, schema in enumerate(schemas):
        store.write_batch(spark.createDataFrame([], schema), b)
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        spark.read.option("mergeSchema", "true").parquet(*store.paths()).schema
    with pytest.raises(ValueError, match=rf"column {column} is bigint .* string"):
        store.read(spark)


def test_read_part_without_spark_footer_raises(spark, tmp_path):
    root = tmp_path / "store"
    store = PartStore(str(root))
    store.write_batch(spark.createDataFrame([(1,)], "id long"), 0)
    foreign = root / "batch_id=1"
    foreign.mkdir()
    pq.write_table(pa.table({"id": [2]}), foreign / "part-00000.parquet")
    (foreign / "_SUCCESS").touch()
    with pytest.raises(ValueError, match="no Spark schema in its footer"):
        store.read(spark)


def test_read_of_empty_store(spark, tmp_path):
    """No live part: read() is None and each reader keeps its own answer;
    the CDC target names its directory instead of Spark's 'Unable to
    infer schema for Parquet'."""
    store = PartStore(str(tmp_path / "store"))
    assert store.read(spark) is None
    store.write_batch(spark.range(2), 0)
    assert store.read(spark, exclude=0) is None
    pipe = _cdc_pipe(spark, tmp_path)
    with pytest.raises(ValueError, match=f"no committed part under {pipe.target_dir}"):
        pipe.raw()
    with pytest.raises(ValueError, match="no index entries"):
        AnnIndexStore(spark, str(tmp_path / "ann")).entries()
    assert GraphIndexStore(spark, str(tmp_path / "graph"))._prior_node_state(0).count() == 0
    with pytest.raises(ValueError, match="no state parts"):
        AggregateStateStore(spark, str(tmp_path / "agg"), ["k"], "v", "u").merged()


def test_part_store_read_runs_no_job(spark, tmp_path):
    """Building a serve read runs no Spark job (mergeSchema ran one over
    the footers), so counting the latest-state view runs 3, not 4; a
    streaming dedup micro-batch, which reads its store, runs 9, not 10."""
    pipe = _cdc_pipe(spark, tmp_path)
    env = "tick long, type int, cuid string, data struct<id:long, v:long>"
    for b in range(6):
        pipe._apply_batch(spark.createDataFrame(
            [(b, 2300, "c", (k, b)) for k in range(b, b + 4)], env), batch_id=b)
    assert len(pipe.store.paths()) == 6
    with _jobs(spark, "build") as build:
        pipe.raw()
        pipe.latest_alive()
    assert build == []
    with _jobs(spark, "count") as count:
        assert pipe.latest_alive().count() == 9
    assert len(count) <= 3

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 3}")
         for i in range(40)],
        "doc_id long, text string",
    )
    inc = IncrementalLshDedup(spark, store_dir=str(tmp_path / "sigs"),
                              pairs_dir=str(tmp_path / "pairs"))
    inc.process_batch(docs.filter("doc_id < 20"), 0)
    with _jobs(spark, "dedup") as dedup:
        inc.process_batch(docs.filter("doc_id >= 20"), 1)
    assert len(dedup) <= 9
