"""Crash-safe part store: the one on-disk protocol for every store that
compacts (the CDC target, aggregate state, the ANN/PQ/graph index entry
logs, the streaming dedup signature stores).

A store is ClickHouse MergeTree's part log on plain parquet. Under its
root directory:

- ``batch_id=N/`` — one part per micro-batch (``write_batch``) or insert
  block (``append``);
- ``compact_id=M/`` — one part per compaction;
- ``compaction_manifest.json`` — at most one entry ``{"promote":
  "compact_id=M", "superseded": [part names]}``.

A part is **committed** once its ``_SUCCESS`` marker exists; Spark's
committer writes it last, so a directory without it is the debris of a
crashed write and is never read. A part is **retired** when a manifest
entry whose promoted part is committed lists it as superseded. Readers
read the live parts, committed and not retired, with ``read()``; the
names alone are ``paths()``.

``read()`` runs no Spark job. Spark's parquet writer puts the written
schema in every file's footer (``org.apache.spark.sql.parquet.row.metadata``);
``read()`` takes it from one data file per live part on the driver,
merges the schemas by ``mergeSchema``'s rules (below) and reads with that
schema, where ``mergeSchema`` or a plain read would run a job over the
footers to infer it. Parts written across restarts may differ: a column
or a nested field added later reads as null in the parts without it.

Writes are idempotent per batch, the Structured Streaming exactly-once
rule (sinks keyed by epoch id): ``write_batch(df, N)`` overwrites
``batch_id=N``, so a replayed micro-batch rewrites its own part instead
of adding a second copy. ``append(df)`` takes the next batch id, counted
over every part name on disk or in the manifest, so an id that a crashed
write or a live manifest entry still names is never reused.

``compact(winners)`` is the background merge, in three steps:

1. delete the parts retired by the previous compaction;
2. write the new manifest entry with ``os.replace`` (the manifest is
   either the old or the new file, never torn). The entry is inert: it
   retires nothing until its promoted part commits;
3. write ``winners`` as ``compact_id=M``. Its ``_SUCCESS`` is the commit
   point that retires every part the winners were read from.

A crash anywhere leaves each row counted exactly once: before the commit
point the originals stay live and the promoted part is unreadable; after
it the originals are retired. Opening a store rolls back an entry whose
promoted part never committed. The parts a compaction retires stay on
disk until the next compaction starts, so a reader whose paths were
resolved before a compaction keeps its files through it. There is no
rename anywhere, so the store works unchanged where rename is not atomic.

Single writer: do not write a batch while a compaction runs.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StructField, StructType,
)

BATCH = "batch_id="
COMPACT = "compact_id="
MANIFEST = "compaction_manifest.json"
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(part: str) -> StructType:
    """The Spark schema a part was written with, from the footer of its
    first data file (every file of a part holds the same schema)."""
    files = sorted(n for n in os.listdir(part) if not n.startswith(("_", ".")))
    if not files:
        raise ValueError(f"part {part} has no data file")
    path = os.path.join(part, files[0])
    meta = pq.read_metadata(path).metadata or {}
    if SPARK_SCHEMA_KEY not in meta:
        raise ValueError(
            f"{path} has no Spark schema in its footer "
            f"({SPARK_SCHEMA_KEY.decode()}): not written by Spark"
        )
    return StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


def _merge(left: DataType, right: DataType, fold, column: str) -> DataType:
    """Spark's ``StructType.merge``, the rule ``mergeSchema`` folds the
    footers with: struct fields keep their first-seen order and name
    (matched through ``fold``, case-insensitive unless
    ``spark.sql.caseSensitive``), a field new in ``right`` goes last,
    structs inside structs, arrays and maps merge recursively, and any
    other pair of types must be equal."""
    if isinstance(left, StructType) and isinstance(right, StructType):
        extra = {fold(f.name): f for f in right.fields}
        fields = []
        for f in left.fields:
            r = extra.pop(fold(f.name), None)
            if r is not None:
                name = f"{column}.{f.name}" if column else f.name
                f = StructField(
                    f.name, _merge(f.dataType, r.dataType, fold, name),
                    True, f.metadata,
                )
            fields.append(f)
        return StructType(fields + list(extra.values()))
    if isinstance(left, ArrayType) and isinstance(right, ArrayType):
        return ArrayType(
            _merge(left.elementType, right.elementType, fold, column), True
        )
    if isinstance(left, MapType) and isinstance(right, MapType):
        return MapType(
            _merge(left.keyType, right.keyType, fold, column),
            _merge(left.valueType, right.valueType, fold, column),
            True,
        )
    if left != right:
        raise ValueError(
            f"column {column} is {left.simpleString()} in one part and "
            f"{right.simpleString()} in another"
        )
    return left


class PartStore:
    """A directory of immutable parquet parts behind a compaction
    manifest; see the module docstring for the protocol."""

    def __init__(self, root: str) -> None:
        self.root = root
        entries = self._entries()
        committed = [e for e in entries if self._committed(e["promote"])]
        if committed != entries:
            self._write_manifest(committed)

    # -- on-disk state ------------------------------------------------------

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _committed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._dir(name), "_SUCCESS"))

    def _names(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n for n in os.listdir(self.root) if n.startswith((BATCH, COMPACT))
        )

    def _entries(self) -> list[dict]:
        """The manifest's entries. A missing manifest means no compaction
        yet; an unreadable one raises, because reading it as empty would
        put every retired part still on disk back in the live set."""
        path = self._dir(MANIFEST)
        try:
            with open(path) as fh:
                text = fh.read()
        except FileNotFoundError:
            return []
        try:
            return list(json.loads(text)["compactions"])
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(f"unreadable compaction manifest {path}") from e

    def _write_manifest(self, entries: list[dict]) -> None:
        tmp = self._dir(MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump({"compactions": entries}, fh, sort_keys=True)
        os.replace(tmp, self._dir(MANIFEST))

    def _retired(self, entries: list[dict]) -> set[str]:
        return {
            name
            for e in entries if self._committed(e["promote"])
            for name in e["superseded"]
        }

    def _next_id(self, prefix: str) -> int:
        names = set(self._names())
        for e in self._entries():
            names.update([e["promote"], *e["superseded"]])
        return 1 + max(
            (int(n[len(prefix):]) for n in names if n.startswith(prefix)),
            default=-1,
        )

    def _write(self, df: DataFrame, name: str, mode: str) -> None:
        df.write.mode(mode).parquet(self._dir(name))

    # -- public API ---------------------------------------------------------

    def paths(self, exclude: int | None = None) -> list[str]:
        """The live parts: committed and not retired. ``exclude`` drops
        ``batch_id=exclude``, the prior state a replayed batch must be
        computed against."""
        skip = self._retired(self._entries())
        if exclude is not None:
            skip.add(f"{BATCH}{exclude}")
        return [
            self._dir(n) for n in self._names()
            if n not in skip and self._committed(n)
        ]

    def read(
        self, spark: SparkSession, exclude: int | None = None
    ) -> DataFrame | None:
        """The live parts (``paths(exclude)``) as one DataFrame, or None
        when no part is live. The schema is the parts' footer schemas
        merged on the driver in the order ``mergeSchema`` sees them (by
        file path), so building the read runs no Spark job; Spark reads
        it as nullable throughout, as it does an inferred one. Parts
        whose types conflict raise ``ValueError`` naming the column."""
        parts = self.paths(exclude)
        if not parts:
            return None
        fold = (
            str if spark.conf.get("spark.sql.caseSensitive") == "true"
            else str.lower
        )
        schemas = [_footer_schema(p) for p in parts]
        try:
            schema = reduce(lambda a, b: _merge(a, b, fold, ""), schemas)
        except ValueError as e:
            raise ValueError(f"part store at {self.root}: {e}") from None
        return spark.read.schema(schema).parquet(*parts)

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """Idempotently (over)write part ``batch_id=N``."""
        name = f"{BATCH}{batch_id}"
        # A write into a retired part is either (a) a harmless replay of
        # a batch the committed compaction already subsumes, invisible by
        # design, or (b) a RESET streaming checkpoint (batch ids restarted
        # at 0), whose genuinely new data becomes invisible. The two look
        # the same by name, so warn instead of swallowing it silently.
        if name in self._retired(self._entries()):
            warnings.warn(
                f"part store at {self.root}: incoming {name} targets a "
                "part retired by a compaction. If this is a replay of an "
                "already-compacted batch it is harmless (its rows stay "
                "subsumed by the compacted part); if the streaming "
                "checkpoint was RESET, this batch's data will be "
                "invisible — re-point checkpointLocation or seed batch "
                "numbering above the retired ids.",
                RuntimeWarning,
                stacklevel=2,
            )
        self._write(df, name, "overwrite")

    def append(self, df: DataFrame) -> int:
        """Write ``df`` as the next batch part; returns its id."""
        batch_id = self._next_id(BATCH)
        self._write(df, f"{BATCH}{batch_id}", "errorifexists")
        return batch_id

    def compact(self, winners: DataFrame) -> None:
        """Replace the live parts by ``winners``, which the caller built
        from ``paths()``. The steps and their crash safety are in the
        module docstring."""
        for name in self._retired(self._entries()):
            if os.path.exists(self._dir(name)):
                shutil.rmtree(self._dir(name))
        live = [os.path.basename(p) for p in self.paths()]
        promote = f"{COMPACT}{self._next_id(COMPACT)}"
        if live:  # an empty store (a resync's snapshot) has nothing to retire
            self._write_manifest([{"promote": promote, "superseded": live}])
        self._write(winners, promote, "errorifexists")
