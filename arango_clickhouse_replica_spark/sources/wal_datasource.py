"""Native Spark 4 streaming source for the ArangoDB WAL.

``spark.readStream.format("arango_wal")`` — the Python DataSource API
(SPARK-44076, stable since Spark 4.0) lets the WAL tail live INSIDE
Structured Streaming, with no file or Kafka hop: offsets are WAL ticks,
so the checkpoint IS the tick store, micro-batch replay re-serves the
exact tick range from the server (the WAL retains history — the same
property the reference's ack/replay generator relies on,
``replication/producer/reader.py:62-70``), and exactly-once lands on the
version-deduped CDC merge as usual. This source is the engine's analog
of the reference's producer; :func:`wal_envelope_stream` is the typed
envelope stream ``CdcPipeline.start_wal`` and
``StreamingCurationGate.attach_wal`` consume.

Every op type passes the source, transaction markers (2200/2201/2202)
included, so the transaction gate of ``CdcPipeline(txn_atomic=True)``
sees each commit and abort; ``preprocess_envelopes`` (P1) drops the
markers downstream, as on the file and Kafka paths. The ``collections``
option filters by ``cuid``; markers carry none and always pass.

The reader is a ``SimpleDataSourceStreamReader``: a WAL tail is a single
ordered cursor (one page per micro-batch), so the driver-side simple
reader is the honest shape — Spark distributes the fetched envelopes to
executors for the transform/merge stages, which is where the actual work
is. At reference scale (one Arango deployment, thousands of writes/sec)
the tail is never the bottleneck; sharding happens downstream by
collection/key.

Rows use the one envelope wire schema, ``cdc_envelopes.envelope_schema``,
with ``data`` as a JSON string: schema-free at the source.
:func:`wal_envelope_stream` decodes them with ``cdc_envelopes.decode_wire``,
the decoder of the file and Kafka sources.

The HTTP transport is injectable via the ``transportFactory`` option
(``"module.path:callable"`` resolved at read time; the callable receives
the options dict and returns a transport) — the same environment-gating
pattern as ``sources/arango_wal.py``, so the full streaming path is
testable against a scripted server with no live Arango.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .arango_wal import ArangoWalClient, ArangoWalConfig
from .cdc_envelopes import decode_wire, envelope_schema

#: envelope wire shape; `data` is the raw document as a JSON string
WAL_SOURCE_SCHEMA = envelope_schema(T.StringType())


def _resolve_transport(options: dict):
    spec = options.get("transportfactory")
    if not spec:
        return None  # production: ArangoWalClient's default urllib transport
    mod_path, _, attr = spec.partition(":")
    import importlib

    factory = getattr(importlib.import_module(mod_path), attr)
    return factory(options)


def _client(options: dict) -> ArangoWalClient:
    cfg = ArangoWalConfig(
        host=options.get("host", "localhost"),
        port=int(options.get("port", 8529)),
        username=options.get("username", "root"),
        password=options.get("password", ""),
        db=options.get("db", "_system"),
        server_id=int(options.get("serverid", 888)),
        chunk_size=int(options.get("chunksize", 16384)),
    )
    return ArangoWalClient(cfg, transport=_resolve_transport(options))


def _allowed(entry: dict, cuids: Optional[set]) -> bool:
    # the collection filter, when configured; entries of no collection
    # (transaction markers) always pass
    cuid = entry.get("cuid")
    return cuids is None or cuid is None or cuid in cuids


def _rows(entries: list, cuids: Optional[set], lo: int, hi: Optional[int]):
    for e in entries:
        t = int(e.get("tick", 0))
        if t <= lo or (hi is not None and t > hi):
            continue
        if not _allowed(e, cuids):
            continue
        yield (
            str(e.get("tick")),
            int(e.get("type")),
            e.get("db"),
            e.get("cuid"),
            e.get("tid"),
            json.dumps(e.get("data"), sort_keys=True),
        )


class ArangoWalSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.options = dict(options)
        self._cli: Optional[ArangoWalClient] = None
        raw = self.options.get("collections")
        self._cuids = set(raw.split(",")) if raw else None

    def _ensure(self) -> ArangoWalClient:
        if self._cli is None:
            self._cli = _client(self.options)
        return self._cli

    def initialOffset(self) -> dict:
        start = self.options.get("starttick")
        if start is not None:
            return {"tick": str(int(start))}
        if self.options.get("fromlatest", "false").lower() == "true":
            # start at the server head: only NEW changes replicate (the
            # snapshot path covers history — manager.resync)
            return {"tick": str(self._ensure().get_last_tick()["tick"])}
        return {"tick": "0"}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = int(start["tick"])
        batch = self._ensure().tail(lo)
        last = int(batch["last_included"])
        if last == 0:  # empty page: hold position, Spark plans a no-op batch
            return iter(()), dict(start)
        rows = list(_rows(batch["content"], self._cuids, lo, last))
        return iter(rows), {"tick": str(last)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # Micro-batch REPLAY after restart: re-serve exactly (start, end]
        # from the server — the WAL retains the range (reference replay
        # semantics); nothing is buffered engine-side.
        lo, hi = int(start["tick"]), int(end["tick"])
        out: list = []
        cursor = lo
        while cursor < hi:
            batch = self._ensure().tail(cursor)
            last = int(batch["last_included"])
            if last <= cursor:
                # no forward progress (empty page, or a stuck/misbehaving
                # server re-serving the same tick with check_more=true):
                # stop rather than spin the driver forever
                break
            out.extend(_rows(batch["content"], self._cuids, cursor, hi))
            if not batch["check_more"] or last >= hi:
                break
            cursor = last
        return iter(out)

    def commit(self, end: dict) -> None:
        # the checkpoint is the tick store; the WAL needs no engine-side ack
        pass


class ArangoWalDataSource(DataSource):
    """``spark.dataSource.register(ArangoWalDataSource)`` then
    ``spark.readStream.format("arango_wal").options(...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "arango_wal"

    def schema(self) -> T.StructType:
        return WAL_SOURCE_SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return ArangoWalSimpleStreamReader(self.options)


def register(spark) -> None:
    """Idempotent format registration for the current session."""
    spark.dataSource.register(ArangoWalDataSource)


def wal_envelope_stream(
    spark,
    data_schema,
    *,
    wal_options: Optional[dict] = None,
    collections: Optional[Sequence[str]] = None,
):
    """The WAL as a typed envelope stream, decoded by ``decode_wire``
    with ``data_schema``. ``wal_options`` pass to the source as is;
    ``collections`` is the list of watched ``cuid`` values."""
    register(spark)
    reader = spark.readStream.format("arango_wal")
    for k, v in (wal_options or {}).items():
        reader = reader.option(k, str(v))
    if collections:
        reader = reader.option("collections", ",".join(collections))
    return decode_wire(reader.load(), data_schema)
