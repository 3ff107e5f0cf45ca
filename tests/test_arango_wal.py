"""Arango WAL tail client against the scripted replication API
(``tests/wal_fake.py``, no live server): the two HTTP calls the native
``arango_wal`` streaming source is built on."""

from arango_clickhouse_replica_spark.sources.arango_wal import (
    ArangoWalClient,
    ArangoWalConfig,
    UPSERT_DOCUMENT,
)
from tests import wal_fake


def _entry(tick, typ=UPSERT_DOCUMENT, cuid="h123/1", key="k", **data):
    return {
        "tick": str(tick),
        "type": typ,
        "db": "testdb",
        "cuid": cuid,
        "tid": "0",
        "data": {"_key": f"{key}{tick}", **data},
    }


def test_last_tick_and_tail_page(tmp_path):
    wal = str(tmp_path / "wal.json")
    wal_fake.write_wal(wal, [_entry(10), _entry(20)])
    client = ArangoWalClient(
        ArangoWalConfig(db="testdb"),
        transport=wal_fake.make_transport({"walfile": wal}),
    )
    assert client.get_last_tick()["tick"] == "20"
    page = client.tail(0)
    assert [e["tick"] for e in page["content"]] == ["10", "20"]
    assert page["last_included"] == "20"
    assert page["check_more"] is False
