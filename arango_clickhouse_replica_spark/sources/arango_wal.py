"""ArangoDB WAL tail client: the HTTP layer of the native ``arango_wal``
streaming source (``sources/wal_datasource.py``).

Reference parity: ``arangodb/wal.py:14-36`` (the tail client). Where the
reference wraps python-arango, this speaks the PUBLIC ArangoDB HTTP
replication API directly with stdlib ``urllib`` only:

    GET /_db/{db}/_api/wal/lastTick
    GET /_db/{db}/_api/wal/tail?from={tick}&serverId={id}&chunkSize={n}

The tail response body is NDJSON (one log entry per line); pagination
state rides in the response headers
``x-arango-replication-lastincluded`` / ``x-arango-replication-checkmore``.

The reference's producer keeps its position in a Redis ``last-tick``
token and replays un-acked pages through a generator protocol
(``replication/producer/publisher.py:24-46``, ``reader.py:37-70``). The
streaming source needs neither: its offsets are WAL ticks kept in the
Spark checkpoint, a restarted micro-batch re-reads its exact tick range
from the server, and its ``fromLatest``/``startTick`` options give the
first-start position.

The HTTP transport is INJECTABLE, so the source runs without a live
server: production uses :func:`urllib_transport`, tests serve a scripted
WAL (``tests/wal_fake.py``).
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass
from typing import Callable, Optional
from urllib.parse import urlencode

# WAL op codes (reader.py:9-14): transaction begin/commit/abort markers
# carry a ``tid`` and no collection; document ops match operators/cdc.py.
START_TRANSACTION = 2200
COMMIT_TRANSACTION = 2201
ABORT_TRANSACTION = 2202
UPSERT_DOCUMENT = 2300
REMOVE_DOCUMENT = 2302

# (status, lowercase headers, body bytes)
Transport = Callable[[str, dict], tuple[int, dict, bytes]]


@dataclass(frozen=True)
class ArangoWalConfig:
    host: str = "localhost"
    port: int = 8529
    username: str = "root"
    password: str = ""
    db: str = "_system"
    server_id: int = 888  # reader.py:66 pins a stable serverId for tailing
    chunk_size: int = 16384
    timeout_s: float = 30.0

    @property
    def base_url(self) -> str:
        return f"http://{self.host}:{self.port}/_db/{self.db}"


def urllib_transport(url: str, headers: dict, timeout_s: float = 30.0):
    """Default production transport (stdlib only; never used in tests)."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
        return (
            resp.status,
            {k.lower(): v for k, v in resp.headers.items()},
            resp.read(),
        )


class ArangoWalClient:
    """Minimal WAL client over the HTTP replication API.

    ``transport`` is injectable so the protocol is testable against
    recorded responses without a live server.
    """

    def __init__(
        self,
        config: ArangoWalConfig,
        transport: Optional[Transport] = None,
    ) -> None:
        self.config = config
        auth = base64.b64encode(
            f"{config.username}:{config.password}".encode()
        ).decode()
        self._headers = {"Authorization": f"Basic {auth}"}
        self._transport: Transport = transport or (
            lambda url, headers: urllib_transport(url, headers, config.timeout_s)
        )

    def _get(self, path: str, params: Optional[dict] = None):
        url = self.config.base_url + path
        if params:
            url += "?" + urlencode(params)
        status, headers, body = self._transport(url, dict(self._headers))
        if status >= 400:
            raise ConnectionError(f"Arango WAL HTTP {status} for {url}")
        return status, headers, body

    def get_last_tick(self) -> dict:
        """``wal.last_tick()`` analogue (arangodb/wal.py:26-27)."""
        _, _, body = self._get("/_api/wal/lastTick")
        return json.loads(body)

    def tail(self, lower, chunk_size: Optional[int] = None) -> dict:
        """One tail page from tick ``lower`` (exclusive), deserialized.

        Returns the same shape the reference's generator consumes
        (reader.py:62-70): ``content`` (list of log-entry dicts),
        ``last_included`` (str tick), ``check_more`` (bool).
        """
        status, headers, body = self._get(
            "/_api/wal/tail",
            {
                "from": str(lower),
                "serverId": str(self.config.server_id),
                "chunkSize": str(chunk_size or self.config.chunk_size),
            },
        )
        content = [
            json.loads(line)
            for line in body.decode("utf-8", "replace").splitlines()
            if line.strip()
        ]
        return {
            "content": content,
            "last_included": headers.get(
                "x-arango-replication-lastincluded", "0"
            ),
            # 204 = no new data regardless of header
            "check_more": status != 204
            and headers.get("x-arango-replication-checkmore", "false")
            == "true",
        }
