"""Seeded generator for the fixture tables the benchmark's workloads read.

The engine's queries read parquet tables named ``events``, ``documents``
and ``embeddings`` from one directory (``load_table(spark, name, sf_dir)``).
This module writes those tables from a seed, with the shapes of the
engine's fixture tables:

- ``events``: ``event_id`` 0..n-1 in time order over January 2024, five
  event types, a skewed ``value`` rounded to cents and a one-key JSON
  ``props`` string;
- ``documents``: texts over a 30-word vocabulary, 10 to 100 words long,
  with one document in 20 a near duplicate (another document's text plus
  `` dup``), so the dedup reports find pairs;
- ``embeddings``: unit-norm 64-dimensional float vectors with a label.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
DIM = 64

_JAN_2024_US = 1_704_067_200_000_000
_MONTH_US = 30 * 86_400_000_000


def events(rng: np.random.Generator, n: int, corrupt_frac: float = 0.0) -> pa.Table:
    """``corrupt_frac`` of the rows get a null ``event_type``, which the
    replication mapping rejects (``kind`` is required)."""
    ts = np.sort(rng.integers(0, _MONTH_US, n)) + _JAN_2024_US
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    if corrupt_frac:
        etype[rng.random(n) < corrupt_frac] = None
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n * 15 // 1000), n)),
            "event_type": pa.array(etype, type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(VOCAB, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(
                np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)],
                type=pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int],
                 corrupt_frac: float = 0.0) -> None:
    """Write each table named in ``sizes`` (name -> row count) as
    ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda rng, n: events(rng, n, corrupt_frac),
        "documents": documents,
        "embeddings": embeddings,
    }
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
