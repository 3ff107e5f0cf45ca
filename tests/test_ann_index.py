"""Incremental ANN-index maintenance under CDC (r13, VERDICT r12 item 2):
the entry log's live view must equal a full rebuild over the final
latest state — across arbitrary micro-batch splits, replays, and
compaction — because entries are version-replacing rows assigned against
frozen centroids."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.ann_index import (
    AnnIndexStore,
    assign_entries,
    cdc_index_entries,
    frozen_centroids,
    live_index,
    tombstone_entries,
)
from arango_clickhouse_replica_spark.sources.tables import load_table

_CHANGES = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("_ver", T.LongType()),
        T.StructField("_deleted", T.IntegerType()),
    ]
)


def _change_stream(spark, sf_dir):
    """The FIXTURES CDC recipe over embeddings, as flat change rows."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    base = emb.select(
        "vec_id", "embedding",
        (F.col("vec_id") * 2).alias("_ver"), F.lit(0).alias("_deleted"),
    )
    upd = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
        (F.col("vec_id") * 2 + 1).alias("_ver"),
        F.lit(0).alias("_deleted"),
    )
    dels = emb.filter(F.col("vec_id") % 20 == 7).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        (F.col("vec_id") * 2 + 1).alias("_ver"),
        F.lit(1).alias("_deleted"),
    )
    return emb, base.unionByName(upd).unionByName(dels)


def _final_state(emb):
    """Latest alive embeddings after the recipe (the rebuild's input)."""
    return (
        emb.filter(F.col("vec_id") % 20 != 7)
        .select(
            "vec_id",
            F.when(
                F.col("vec_id") % 10 == 0,
                F.transform("embedding", lambda x: -x),
            ).otherwise(F.col("embedding")).alias("embedding"),
        )
    )


def _index_rows(df):
    return sorted(
        (r["vec_id"], r["cell"], r["sig"]) for r in
        df.select("vec_id", "cell", "sig").collect()
    )


def _rebuild(emb, cents):
    final = _final_state(emb).withColumn("_ver", F.lit(0))
    return assign_entries(final, cents)


def test_incremental_equals_rebuild_across_batch_splits(
    spark, sf_dir, tmp_path
):
    emb, changes = _change_stream(spark, sf_dir)
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.train(emb)
    cents = store.centroids()

    # arbitrary 3-way split BY KEY HASH (updates/deletes can land in a
    # different batch than their base row — order insensitivity M5)
    parts = [
        changes.filter(F.crc32(F.concat_ws("|", "vec_id", "_ver")) % 3 == i)
        for i in range(3)
    ]
    for i, p in enumerate(parts):
        store.apply_batch(p, i)

    expected = _index_rows(_rebuild(emb, cents))
    assert _index_rows(store.live()) == expected

    # replayed batch (at-least-once) changes nothing
    store.apply_batch(parts[1], 1)
    assert _index_rows(store.live()) == expected

    # compaction is invisible and maintenance continues after it
    store.compact()
    assert _index_rows(store.live()) == expected
    late = spark.createDataFrame(
        [(999_999, [float(i) for i in range(64)], 10_000_000, 0)], _CHANGES
    )
    store.apply_batch(late, 3)
    assert len(_index_rows(store.live())) == len(expected) + 1


def test_streaming_twin_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Cross-batch parity through the real Structured Streaming path:
    file-source micro-batches -> attach() -> live() == rebuild."""
    emb, changes = _change_stream(spark, sf_dir)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    # two files -> availableNow consumes them as micro-batches
    changes.filter(F.col("_ver") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    changes.filter(F.col("_ver") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.train(emb)
    stream = spark.readStream.schema(_CHANGES).parquet(feed)
    q = store.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert _index_rows(store.live()) == _index_rows(
        _rebuild(emb, store.centroids())
    )


def test_search_serves_from_live_index(spark, sf_dir, tmp_path):
    """The serving read probes the query's nearest cell of the LIVE
    index: deleted vectors never appear; exact within the probed cell."""
    emb, changes = _change_stream(spark, sf_dir)
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.train(emb)
    store.apply_batch(changes, 0)

    vectors = _final_state(emb)
    queries = vectors.filter(F.col("vec_id") % 100 == 0).limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = store.search(queries, vectors, top_k=3)
    rows = got.collect()
    assert rows, "search returned nothing"
    deleted = {
        r["vec_id"] for r in
        emb.filter(F.col("vec_id") % 20 == 7).select("vec_id").collect()
    }
    assert not {r["neighbor_id"] for r in rows} & deleted
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q_id, rr in per_q.items():
        rr.sort()
        sims = [s for _, s in rr]
        assert sims == sorted(sims, reverse=True), f"ranks unsorted for {q_id}"


def test_cdc_index_entries_routes_upserts_and_tombstones(spark, sf_dir):
    emb, changes = _change_stream(spark, sf_dir)
    cents = frozen_centroids(emb)
    entries = cdc_index_entries(changes, cents)
    dead = entries.filter(F.col("_deleted") == 1)
    n_dels = emb.filter(F.col("vec_id") % 20 == 7).count()
    assert dead.count() == n_dels
    assert dead.filter(F.col("cell").isNotNull()).count() == 0
    alive = entries.filter(F.col("_deleted") == 0)
    assert alive.filter(
        F.col("cell").isNull() | F.col("sig").isNull()
    ).count() == 0
    # tombstones win in the merged view
    assert live_index(entries).filter(
        F.col("vec_id") % 20 == 7
    ).count() == 0


def test_compaction_invisible_and_replay_proof(spark, sf_dir, tmp_path):
    """Compaction leaves the live index unchanged, also after a reopen,
    and a REPLAYED stream batch after compaction (idempotent overwrite
    of its own retired batch_id part) must not resurrect retired
    entries. The crash points of the compaction itself are covered once
    for every store in tests/test_part_store.py."""
    import pytest

    emb, changes = _change_stream(spark, sf_dir)
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.train(emb)
    parts = [
        changes.filter(F.crc32(F.concat_ws("|", "vec_id", "_ver")) % 3 == i)
        for i in range(3)
    ]
    for i, p in enumerate(parts):
        store.apply_batch(p, i)
    expected = _index_rows(store.live())

    store.compact()
    reopened = AnnIndexStore(spark, str(tmp_path / "idx"))
    assert _index_rows(reopened.live()) == expected

    with pytest.warns(RuntimeWarning, match="retired by a compaction"):
        reopened.apply_batch(parts[1], 1)
    assert _index_rows(reopened.live()) == expected

    reopened.compact()
    assert _index_rows(reopened.live()) == expected
    names = set(os.listdir(tmp_path / "idx" / "entries"))
    assert "batch_id=0" not in names and "compact_id=1" in names
