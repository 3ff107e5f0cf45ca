"""Round-14 semantics tests: CDC-incremental PQ codes and kNN-graph
adjacency (VERDICT r13 item 1) — each lane's live view must equal a full
rebuild over the final latest state across arbitrary micro-batch splits,
out-of-order delivery, replays, and compaction; plus the graph lane's
sub-block-cap oracle contract at every driver-verified scale."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arango_clickhouse_replica_spark.operators.ann_index import (
    GRAPH_CELL_CAP,
    GraphIndexStore,
    PqIndexStore,
    cell_adjacency,
    frozen_pq_codebooks,
    graph_node_rows,
    latest_alive,
    live_pq_codes,
    pq_encode_entries,
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


def _pq_rows(df):
    return sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in df.select("vec_id", "codes").collect()
    )


def _pq_rebuild(emb):
    cb = frozen_pq_codebooks(emb)
    final = _final_state(emb).withColumn("_ver", F.lit(0))
    return live_pq_codes(
        pq_encode_entries(final, cb).withColumn("_deleted", F.lit(0))
    )


def _adj_rows(df):
    return sorted(
        (r["src"], r["cell"], r["degree"], r["dst_csv"], r["dst_sum"])
        for r in
        df.select("src", "cell", "degree", "dst_csv", "dst_sum").collect()
    )


def _graph_rebuild(emb, cents):
    final = _final_state(emb).select(
        "vec_id", "embedding",
        F.lit(0).cast("long").alias("_ver"), F.lit(0).alias("_deleted"),
    )
    nodes = graph_node_rows(final, cents)
    return cell_adjacency(latest_alive(nodes, ["vec_id"]), seq=0)


def test_pq_incremental_equals_rebuild_across_batch_splits(
    spark, sf_dir, tmp_path
):
    emb, changes = _change_stream(spark, sf_dir)
    store = PqIndexStore(spark, str(tmp_path / "pq"))
    store.train(emb)
    parts = [
        changes.filter(F.crc32(F.concat_ws("|", "vec_id", "_ver")) % 3 == i)
        for i in range(3)
    ]
    for i, p in enumerate(parts):
        store.apply_batch(p, i)
    expected = _pq_rows(_pq_rebuild(emb))
    assert _pq_rows(store.live()) == expected

    # at-least-once replay changes nothing
    store.apply_batch(parts[1], 1)
    assert _pq_rows(store.live()) == expected

    # compaction is invisible and maintenance continues after it
    store.compact()
    assert _pq_rows(store.live()) == expected
    late = spark.createDataFrame(
        [(999_999, [float(i) for i in range(64)], 10_000_000, 0)], _CHANGES
    )
    store.apply_batch(late, 3)
    assert len(_pq_rows(store.live())) == len(expected) + 1


def test_pq_streaming_twin_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Cross-batch parity through the real Structured Streaming path."""
    emb, changes = _change_stream(spark, sf_dir)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    changes.filter(F.col("_ver") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    changes.filter(F.col("_ver") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    store = PqIndexStore(spark, str(tmp_path / "pq"))
    store.train(emb)
    stream = spark.readStream.schema(_CHANGES).parquet(feed)
    q = store.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _pq_rows(store.live()) == _pq_rows(_pq_rebuild(emb))


def test_graph_incremental_equals_rebuild_across_batch_splits(
    spark, sf_dir, tmp_path
):
    emb, changes = _change_stream(spark, sf_dir)
    store = GraphIndexStore(spark, str(tmp_path / "g"))
    store.train(emb)
    parts = [
        changes.filter(F.crc32(F.concat_ws("|", "vec_id", "_ver")) % 3 == i)
        for i in range(3)
    ]
    for i, p in enumerate(parts):
        store.apply_batch(p, i)
    expected = _adj_rows(_graph_rebuild(emb, store.centroids()))
    assert _adj_rows(store.live()) == expected

    # replay of a mid-stream batch (the same generation rewrites itself
    # against the same prior state — paths(exclude=batch_id)) is a no-op
    store.apply_batch(parts[1], 1)
    assert _adj_rows(store.live()) == expected

    # compaction is invisible
    store.compact()
    assert _adj_rows(store.live()) == expected


def test_graph_delete_before_base_never_resurrects(spark, sf_dir, tmp_path):
    """Out-of-order delivery: when a key's DELETE arrives in an earlier
    batch than its base upsert (key-hash splits do this), the stale base
    row must not resurrect the node in any recomputed cell membership —
    the patch merges against latest_STATE (tombstones kept), not the
    alive view, and re-asserts the adjacency tombstone from the merged
    state."""
    emb, _ = _change_stream(spark, sf_dir)
    deleted_id = emb.filter(F.col("vec_id") % 20 == 7).agg(
        F.min("vec_id")
    ).collect()[0][0]
    store = GraphIndexStore(spark, str(tmp_path / "g"))
    store.train(emb)

    # batch 0: everything EXCEPT the victim's base row, plus the
    # victim's delete (higher _ver) — the delete arrives first
    base = emb.select(
        "vec_id", "embedding",
        (F.col("vec_id") * 2).alias("_ver"), F.lit(0).alias("_deleted"),
    )
    tomb = spark.createDataFrame(
        [(int(deleted_id), None, int(deleted_id) * 2 + 1, 1)], _CHANGES
    )
    store.apply_batch(
        base.filter(F.col("vec_id") != deleted_id).unionByName(tomb), 0
    )
    # batch 1: the victim's STALE base row arrives late
    store.apply_batch(base.filter(F.col("vec_id") == deleted_id), 1)

    live = store.live()
    assert live.filter(F.col("src") == deleted_id).count() == 0
    # and no survivor lists the victim as a neighbor
    assert live.filter(
        F.array_contains(
            F.split(F.col("dst_csv"), ","), str(deleted_id)
        )
    ).count() == 0


def test_graph_streaming_twin_matches_batch_rebuild(spark, sf_dir, tmp_path):
    emb, changes = _change_stream(spark, sf_dir)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    changes.filter(F.col("_ver") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    changes.filter(F.col("_ver") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    store = GraphIndexStore(spark, str(tmp_path / "g"))
    store.train(emb)
    stream = spark.readStream.schema(_CHANGES).parquet(feed)
    q = store.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _adj_rows(store.live()) == _adj_rows(
        _graph_rebuild(emb, store.centroids())
    )


def test_incremental_graph_cells_stay_under_cap(spark):
    """ann_incremental_graph_parity's DuckDB oracle replays the edge
    build WITHOUT the sub-block term; exact only while every post-churn
    cell stays under GRAPH_CELL_CAP. Assert at every driver-verified
    scale so an overflow fails by name (the r12 ADVICE contract, applied
    to the incremental lane)."""
    from arango_clickhouse_replica_spark.operators.ann_index import (
        frozen_centroids,
        latest_state,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb, changes = _change_stream(spark, sf_dir)
        cents = frozen_centroids(emb)
        nodes = latest_state(
            graph_node_rows(changes, cents), ["vec_id"]
        ).filter(F.col("_deleted") == 0)
        worst = (
            nodes.groupBy("cell").count()
            .agg(F.max("count").alias("mx")).collect()[0]["mx"]
        )
        assert worst <= GRAPH_CELL_CAP, (
            f"{sf_dir}: largest post-churn cell {worst} exceeds the "
            f"{GRAPH_CELL_CAP} cap — the parity oracle no longer replays "
            "the edge build"
        )


def test_pcx_codec_roundtrip_pads_palette_and_rejects_garbage():
    """The r14 PCX codec: round-trips through the permuted-gray VGA
    palette, drops the even-row pad byte, escapes >=0xC0 literals as
    runs-of-one, and fails loudly (never mis-indexes) on truncation,
    header corruption, and line-crossing runs."""
    import pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_pcx,
        encode_pcx_gray8,
    )

    for d in (0, 1, 3, 7, 10):
        w, h = 9 + d % 8, 5 + d % 5
        px = bytes(
            (d * 13 + 5 * y + x // 5) % 256
            for y in range(h) for x in range(w)
        )
        blob = encode_pcx_gray8(px, w, h)
        out = decode_pcx(blob)
        assert (out["width"], out["height"]) == (w, h)
        assert out["bytes_per_line"] == w + (w & 1)
        # palette-resolved luma: the permuted ramp, exactly
        assert out["pixels"] == [(v * 37 + 11) % 256 for v in px]

    # >=0xC0 literals survive (marker-collision escape)
    hot = bytes([0xC5, 0x10, 0xFF, 0xC0])
    out = decode_pcx(encode_pcx_gray8(hot, 4, 1))
    assert out["pixels"] == [(v * 37 + 11) % 256 for v in hot]

    blob = encode_pcx_gray8(bytes(range(36)), 6, 6)
    with pytest.raises(ValueError):
        decode_pcx(blob[:100])                     # truncated header
    with pytest.raises(ValueError):
        decode_pcx(blob[:140] + blob[-769:])       # truncated RLE stream
    with pytest.raises(ValueError):
        decode_pcx(b"\x0b" + blob[1:])             # bad manufacturer
    with pytest.raises(ValueError):
        decode_pcx(blob[:-769] + b"\x0d" + blob[-768:])  # bad trailer
    # a run crossing a scan line is rejected: hand-build a 2x2 body
    # whose single packet emits 4 bytes against bytes_per_line=2
    head = bytearray(encode_pcx_gray8(bytes(4), 2, 2))
    body = bytes([0xC4, 7])  # run of 4 across two 2-byte lines
    bad = bytes(head[:128]) + body + bytes(head[-769:])
    with pytest.raises(ValueError):
        decode_pcx(bad)
