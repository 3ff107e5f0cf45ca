"""AggregatingMergeTree -State/-Merge parity: store lifecycle invariance
(fold(parts) == batch-over-everything, compaction invisible) and the
streaming twin's cross-batch parity with the batch query."""

from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.agg_state import (
    AggregateStateStore,
    finalize,
    merge_states,
    partial_states,
)
from arango_clickhouse_replica_spark.queries.registry import QUERIES
from arango_clickhouse_replica_spark.sources.tables import load_table


def _final_rows(df):
    cols = ["event_type", "cnt", "sum_milli", "min_milli", "max_milli",
            "avg_milli", "uniq_est",
            # r13 HLL lane: integer max-fold registers — invariance of
            # the estimate/zeros/checksum across fold orders, compaction
            # and reopen rides the same assertions as the KMV lane
            "uniq_hll_est", "hll_zeros", "hll_reg_sum",
            # r14 quantile lane: fixed-boundary histogram sum-fold —
            # same invariance ride-along
            "qt_p50_milli", "qt_p90_milli", "qt_p99_milli"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _blocks(spark, sf_dir, k):
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        (F.col("event_id") % k).alias("blk"),
    )
    return ev, [ev.filter(F.col("blk") == i).drop("blk") for i in range(k)]


def test_state_store_fold_equals_batch_and_compact_invisible(
    spark, sf_dir, tmp_path
):
    ev, blocks = _blocks(spark, sf_dir, 4)
    store = AggregateStateStore(
        spark, str(tmp_path / "st"), ["event_type"], "v_milli", "user_id"
    )
    for b in blocks[:3]:
        store.apply_part(b)

    direct3 = finalize(merge_states(
        partial_states(
            ev.filter(F.col("blk") <= 2).drop("blk"),
            ["event_type"], "v_milli", "user_id",
        ),
        ["event_type"],
    ))
    got3 = store.read_final()
    assert got3.filter(F.col("n_parts") != 3).count() == 0
    assert _final_rows(got3) == _final_rows(direct3)

    # background merge: compaction must be invisible to readers
    store.compact()
    compacted = store.read_final()
    assert compacted.filter(F.col("n_parts") != 1).count() == 0
    assert _final_rows(compacted) == _final_rows(direct3)

    # incremental maintenance continues after compaction
    store.apply_part(blocks[3])
    direct4 = finalize(merge_states(
        partial_states(ev.drop("blk"), ["event_type"], "v_milli", "user_id"),
        ["event_type"],
    ))
    assert _final_rows(store.read_final()) == _final_rows(direct4)

    # a reopened store (fresh process) sees the same parts, and a second
    # compaction (which deletes the first one's retired parts) is
    # invisible too
    reopened = AggregateStateStore(
        spark, str(tmp_path / "st"), ["event_type"], "v_milli", "user_id"
    )
    assert _final_rows(reopened.read_final()) == _final_rows(direct4)
    reopened.compact()
    assert _final_rows(reopened.read_final()) == _final_rows(direct4)


def test_streaming_agg_state_matches_batch(spark, sf_dir, tmp_path):
    """Drained per-scope emissions (last per scope) must equal the batch
    q_clickhouse_aggregate_state_merge finalized columns exactly, with
    the change stream split arbitrarily across micro-batches."""
    from arango_clickhouse_replica_spark.operators.cdc import (
        preprocess_envelopes,
    )
    from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
        synthetic_event_envelopes,
    )
    from arango_clickhouse_replica_spark.streaming.stateful import (
        streaming_agg_state_monitor,
    )

    rows = preprocess_envelopes(
        synthetic_event_envelopes(spark, sf_dir),
        tracked_cuids=["c_events"], initial_tick=0,
    ).select(
        "event_type", "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        "_ver",
    )
    src = str(tmp_path / "src")
    rows.filter(F.col("_ver") % 2 == 0).drop("_ver").coalesce(1).write.mode(
        "append").parquet(src)
    rows.filter(F.col("_ver") % 2 == 1).drop("_ver").coalesce(1).write.mode(
        "append").parquet(src)
    schema = rows.drop("_ver").schema

    q = (
        streaming_agg_state_monitor(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("memory")
        .queryName("aggstate_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    live = {
        r.scope: tuple(r)[1:]
        for r in spark.sql(
            """SELECT scope, cnt, sum_v_milli, min_v_milli, max_v_milli,
                      avg_v_milli, uniq_users_est FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY scope ORDER BY cnt DESC) AS rn
                 FROM aggstate_t) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        r.scope: (r.cnt, r.sum_v_milli, r.min_v_milli, r.max_v_milli,
                  r.avg_v_milli, r.uniq_users_est)
        for r in QUERIES["q_clickhouse_aggregate_state_merge"].build(
            spark, sf_dir
        ).collect()
    }
    assert live == batch


def test_streaming_mutation_cost_matches_batch(spark, sf_dir, tmp_path):
    """Drained per-part emissions (last per part) must equal the batch
    cdc_mutation_rewrite_cost rows exactly, with the change stream split
    across micro-batches."""
    from arango_clickhouse_replica_spark.operators.cdc import (
        preprocess_envelopes,
    )
    from arango_clickhouse_replica_spark.queries.cdc_queries import (
        _OVERLAP_PARTS,
    )
    from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
        synthetic_event_envelopes,
    )
    from arango_clickhouse_replica_spark.streaming.stateful import (
        streaming_mutation_cost_monitor,
    )

    rows = preprocess_envelopes(
        synthetic_event_envelopes(spark, sf_dir),
        tracked_cuids=["c_events"], initial_tick=0,
    ).select("user_id", "props", "_ver")
    bounds = rows.agg(
        F.min("_ver").alias("__v0"), F.max("_ver").alias("__v1")
    )
    feed = rows.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"(_ver - __v0) * {_OVERLAP_PARTS} div (__v1 - __v0 + 1)"
        ).cast("long").alias("part_id"),
        F.when(F.col("user_id") % 10 == 3, 1).otherwise(0)
        .cast("long").alias("hit"),
        (F.length("props") + 64).cast("long").alias("est_bytes"),
        (F.col("_ver") % 2).alias("half"),
    )
    src = str(tmp_path / "src")
    feed.filter(F.col("half") == 0).drop("half").coalesce(1).write.mode(
        "append").parquet(src)
    feed.filter(F.col("half") == 1).drop("half").coalesce(1).write.mode(
        "append").parquet(src)
    schema = feed.drop("half").schema

    q = (
        streaming_mutation_cost_monitor(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        .writeStream.format("memory")
        .queryName("mutcost_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    live = {
        r.part_id: tuple(r)[1:]
        for r in spark.sql(
            """SELECT part_id, n_rows, n_matched, part_bytes,
                      rewrite_bytes, action FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY part_id ORDER BY n_rows DESC) AS rn
                 FROM mutcost_t) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        r.part_id: tuple(r)[1:]
        for r in QUERIES["cdc_mutation_rewrite_cost"].build(
            spark, sf_dir
        ).collect()
    }
    assert live == batch and len(live) > 0


def test_hll_estimate_tracks_exact_cardinality(spark, sf_dir):
    """The raw HLL estimate from the folded registers must land within
    the standard-error envelope (~1.04/sqrt(1024) ~ 3.3%; allow 10% on
    fixture-sized cardinalities) of the exact distinct count, and the
    fold must be invariant to part order (reversed split == forward)."""
    ev, blocks = _blocks(spark, sf_dir, 4)
    fwd = merge_states(
        partial_states(
            ev.withColumn("part", F.col("blk").cast("long")).drop("blk"),
            ["event_type", "part"], "v_milli", "user_id",
        ),
        ["event_type"],
    )
    rows = {
        r["event_type"]: r for r in finalize(fwd).join(
            ev.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("exact")
            ),
            "event_type",
        ).collect()
    }
    assert rows
    for et, r in rows.items():
        exact, est = r["exact"], r["uniq_hll_est"]
        assert abs(est - exact) <= max(3, 0.10 * exact), (
            f"{et}: HLL est {est} vs exact {exact}"
        )
    # reversed fold order: bit-identical finals
    rev = merge_states(
        partial_states(
            ev.withColumn(
                "part", (F.lit(3) - F.col("blk")).cast("long")
            ).drop("blk"),
            ["event_type", "part"], "v_milli", "user_id",
        ),
        ["event_type"],
    )
    assert _final_rows(finalize(fwd)) == _final_rows(finalize(rev))


def test_quantile_lane_tiers_clamps_and_fold_order(spark):
    """The r14 quantileTiming-shape lane: tier-1 values (< 1024) finalize
    EXACTLY (1-unit slots), tier-2 values snap to their 1024-wide slot's
    lower bound, negatives clamp into slot 0, values >= the ceiling
    saturate to the clamp constant — and the histogram sum-fold is
    invariant to part order (reversed split == forward, bit-identical)."""
    from arango_clickhouse_replica_spark.operators.agg_state import (
        _QT_CLAMP,
        _QT_T1,
        _QT_T2W,
        finalize,
        merge_states,
        partial_states,
    )

    # crafted fixture: one key entirely in tier 1 (exact), one spanning
    # tier 2, one exercising negative + overflow clamps
    rows = (
        [("t1", i * 7 % 1000, i % 5, i % 3) for i in range(500)]
        + [("t2", 1024 + i * 999, i % 5, i % 3) for i in range(500)]
        + [("clamp", -50, 0, 0), ("clamp", -1, 1, 1)]
        + [("clamp", _QT_CLAMP + i, i, i % 3) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "event_type string, v_milli long, user_id long, part long"
    )
    fin = {
        r["event_type"]: r for r in finalize(merge_states(
            partial_states(df, ["event_type", "part"], "v_milli", "user_id"),
            ["event_type"],
        )).collect()
    }

    # tier 1: exact lower quantiles of the raw values
    import math
    vals = sorted(i * 7 % 1000 for i in range(500))
    for q, col in ((0.5, "qt_p50_milli"), (0.9, "qt_p90_milli"),
                   (0.99, "qt_p99_milli")):
        want = vals[math.ceil(q * len(vals)) - 1]
        assert fin["t1"][col] == want, (col, fin["t1"][col], want)

    # tier 2: every finalized quantile is a slot lower bound <= the true
    # value, within one slot width
    tvals = sorted(1024 + i * 999 for i in range(500))
    for q, col in ((0.5, "qt_p50_milli"), (0.9, "qt_p90_milli")):
        want = tvals[math.ceil(q * len(tvals)) - 1]
        got = fin["t2"][col]
        assert got <= want < got + _QT_T2W, (col, got, want)
        assert (got - _QT_T1) % _QT_T2W == 0  # a slot boundary

    # clamps: negatives land in slot 0 (finalize 0), overflow saturates
    assert fin["clamp"]["qt_p50_milli"] == _QT_CLAMP  # 10 of 12 overflow
    assert fin["clamp"]["min_milli"] == -50  # exact lanes unaffected

    # fold-order invariance: reversed part order, bit-identical finals
    fwd = finalize(merge_states(
        partial_states(df, ["event_type", "part"], "v_milli", "user_id"),
        ["event_type"],
    ))
    rev = finalize(merge_states(
        partial_states(
            df.withColumn("part", F.lit(9) - F.col("part")),
            ["event_type", "part"], "v_milli", "user_id",
        ),
        ["event_type"],
    ))
    cols = ["event_type", "qt_p50_milli", "qt_p90_milli", "qt_p99_milli"]
    assert sorted(map(tuple, fwd.select(*cols).collect())) == \
        sorted(map(tuple, rev.select(*cols).collect()))
