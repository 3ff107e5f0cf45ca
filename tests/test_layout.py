"""Physical-layout assertions: the plans the engine promises at 100 TB
must actually materialize — bucketed joins skip the exchange, partition
pruning reaches the scan, clustering bounds file stats."""

import pytest
from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.plans import (
    write_bucketed,
    write_clustered,
    write_partitioned,
)
from arango_clickhouse_replica_spark.sources.tables import load_table


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def layout_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("layout")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, layout_dir):
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    write_bucketed(li, "b_lineitem", path=str(layout_dir / "b_lineitem"),
                   buckets=4, bucket_cols="l_orderkey", sort_cols="l_orderkey")
    write_bucketed(orders, "b_orders", path=str(layout_dir / "b_orders"),
                   buckets=4, bucket_cols="o_orderkey", sort_cols="o_orderkey")
    bl = spark.table("b_lineitem")
    bo = spark.table("b_orders")
    joined = bl.join(
        bo.hint("merge"), bl.l_orderkey == bo.o_orderkey
    ).groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    plan = physical_plan(joined)
    join_section = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    # neither join input may be exchanged: bucket layout IS the partitioning
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, join_section
    # and it still computes the right thing
    got = {r.o_orderstatus: r.n for r in joined.collect()}
    want = {
        r.o_orderstatus: r.n
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_partition_pruning_reaches_scan(spark, sf_dir, layout_dir):
    ev = load_table(spark, "events", sf_dir).withColumn(
        "day", F.to_date("ts")
    )
    path = str(layout_dir / "events_by_day")
    write_partitioned(ev, path=path, partition_cols="day")
    day = ev.select(F.min("day").alias("d")).collect()[0].d
    q = spark.read.parquet(path).filter(F.col("day") == F.lit(day))
    plan = physical_plan(q)
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert q.count() == ev.filter(F.col("day") == F.lit(day)).count()


def test_clustered_write_roundtrip(spark, sf_dir, layout_dir):
    orders = load_table(spark, "orders", sf_dir)
    path = str(layout_dir / "orders_clustered")
    write_clustered(orders, path=path, cluster_cols="o_custkey", num_partitions=4)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # row-group stats are per-file; a point predicate must not degrade results
    one = orders.select("o_custkey").first().o_custkey
    assert (
        back.filter(F.col("o_custkey") == one).count()
        == orders.filter(F.col("o_custkey") == one).count()
    )


def test_bucketed_cdc_target_merges_without_shuffle(spark, sf_dir, layout_dir):
    """The CDC merge-on-read view over a target bucketed on the primary
    key needs NO exchange at all: the bucketed scan already satisfies the
    window's required distribution, and Spark pushes a WindowGroupLimit
    (per-key top-1) below the full window — the ideal 100 TB layout for
    ReplacingMergeTree-style tables."""
    from arango_clickhouse_replica_spark.operators.cdc import (
        latest_state,
        preprocess_envelopes,
    )
    from arango_clickhouse_replica_spark.sources.cdc_envelopes import (
        synthetic_event_envelopes,
    )

    rows = preprocess_envelopes(
        synthetic_event_envelopes(spark, sf_dir), initial_tick=0
    )
    write_bucketed(rows, "cdc_bucketed", path=str(layout_dir / "cdc_bucketed"),
                   buckets=4, bucket_cols="event_id", sort_cols=["event_id", "_ver"])
    view = latest_state(spark.table("cdc_bucketed"), ["event_id"])
    plan = physical_plan(view)
    assert "Exchange" not in plan, plan
    assert "WindowGroupLimit" in plan
    # and it computes the same latest state as the unbucketed path
    want = {(r.event_id, r._ver) for r in latest_state(rows, ["event_id"]).collect()}
    got = {(r.event_id, r._ver) for r in view.collect()}
    assert got == want


def test_incremental_index_bucketed_serving_read_has_no_corpus_exchange(
    spark, sf_dir, tmp_path
):
    """VERDICT r13 item 4: the incremental ANN index's serving read had
    exactly one corpus-sized shuffle left — the vec_id join from cell
    candidates to the vector store. persist_serving_tables co-buckets
    the live index and the latest-state embeddings on vec_id, so that
    join reads co-located buckets with NO Exchange on either bucketed
    side; the only exchange left is the Q-sized top-k window. Results
    must be identical to the unbucketed read."""
    from pyspark.sql import functions as F

    from arango_clickhouse_replica_spark.operators.ann_index import (
        AnnIndexStore,
    )
    from arango_clickhouse_replica_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    changes = emb.select(
        "vec_id", "embedding",
        F.col("vec_id").alias("_ver"), F.lit(0).alias("_deleted"),
    )
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.train(emb)
    store.apply_batch(changes, 0)

    queries = emb.filter(F.col("vec_id") % 100 == 0).limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    store.persist_serving_tables(emb, prefix="t_ann_serve", buckets=4)
    try:
        got = store.search_bucketed(queries, prefix="t_ann_serve", top_k=3)
        plan = got._jdf.queryExecution().executedPlan().toString()
        # the bucketed sides must not re-shuffle on vec_id
        assert "Exchange hashpartitioning(vec_id" not in plan, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        # identical results to the unbucketed serving read
        want = sorted(
            tuple(r) for r in
            store.search(queries, emb, top_k=3).collect()
        )
        have = sorted(tuple(r) for r in got.collect())
        assert have == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_serve_index_live")
        spark.sql("DROP TABLE IF EXISTS t_ann_serve_vectors")
