"""Incremental streaming MinHash-LSH dedup (streaming/dedup.py):
cross-batch candidate completeness (incremental == one-shot), replay
idempotency, and a real Structured Streaming drive."""

import os

from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.minhash import (
    band_signatures,
    candidate_pairs,
    word_shingles,
)
from arango_clickhouse_replica_spark.sources.tables import load_table
from arango_clickhouse_replica_spark.streaming.dedup import IncrementalLshDedup


def _docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).select("doc_id", "text")


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def _expected_one_shot(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return _pairs(candidate_pairs(band_signatures(word_shingles(docs))))


def _dedup(spark, tmp_path, name="inc"):
    return IncrementalLshDedup(
        spark,
        store_dir=str(tmp_path / name / "store"),
        pairs_dir=str(tmp_path / name / "pairs"),
    )


def test_incremental_matches_one_shot(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    inc = _dedup(spark, tmp_path)
    inc.process_batch(half_a, 0)
    inc.process_batch(half_b, 1)

    assert _pairs(inc.all_candidates()) == _expected_one_shot(spark, sf_dir)


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    inc = _dedup(spark, tmp_path)
    inc.process_batch(half_a, 0)
    inc.process_batch(half_b, 1)
    first = _pairs(inc.all_candidates())
    inc.process_batch(half_b, 1)  # redelivery of the same batch
    assert _pairs(inc.all_candidates()) == first


def test_uncommitted_store_part_is_ignored(spark, sf_dir, tmp_path):
    """A signature part left without ``_SUCCESS`` by a crashed write is
    not state: its documents must produce no candidates."""
    docs = _docs(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    inc = _dedup(spark, tmp_path)
    inc.process_batch(half_a, 0)
    # a crashed write of batch 7: the same texts under new ids
    crashed = os.path.join(inc.store_dir, "batch_id=7")
    band_signatures(word_shingles(
        docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )).write.parquet(crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    inc.process_batch(half_b, 1)

    assert _pairs(inc.all_candidates()) == _expected_one_shot(spark, sf_dir)


def test_streaming_drive_matches_one_shot(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    src = str(tmp_path / "src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    inc = _dedup(spark, tmp_path, "stream")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = inc.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert len(os.listdir(inc.store_dir)) >= 2  # really ran >1 micro-batch
    assert _pairs(inc.all_candidates()) == _expected_one_shot(spark, sf_dir)


def test_all_candidates_empty_before_any_pairs(spark, tmp_path):
    dedup = _dedup(spark, tmp_path, name="empty")
    out = dedup.all_candidates()
    assert out.columns == ["doc_a", "doc_b"]
    assert out.count() == 0
