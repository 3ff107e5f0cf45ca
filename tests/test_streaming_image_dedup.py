"""Incremental streaming perceptual image dedup (streaming/dedup.py
IncrementalAHashDedup): cross-batch completeness vs the one-shot batch
pipeline, replay idempotency, and sibling detection across batches."""

from pyspark.sql import functions as F

from arango_clickhouse_replica_spark.operators.multimodal import (
    extract_ahash,
    synth_group_png_media,
)
from arango_clickhouse_replica_spark.streaming.dedup import IncrementalAHashDedup


def _media(spark, doc_ids):
    docs = spark.createDataFrame([(i,) for i in doc_ids], "doc_id long")
    return synth_group_png_media(docs)


def _one_shot_pairs(spark, doc_ids, hamming_max=6):
    """Uncapped batch reference: band candidates + Hamming verify over
    the full set (the occupancy cap is inactive at this corpus size)."""
    sigs = extract_ahash(_media(spark, doc_ids))
    bands = IncrementalAHashDedup._bands(sigs)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    dd = IncrementalAHashDedup(spark, store_dir="", pairs_dir="",
                               hamming_max=hamming_max)
    return {(r.doc_a, r.doc_b) for r in dd._verified(cand, sigs).collect()}


def _dedup(spark, tmp_path, name="img"):
    return IncrementalAHashDedup(
        spark,
        store_dir=str(tmp_path / name / "store"),
        pairs_dir=str(tmp_path / name / "pairs"),
    )


# sibling groups (5 consecutive ids) split ACROSS batches on purpose
_BATCH1 = [35, 36, 65, 91, 120, 121]
_BATCH2 = [37, 66, 103, 122]


def test_incremental_matches_one_shot(spark, tmp_path):
    dd = _dedup(spark, tmp_path)
    dd.process_batch(_media(spark, _BATCH1), 0)
    dd.process_batch(_media(spark, _BATCH2), 1)
    got = {(r.doc_a, r.doc_b) for r in dd.all_pairs().collect()}
    want = _one_shot_pairs(spark, _BATCH1 + _BATCH2)
    assert got == want
    # cross-batch siblings found: 37 arrived a batch after 35/36
    assert (35, 37) in got and (36, 37) in got and (65, 66) in got


def test_hamming_values_match_batch_reference(spark, tmp_path):
    dd = _dedup(spark, tmp_path)
    dd.process_batch(_media(spark, _BATCH1), 0)
    dd.process_batch(_media(spark, _BATCH2), 1)
    inc = {(r.doc_a, r.doc_b): r.hamming for r in dd.all_pairs().collect()}
    sigs = {r.media_id: [r.b0, r.b1, r.b2, r.b3]
            for r in extract_ahash(_media(spark, _BATCH1 + _BATCH2)).collect()}
    for (a, b), ham in inc.items():
        want = sum(bin(x ^ y).count("1")
                   for x, y in zip(sigs[a], sigs[b]))
        assert ham == want, (a, b)


def test_uncommitted_store_part_is_ignored(spark, tmp_path):
    """A signature part left without ``_SUCCESS`` by a crashed write is
    not state: its images must produce no pairs."""
    import os

    dd = _dedup(spark, tmp_path)
    dd.process_batch(_media(spark, _BATCH1), 0)
    # a crashed write of batch 7: the same images under new ids
    crashed = os.path.join(dd.store_dir, "batch_id=7")
    extract_ahash(_media(spark, _BATCH1)).withColumn(
        "media_id", F.col("media_id") + 1000
    ).write.parquet(crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    dd.process_batch(_media(spark, _BATCH2), 1)
    got = {(r.doc_a, r.doc_b) for r in dd.all_pairs().collect()}
    assert got == _one_shot_pairs(spark, _BATCH1 + _BATCH2)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    dd = _dedup(spark, tmp_path)
    dd.process_batch(_media(spark, _BATCH1), 0)
    dd.process_batch(_media(spark, _BATCH2), 1)
    before = {(r.doc_a, r.doc_b, r.hamming) for r in dd.all_pairs().collect()}
    dd.process_batch(_media(spark, _BATCH2), 1)  # redelivery
    after = {(r.doc_a, r.doc_b, r.hamming) for r in dd.all_pairs().collect()}
    assert before == after


def test_all_pairs_empty_before_any_batch(spark, tmp_path):
    dd = _dedup(spark, tmp_path)
    assert dd.all_pairs().count() == 0
