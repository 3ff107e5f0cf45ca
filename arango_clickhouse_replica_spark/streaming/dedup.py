"""Incremental (streaming) MinHash-LSH near-dup detection.

The batch dedup queries scan the whole corpus; a training-data INGEST
pipeline needs the streaming shape: as new documents arrive, find their
near-dup candidates against everything already ingested WITHOUT
rescanning the corpus. Classic incremental LSH:

- per micro-batch, compute the batch docs' band signatures
  (operators/minhash.py — same signature the batch query uses);
- candidates = (new vs accumulated signature store) ∪ (new vs new),
  both bucket-local equi-joins on (band, sig);
- append the batch signatures to the store.

State is the signature store — ``bands * |docs|`` tiny rows, NOT the
corpus — partitioned by ``batch_id`` so a replayed batch OVERWRITES its
own signatures and pair outputs (idempotent, like the pipeline's
dead-letter path). At 100 TB the store is the only growing state and is
itself bucketable by (band, sig); the per-batch join touches one
bucket's worth of store rows per new signature.

A batch cannot see corpus-global document frequency, so by default the
shingles here are UNCAPPED. Production systems maintain a rolling df
sketch; that sketch's output is exactly the optional ``hot_shingles``
relation — a ``(s)`` list of stopword-like shingles anti-joined out of
every batch's shingle stream (same discipline as the batch queries'
``drop_hot_shingles``). With a hot list built by the batch cap formula,
the streaming candidate set equals the df-capped batch query's exactly
(tests/test_streaming_curation.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.minhash import band_signatures, candidate_pairs, word_shingles
from ..operators.part_store import PartStore


class IncrementalLshDedup:
    """foreachBatch-driven incremental near-dup candidate finder."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        store_dir: str,
        pairs_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        hot_shingles: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.pairs_dir = pairs_dir
        self.id_col = id_col
        self.text_col = text_col
        self.store = PartStore(store_dir)
        # The rolling-df-sketch output: a tiny (s) relation, constant for
        # the run — materialize once, anti-join into every batch.
        self._hot = (
            hot_shingles.select("s").localCheckpoint(eager=True)
            if hot_shingles is not None else None
        )

    def _shingles(self, batch: DataFrame) -> DataFrame:
        sh = word_shingles(batch, id_col=self.id_col, text_col=self.text_col)
        if self._hot is not None:
            sh = sh.join(self._hot, "s", "left_anti")
        return sh

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        sigs = band_signatures(self._shingles(batch), id_col=self.id_col)
        # Signatures are re-read twice below (store join + self join);
        # they are bands-per-doc tiny — materialize once.
        sigs = sigs.localCheckpoint(eager=True)

        # Every signature part but this batch's own: the prior state a
        # replay of the batch must be computed against.
        store = self.store.read(self.spark, exclude=batch_id)
        pairs = candidate_pairs(sigs, id_col=self.id_col)  # new vs new
        if store is not None:
            pairs = pairs.unionByName(
                candidate_pairs(sigs, store, id_col=self.id_col)  # new vs old
            ).distinct()

        pairs.write.mode("overwrite").parquet(
            os.path.join(self.pairs_dir, f"batch_id={batch_id}")
        )
        self.store.write_batch(sigs, batch_id)

    def attach(
        self, docs_stream: DataFrame, *, checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        writer = (
            docs_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def all_candidates(self) -> DataFrame:
        """Every near-dup candidate pair seen so far (normalized, distinct).

        A stream that has produced no pairs yet (no batches ran, or every
        batch's pair set was empty) leaves nothing for parquet schema
        inference — return an empty typed frame instead of raising.
        """
        from pyspark.sql.utils import AnalysisException

        try:
            return (
                self.spark.read.parquet(self.pairs_dir)
                .select("doc_a", "doc_b")  # drop the batch_id partition column
                .distinct()
            )
        except AnalysisException:
            return self.spark.createDataFrame([], "doc_a long, doc_b long")


class IncrementalAHashDedup:
    """foreachBatch-driven incremental PERCEPTUAL IMAGE dedup — the
    multimodal twin of :class:`IncrementalLshDedup`: as new images
    arrive, find their near-duplicates against everything already
    ingested without rescanning the store's payloads.

    Per micro-batch of ``(media_id, payload)`` rows:

    - decode + aHash each new image (operators/multimodal.extract_ahash
      — the SAME signature the batch ``mm_ahash_near_dup`` query uses);
    - candidates = band-bucket matches (new vs new) ∪ (new vs the
      accumulated signature store), 4 x 16-bit pigeonhole bands;
    - VERIFY with bit_count(xor) Hamming <= ``hamming_max`` — possible
      incrementally because the store keeps full 64-bit signatures
      (8 bytes/image), never payloads;
    - append the batch's signatures to the store.

    State is signatures only, partitioned by ``batch_id`` so a replayed
    batch overwrites its own signatures and pair outputs (idempotent).
    No occupancy cap on band buckets here: the cap needs store-global
    occupancy counts — same documented trade-off as the streaming LSH
    deduper's missing df cap (a production gate keeps a rolling
    occupancy sketch).
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        store_dir: str,
        pairs_dir: str,
        hamming_max: int = 6,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.pairs_dir = pairs_dir
        self.hamming_max = hamming_max
        self.store = PartStore(store_dir)

    @staticmethod
    def _bands(sigs: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return sigs.select(
            F.col("media_id").alias("doc_id"),
            F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, sig)"),
        )

    def _verified(self, cand: DataFrame, sigs_all: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        sa = sigs_all.select(
            F.col("media_id").alias("doc_a"),
            *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
        )
        sb = sigs_all.select(
            F.col("media_id").alias("doc_b"),
            *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)],
        )
        hamming = sum(
            F.expr(f"bit_count(a{k} ^ bb{k})") for k in range(4)
        ).cast("int")
        return (
            cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= self.hamming_max)
        )

    def process_batch(self, media_batch: DataFrame, batch_id: int) -> None:
        from ..operators.multimodal import extract_ahash
        from ..operators.minhash import candidate_pairs

        sigs = extract_ahash(media_batch).localCheckpoint(eager=True)
        bands = self._bands(sigs)
        store = self.store.read(self.spark, exclude=batch_id)
        cand = candidate_pairs(bands)  # new vs new
        sigs_all = sigs
        if store is not None:
            cand = cand.unionByName(
                candidate_pairs(bands, self._bands(store))  # new vs old
            ).distinct()
            # A re-ingested media_id (update/replay of a different batch)
            # has a signature row in BOTH the batch and the store; keep
            # only the newest so the verification joins don't fan out
            # into duplicate pair rows with mixed old/new Hamming values.
            sigs_all = sigs.unionByName(
                store.select("media_id", "width", "height",
                             "b0", "b1", "b2", "b3")
                .join(sigs.select("media_id"), "media_id", "left_anti")
            )
        pairs = self._verified(cand, sigs_all)
        pairs.write.mode("overwrite").parquet(
            os.path.join(self.pairs_dir, f"batch_id={batch_id}")
        )
        self.store.write_batch(sigs, batch_id)

    def attach(
        self, media_stream: DataFrame, *, checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        writer = (
            media_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def all_pairs(self) -> DataFrame:
        """Every verified near-dup pair seen so far (distinct, with the
        minimum Hamming recorded for pairs seen in multiple batches)."""
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        try:
            return (
                self.spark.read.parquet(self.pairs_dir)
                .groupBy("doc_a", "doc_b")
                .agg(F.min("hamming").cast("int").alias("hamming"))
            )
        except AnalysisException:
            return self.spark.createDataFrame(
                [], "doc_a long, doc_b long, hamming int"
            )
