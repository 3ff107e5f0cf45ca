"""Streaming curation gate — the ingest-time composition of the three
incremental engines (VERDICT r6 item 4).

``tools/curate.py`` runs the release pipeline as a batch over a resting
corpus. A training-data INGEST pipeline wants the same decisions made as
documents arrive, without ever rescanning the corpus. This module chains,
inside ONE ``foreachBatch`` per stream:

- **contamination gate** — :class:`~..streaming.decontam.StreamingDecontam`
  flags each arriving doc against the broadcast benchmark signatures;
- **incremental text dedup** —
  :class:`~..streaming.dedup.IncrementalLshDedup` finds near-dup
  candidates against everything already ingested (signature store, never
  payloads);
- **incremental image dedup** —
  :class:`~..streaming.dedup.IncrementalAHashDedup` does the perceptual
  twin over an attached media stream;
- **quality ledger** — each batch's docs are scored ONCE at ingest with
  the exact expression the registered ``text_quality_score`` query uses
  (``llm_ops.quality_scores``) and appended to a tiny
  ``(doc_id, quality_score)`` ledger.

The expensive per-document work (shingling, MinHash, PNG decode, aHash,
quality scoring) all happens incrementally, batch by batch. The RELEASE
decision — which near-dup cluster member is canonical — is inherently
corpus-global (a cluster is only final once all its members have
arrived), so :meth:`StreamingCurationGate.keep_list` computes it at
release time from the ACCUMULATED SMALL STATE ONLY: candidate pairs,
contamination flags, image pairs, and the quality ledger. The corpus
text/payloads are never re-read. This is exactly how production curation
runs: stream the per-doc work, finalize the keep decision on the
collected sketch state.

Parity (tests/test_streaming_curation.py): constructed with the
corpus-global hot-shingle list (the rolling df sketch's output,
:func:`hot_shingle_list`), the gate's ``keep_list()`` equals the doc set
``tools/curate.py`` exports over the same corpus — the streaming twin of
the r5/r6 product-surface runs — and each added stage (fuzzy decontam,
image dedup) equals its registered batch query's verdicts.

Scale shape at 100 TB: per-batch work is O(batch) joins against
broadcast eval signatures plus bucket-local probes of the signature
store; accumulated state is signatures/pairs/flags (bytes per doc), so
``keep_list`` runs on relations ~10^4x smaller than the corpus, and the
final keep join is a doc_id anti-join any engine co-partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .decontam import StreamingDecontam
from .dedup import IncrementalAHashDedup, IncrementalLshDedup


def hot_shingle_list(docs: DataFrame) -> DataFrame:
    """The corpus-global stopword-like shingle list ``(s)`` under the
    SAME df-cap formula the batch queries use (``_hot_shingle_cap``:
    >1% of docs, floor 5, ceiling 64) — the static stand-in for a
    production rolling df sketch. Feed it to the gate so streaming
    candidates equal the df-capped batch queries' exactly."""
    from ..operators.minhash import word_shingles
    from ..queries.llm_ops import _hot_shingle_cap

    cap = _hot_shingle_cap(docs.count())
    return (
        word_shingles(docs)
        .groupBy("s").agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > cap)
        .select("s")
    )


class StreamingCurationGate:
    """foreachBatch-driven ingest-time curation: decontam gate +
    incremental text dedup + incremental image dedup + quality ledger,
    with a release-time ``keep_list()`` over the accumulated state."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        out_root: str,
        eval_docs: DataFrame | None = None,
        hot_shingles: DataFrame | None = None,
        quality_min: int = 2,
        hamming_max: int = 6,
    ) -> None:
        self.spark = spark
        self.out_root = out_root
        self.quality_min = quality_min
        self.docs_dir = os.path.join(out_root, "docs")
        self.text = IncrementalLshDedup(
            spark,
            store_dir=os.path.join(out_root, "text_store"),
            pairs_dir=os.path.join(out_root, "text_pairs"),
            hot_shingles=hot_shingles,
        )
        self.decontam = (
            StreamingDecontam(
                spark,
                eval_docs,
                flags_dir=os.path.join(out_root, "flags"),
                hot_shingles=hot_shingles,
            )
            if eval_docs is not None
            else None
        )
        self.images = IncrementalAHashDedup(
            spark,
            store_dir=os.path.join(out_root, "image_store"),
            pairs_dir=os.path.join(out_root, "image_pairs"),
            hamming_max=hamming_max,
        )
        # Release-time drop sets (connected components over accumulated
        # pairs) are expensive; keep_list() followed by funnel_report()
        # — the exact sequence tools/ingest.py runs — would rebuild each
        # graph twice. Memoize per accumulated-state version instead:
        # any new batch bumps the version and invalidates the cache.
        self._state_ver = 0
        self._drop_cache: dict = {}

    # -- per-batch ingest work ---------------------------------------------

    def process_doc_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One document micro-batch: quality ledger + text dedup
        signatures/candidates + contamination flags. The batch is the
        only thing scanned; every output partition is keyed by
        ``batch_id`` so a replayed batch overwrites itself."""
        from ..queries.llm_ops import quality_scores

        self._state_ver += 1
        batch = batch.localCheckpoint(eager=True)  # scanned by 3 stages
        quality_scores(batch).select("doc_id", "quality_score").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.docs_dir, f"batch_id={batch_id}"))
        self.text.process_batch(batch.select("doc_id", "text"), batch_id)
        if self.decontam is not None:
            self.decontam.process_batch(batch, batch_id)

    def process_media_batch(self, media_batch: DataFrame, batch_id: int) -> None:
        """One media micro-batch through the perceptual dedup engine."""
        self._state_ver += 1
        self.images.process_batch(media_batch, batch_id)

    def attach_docs(
        self, docs_stream: DataFrame, *, checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        writer = (
            docs_stream.writeStream.foreachBatch(self.process_doc_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def attach_wal(
        self,
        *,
        mapping,
        data_schema,
        wal_options: dict,
        checkpoint_dir: str,
        collections=None,
        processing_time: str = "500 milliseconds",
    ) -> StreamingQuery:
        """The full reference-shape ingest fused with the LLM gate
        (VERDICT r7 item 8): native ``arango_wal`` streaming source
        (WAL ticks are the checkpoint offsets) -> the DSL cast kernel
        (``schema.dsl`` — the F1-F13 surface, compiled ONCE against the
        envelope schema) -> this gate's per-batch curation stages, all
        in one streaming query. Document upserts flow through; the DSL's
        dead-letter split lands under ``<out_root>/dead_letter/`` keyed
        by batch so replays overwrite (A4 semantics). ``mapping`` must
        produce at least (doc_id, text).

        Parity (tests/test_wal_curation.py): the keep_list after
        draining a scripted WAL equals feeding the same documents
        through the DSL transform and ``process_doc_batch`` directly.
        """
        from ..schema.dsl import compile_mapping
        from ..sources.arango_wal import UPSERT_DOCUMENT
        from ..sources.wal_datasource import wal_envelope_stream

        stream = wal_envelope_stream(
            self.spark, data_schema,
            wal_options=wal_options, collections=collections,
        ).filter(F.col("type") == UPSERT_DOCUMENT)
        compiled = compile_mapping(mapping, stream.schema, doc_col="data")
        dead_dir = os.path.join(self.out_root, "dead_letter")

        def _apply(batch: DataFrame, batch_id: int) -> None:
            res = compiled.apply(batch)
            res.rejected.select(
                "tick", "cuid", F.to_json("data").alias("doc"), "_errors"
            ).write.mode("overwrite").json(
                os.path.join(dead_dir, f"batch_id={batch_id}")
            )
            self.process_doc_batch(res.valid, batch_id)

        return (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )

    def attach_media(
        self, media_stream: DataFrame, *, checkpoint_dir: str,
        available_now: bool = True,
    ) -> StreamingQuery:
        writer = (
            media_stream.writeStream.foreachBatch(self.process_media_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- release-time decision over accumulated small state ----------------

    def _ledger(self) -> DataFrame:
        # A doc re-ingested in two batches has two ledger rows (scores
        # are deterministic in the text, so they agree) — keep one.
        return (
            self.spark.read.parquet(self.docs_dir)
            .select("doc_id", "quality_score")
            .dropDuplicates(["doc_id"])
        )

    def _cached_drops(self, key: str, build) -> DataFrame:
        """Build-once per accumulated-state version: the drop graphs are
        shared between ``keep_list()`` and ``funnel_report()`` via an
        eager ``localCheckpoint`` so the component iteration never
        re-runs for the second caller (ADVICE r7)."""
        hit = self._drop_cache.get(key)
        if hit is not None and hit[0] == self._state_ver:
            return hit[1]
        df = build().localCheckpoint(eager=True)
        self._drop_cache[key] = (self._state_ver, df)
        return df

    def _text_drops(self) -> DataFrame:
        """Non-canonical members of text near-dup clusters (cluster =
        connected component over accumulated candidate pairs; canonical
        = min doc_id — the same collapse ``clusters_relation`` uses)."""
        from ..operators.components import connected_components

        return self._cached_drops(
            "text",
            lambda: connected_components(
                self.text.all_candidates(), src="doc_a", dst="doc_b"
            )
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("doc_id")),
        )

    def _contaminated(self) -> DataFrame:
        assert self.decontam is not None
        return self._cached_drops(
            "contam",
            lambda: self.decontam.all_flags()
            .filter("contaminated")
            .select(F.col("train_doc").alias("doc_id"))
            .distinct(),
        )

    def _image_drops(self) -> DataFrame:
        """Non-canonical members of perceptual image clusters, mapped to
        doc ids (media_id == doc_id in this engine's media model)."""
        from ..operators.components import connected_components

        return self._cached_drops(
            "image",
            lambda: connected_components(
                self.images.all_pairs().select("doc_a", "doc_b"),
                src="doc_a", dst="doc_b",
            )
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("doc_id")),
        )

    def keep_list(self) -> DataFrame:
        """The release keep decision ``(doc_id, quality_score)``:
        canonical-or-unclustered under text dedup, quality >=
        ``quality_min``, not contaminated (when an eval set is gated),
        and canonical-or-unclustered under image dedup (when media
        streamed). Computed ENTIRELY from accumulated sketch state —
        the corpus is never re-read."""
        kept = (
            self._ledger()
            .join(self._text_drops(), "doc_id", "left_anti")
            .filter(F.col("quality_score") >= self.quality_min)
        )
        if self.decontam is not None:
            kept = kept.join(self._contaminated(), "doc_id", "left_anti")
        if os.path.isdir(self.images.pairs_dir):
            kept = kept.join(self._image_drops(), "doc_id", "left_anti")
        return kept

    def funnel_report(self) -> DataFrame:
        """Per-stage drop census ``(stage, n)`` — the streaming twin of
        the batch funnel report. Stages count independently (a doc can
        fall in several); ``kept`` is the final intersection."""
        ledger = self._ledger()
        rows = [("ingested", ledger.count()),
                ("text_dup_dropped", self._text_drops().count()),
                ("low_quality",
                 ledger.filter(
                     F.col("quality_score") < self.quality_min
                 ).count())]
        if self.decontam is not None:
            rows.append(("contaminated", self._contaminated().count()))
        if os.path.isdir(self.images.pairs_dir):
            rows.append(("image_dup_dropped", self._image_drops().count()))
        rows.append(("kept", self.keep_list().count()))
        return self.spark.createDataFrame(rows, "stage string, n long")
