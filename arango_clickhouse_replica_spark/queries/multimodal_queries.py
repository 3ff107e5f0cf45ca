"""Multimodal-column queries (SURVEY §2.12): binary payloads + metadata
structs + Pandas-UDF feature extraction over ``mapInPandas``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    resample_wav_media,
    resize_media,
    synth_png_media,
    synth_wav_media,
)
from ..sources.tables import load_table
from .registry import query

# r14 optimization round: the per-(application, sf_dir) session memo that
# used to live here was REMOVED. It served checkpointed decode results
# across builds, so a bench's repeat runs (and any later query sharing the
# relation) never re-paid the decode — timings measured memo hits, not the
# computation. The round contract forbids module-level result memos keyed
# on the input dir; every build now recomputes from parquet. The
# localCheckpoint below is per-BUILD only (legitimate within-query reuse:
# several queries consume the same decoded relation more than once).


def band_occupancy_cap(n_docs: int) -> int:
    """Degenerate-bucket guard for the aHash/pHash/audio-fingerprint
    band joins: buckets larger than this are dropped before pairing.
    Bounded at a CONSTANT 64, so candidate volume stays linear at any
    corpus size. Shared with tools/media_pair_probe.py so the probe
    measures the exact stage the queries run."""
    return max(16, min(64, n_docs // 100))


def frame_sig_occupancy_cap(n_docs: int) -> int:
    """Same guard for the video frame-signature join (wider signatures,
    smaller true-dup buckets -> lower floor)."""
    return max(8, min(64, n_docs // 50))


def _cached_media(spark: SparkSession, sf_dir: str, name: str, build):
    return build().localCheckpoint(eager=True)


@query(
    "mm_wav_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n, 8000 + 100 * (doc_id % 5) AS rate
      FROM documents
    ),
    s AS (
      SELECT p.doc_id, p.n, p.rate,
             ((p.doc_id * 31 + u.i * 7) % 2001) - 1000 AS smp
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    )
    SELECT doc_id AS media_id,
           CAST(1 AS INT) AS n_channels,
           CAST(rate AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
           round(sqrt(CAST(SUM(smp * smp) AS DOUBLE) / n), 6) AS rms
    FROM s GROUP BY doc_id, n, rate
    """,
    tags=("multimodal", "audio", "codec", "pandas-udf"),
    doc="REAL audio decode end to end: deterministic PCM16 samples are "
        "serialized into genuine RIFF/WAVE files (operators/media_codecs "
        "encode_wav_pcm16), the payloads cross an Arrow batch boundary as "
        "binary, and a second mapInPandas stage re-parses them with the "
        "full chunk-walking WAV decoder — features (exact integer "
        "moments of the DECODED samples) then hash-match a closed-form "
        "oracle that never sees the bytes. Any header-offset or "
        "endianness bug in either codec breaks the match. RMS derives "
        "JVM-side from the exact sum of squares (one division + one "
        "correctly-rounded sqrt on both engines).",
)
def mm_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = extract_audio_features(synth_wav_media(docs))
    return feats.select(
        "media_id",
        "n_channels",
        "sample_rate",
        "n_samples",
        "sum_abs",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples")), 6
        ).alias("rms"),
    )


@query(
    "mm_png_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 7 + 3 * (u.k % p.w) + 5 * (u.k // p.w)) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           round(CAST(SUM(v) AS DOUBLE) / (w * h), 6) AS mean_pixel,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL image decode end to end: deterministic grayscale gradients "
        "are encoded as genuine PNG files (zlib-deflated IDAT, chunk "
        "CRCs — operators/media_codecs encode_png_gray8), cross Arrow as "
        "binary, and are re-parsed by the pure-Python PNG decoder "
        "(signature, CRC verification, inflate, scanline unfilter). "
        "Features are exact integer moments of the DECODED pixels, "
        "hash-matched against a closed-form oracle that never sees the "
        "bytes; the unfilter paths (Sub/Up/Average/Paeth) are covered "
        "byte-level in tests/test_multimodal.py.",
)
def mm_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    feats = extract_image_features(synth_png_media(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        "sum_pixels",
        F.round(
            F.col("sum_pixels").cast("double") / F.col("n_pixels").cast("double"),
            6,
        ).alias("mean_pixel"),
        "px_min",
        "px_max",
    )


@query(
    "mm_png_resize_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (u.k % p.w) // 2 AS ox, (u.k // p.w) // 2 AS oy,
             (p.doc_id * 7 + 3 * (u.k % p.w) + 5 * (u.k // p.w)) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    ),
    op AS (
      SELECT doc_id, w, h, ox, oy,
             CAST(SUM(v) // COUNT(*) AS BIGINT) AS ov
      FROM px GROUP BY doc_id, w, h, ox, oy
    )
    SELECT doc_id AS media_id,
           CAST((w + 1) // 2 AS INT) AS width,
           CAST((h + 1) // 2 AS INT) AS height,
           CAST(((w + 1) // 2) * ((h + 1) // 2) AS BIGINT) AS n_pixels,
           CAST(SUM(ov) AS BIGINT) AS sum_pixels,
           round(CAST(SUM(ov) AS DOUBLE)
                 / (((w + 1) // 2) * ((h + 1) // 2)), 6) AS mean_pixel,
           CAST(MIN(ov) AS INT) AS px_min,
           CAST(MAX(ov) AS INT) AS px_max
    FROM op GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL image resize end to end (r4 verdict item #5): deterministic "
        "gray8 gradients encode to genuine PNGs, a second mapInPandas "
        "stage DECODES each payload (CRC/inflate/unfilter), box-filters "
        "it 2x per axis with exact floor-mean integer arithmetic, and "
        "RE-ENCODES a genuine smaller PNG; a third stage decodes THAT "
        "payload again and emits integer moments of the resized pixels. "
        "The closed-form oracle recomputes every output pixel as "
        "SUM(v) // COUNT(*) over its edge-clipped input block without "
        "ever seeing bytes — any defect in decode, filter math, or "
        "re-encode breaks the value hash. Three narrow 1:1 stages, no "
        "shuffle; decode+resize is microseconds per payload, I/O-bound "
        "at 100 TB.",
)
def mm_png_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    resized = resize_media(synth_png_media(docs), scale_denom=2)
    feats = extract_image_features(resized)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        "sum_pixels",
        F.round(
            F.col("sum_pixels").cast("double") / F.col("n_pixels").cast("double"),
            6,
        ).alias("mean_pixel"),
        "px_min",
        "px_max",
    )


@query(
    "mm_jpeg_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 2 + doc_id % 3 AS wb, 2 + doc_id % 2 AS hb
      FROM documents
    ),
    blocks AS (
      SELECT p.doc_id, p.wb, p.hb,
             (p.doc_id * 37 + 41 * (u.k % p.wb) + 59 * (u.k // p.wb)) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.wb * p.hb AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(8 * wb AS INT) AS width,
           CAST(8 * hb AS INT) AS height,
           CAST(64 * wb * hb AS BIGINT) AS n_pixels,
           CAST(64 * SUM(v) AS BIGINT) AS sum_pixels,
           round(CAST(64 * SUM(v) AS DOUBLE) / (64 * wb * hb), 6) AS mean_pixel,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM blocks GROUP BY doc_id, wb, hb
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL JPEG decode end to end: deterministic piecewise-constant "
        "gray8 images are encoded "
        "as genuine baseline JPEGs (8x8 DCT, flat quantization table, "
        "Annex-K Huffman entropy coding, byte stuffing, JFIF markers — "
        "operators/media_codecs encode_jpeg_gray8), cross Arrow as "
        "binary, and are re-parsed by the pure-numpy decoder (marker "
        "walk, canonical Huffman decode, differential DC, EOB/ZRL runs, "
        "dezigzag, IDCT). Constant 8x8 blocks make the lossy transform "
        "bit-exact (DC-only blocks, integral DC = 8*(v-128)), so integer "
        "moments of the DECODED pixels hash-match a closed-form oracle "
        "that never sees the bytes; honest lossy behavior on arbitrary "
        "content is bounded-error tested in tests/test_multimodal.py. "
        "Scale shape: two chained 1:1 mapInPandas stages, zero "
        "exchanges; per-payload work is microseconds of numpy DCT math, "
        "so the pipeline is scan/IO-bound and partition-parallel at "
        "100 TB.",
)
def mm_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_jpeg_features, synth_jpeg_media

    docs = load_table(spark, "documents", sf_dir)
    feats = extract_jpeg_features(synth_jpeg_media(docs))
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        "sum_pixels",
        F.round(
            F.col("sum_pixels").cast("double") / F.col("n_pixels").cast("double"),
            6,
        ).alias("mean_pixel"),
        "px_min",
        "px_max",
    )


@query(
    "mm_wav_resample_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n, 8000 + 100 * (doc_id % 5) AS rate
      FROM documents
    ),
    s AS (
      SELECT p.doc_id, p.n, p.rate, u.i,
             ((p.doc_id * 31 + u.i * 7) % 2001) - 1000 AS smp
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    ),
    o AS (
      SELECT doc_id, n, rate, smp AS v FROM s
      UNION ALL
      SELECT a.doc_id, a.n, a.rate,
             CAST(floor((a.smp + b.smp) / 2.0) AS BIGINT) AS v
      FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    )
    SELECT doc_id AS media_id,
           CAST(1 AS INT) AS n_channels,
           CAST(2 * rate AS INT) AS sample_rate,
           CAST(2 * n - 1 AS BIGINT) AS n_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           round(sqrt(CAST(SUM(v * v) AS DOUBLE) / (2 * n - 1)), 6) AS rms
    FROM o GROUP BY doc_id, n, rate
    """,
    tags=("multimodal", "audio", "codec", "pandas-udf"),
    doc="REAL audio resample end to end (the audio twin of "
        "mm_png_resize_features): deterministic PCM16 signals encode to "
        "genuine RIFF/WAVE files, a second mapInPandas stage DECODES "
        "each payload, 2x linear-interpolation upsamples it with exact "
        "floor integer arithmetic (floor((a+b)/2) midpoints — floor, "
        "not truncation: DuckDB's // truncates on negative samples and "
        "would diverge), and RE-ENCODES a genuine WAV at double the "
        "rate; a third stage decodes THAT payload and emits integer "
        "moments of the resampled samples. The closed-form oracle "
        "recomputes every output sample without seeing bytes — any "
        "header, endianness, or interpolation defect breaks the value "
        "hash. Three narrow 1:1 stages, no shuffle; work per payload is "
        "numpy integer math, scan/IO-bound at 100 TB.",
)
def mm_wav_resample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    up = resample_wav_media(synth_wav_media(docs), factor=2)
    feats = extract_audio_features(up)
    return feats.select(
        "media_id",
        "n_channels",
        "sample_rate",
        "n_samples",
        "sum_abs",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples")), 6
        ).alias("rms"),
    )


@query(
    "mm_mjpeg_frame_sample",
    oracle="""
    WITH params AS (
      SELECT doc_id, 2 + doc_id % 3 AS n FROM documents
    ),
    fr AS (
      SELECT p.doc_id, CAST(u.f AS INT) AS frame_no
      FROM params p, unnest(range(0, CAST(p.n AS INT), 2)) AS u(f)
    ),
    vals AS (
      SELECT doc_id, frame_no,
             (doc_id * 37 + 17 * frame_no) % 256 AS v0,
             (doc_id * 37 + 41 + 17 * frame_no) % 256 AS v1
      FROM fr
    )
    SELECT doc_id AS media_id, frame_no,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(64 * (v0 + v1) AS BIGINT) AS sum_pixels,
           CAST(LEAST(v0, v1) AS INT) AS px_min,
           CAST(GREATEST(v0, v1) AS INT) AS px_max
    FROM vals
    """,
    tags=("multimodal", "video", "codec", "pandas-udf"),
    doc="REAL video keyframe sampling end to end: deterministic "
        "multi-frame clips "
        "mux genuine baseline JPEGs into the MJPG container "
        "(magic + u32 frame index + payloads — operators/media_codecs), "
        "cross Arrow as binary, and a second mapInPandas stage DEMUXES "
        "the container (bounds-checked index walk), keeps every 2nd "
        "frame, fully DECODES each kept frame (Huffman, dezigzag, "
        "IDCT), and emits integer moments of the decoded pixels. "
        "Constant 8x8 blocks keep the lossy transform bit-exact, so the "
        "closed-form oracle replays every sampled frame's features "
        "without parsing bytes — a defect in the muxer, the index walk, "
        "the sampling stride, or the JPEG decode breaks the hash. "
        "Scale: two narrow stages (1:1 synth, 1:N demux-decode); "
        "per-frame work is numpy DCT math, scan/IO-bound, and the "
        "exploded frame rows parallelize downstream per-frame pipelines.",
)
def mm_mjpeg_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_mjpeg_frames, synth_mjpeg_media

    docs = load_table(spark, "documents", sf_dir)
    return sample_mjpeg_frames(synth_mjpeg_media(docs), every_n=2).select(
        "media_id",
        "frame_no",
        "width",
        "height",
        "sum_pixels",
        "px_min",
        "px_max",
    )


@query(
    "mm_wav_frame_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, u.i,
             ((p.doc_id * 31 + u.i * 7) % 2001) - 1000 AS smp
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    ),
    x AS (
      SELECT doc_id, i, smp,
             CAST(i // 16 AS INT) AS frame_no,
             LEAD(smp) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
             CAST((i + 1) // 16 AS INT) AS nxt_frame
      FROM s
    )
    SELECT doc_id AS media_id, frame_no,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(smp * smp) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN nxt IS NOT NULL AND nxt_frame = frame_no
                          AND ((smp >= 0) <> (nxt >= 0))
                     THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM x GROUP BY doc_id, frame_no
    """,
    tags=("multimodal", "audio", "codec", "pandas-udf"),
    doc="REAL framed audio analysis (the VAD/silence-detection "
        "primitives): genuine WAV payloads decode, split into 16-sample "
        "frames (last partial), and each frame reports energy (exact "
        "sum of squares) and zero-crossing count (sign change between "
        "consecutive in-frame samples; zero is non-negative) — all "
        "integer arithmetic, so the closed-form oracle hash-matches "
        "bit-for-bit. Two narrow stages (1:1 synth, 1:N decode+frame); "
        "the exploded frame rows are the unit downstream audio "
        "pipelines parallelize over at 100 TB.",
)
def mm_wav_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_audio_frames

    docs = load_table(spark, "documents", sf_dir)
    return extract_audio_frames(synth_wav_media(docs), frame_len=16).select(
        "media_id", "frame_no", "n_samples", "energy", "zero_crossings"
    )


_AHASH_HAMMING_MAX = 6


@query(
    "mm_ahash_near_dup",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id // 5 AS s, doc_id % 5 % 3 AS off,
             16 + (doc_id // 5) % 5 AS w, 16 + (doc_id // 5) % 3 AS h,
             3 + (doc_id // 5) % 4 AS ax, 5 + (doc_id // 5) % 3 AS ay
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             ((8 * ((u.k // w))) // h) * 8 + (8 * (u.k % w)) // w AS g,
             (s * 11 + ax * (u.k % w) + ay * (u.k // w) + off) % 256 AS v
      FROM dims, unnest(range(0, CAST(w * h AS INT))) AS u(k)
    ),
    cells AS (
      SELECT doc_id, g, SUM(v) AS cs, COUNT(*) AS cc
      FROM px GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, SUM(cs) AS ts, SUM(cc) AS tc FROM cells GROUP BY 1
    ),
    bits AS (
      SELECT c.doc_id, c.g,
             CASE WHEN c.cs * t.tc >= t.ts * c.cc THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, CAST(g // 16 AS INT) AS band,
             CAST(SUM(bit * (1 << CAST(g % 16 AS INT))) AS INT) AS sig
      FROM bits GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN sig END) AS b0,
             MAX(CASE WHEN band = 1 THEN sig END) AS b1,
             MAX(CASE WHEN band = 2 THEN sig END) AS b2,
             MAX(CASE WHEN band = 3 THEN sig END) AS b3
      FROM bands GROUP BY doc_id
    ),
    hot AS (
      SELECT band, sig FROM bands GROUP BY band, sig
      HAVING COUNT(*) > GREATEST(16, LEAST(64,
               (SELECT COUNT(*) FROM documents) // 100))
    ),
    cold AS (
      SELECT b.doc_id, b.band, b.sig FROM bands b
      LEFT JOIN hot h ON h.band = b.band AND h.sig = b.sig
      WHERE h.band IS NULL
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cold a JOIN cold b USING (band, sig)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
                + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
                AS INT) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    WHERE hamming <= {_AHASH_HAMMING_MAX}
    ORDER BY hamming, doc_a, doc_b
    """,
    tags=("multimodal", "image", "dedup", "pandas-udf"),
    doc="Perceptual IMAGE near-dup detection end to end: deterministic "
        "gradient families encode as genuine PNGs (per-group phase and "
        "slopes; the 5 consecutive doc_ids of a group are "
        "brightness-offset replicas — group size CONSTANT, so pair "
        "volume grows linearly with the corpus), a "
        "mapInPandas stage DECODES each payload (CRC/inflate/unfilter) "
        "and computes the classic average-hash — 8x8 grid means vs the "
        "global mean, EXACT cross-multiplied integers, packed into four "
        "16-bit bands — then the SimHash pigeonhole-band join proposes "
        "candidates and bit_count(xor) verifies Hamming <= 6. The "
        "closed-form oracle recomputes every pixel, bit, band, and "
        "popcount without seeing bytes, so codec + hashing + blocking "
        "are all value-hashed. Scale: the signature relation is 8 "
        "bytes/image; the band join shuffles 16-bit keys, never pixels; "
        "and DEGENERATE band buckets are occupancy-capped before the "
        "join — aHash bands on smooth images are low-entropy (an "
        "all-above-mean grid row is the 0xFFFF band every sky photo "
        "shares), and a bucket holding thousands of images carries no "
        "near-dup signal while costing O(n^2) pairs (measured: 215M "
        "candidates / 53s at 10x before the cap, 4.4s after). Same "
        "discipline as the hot-shingle df cap; a true sibling pair "
        "keeps colliding on its group-specific (rare) bands.",
)
def mm_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_ahash, synth_group_png_media

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    occ_cap = band_occupancy_cap(n_docs)
    sigs = extract_ahash(synth_group_png_media(docs))
    bands = sigs.select(
        F.col("media_id").alias("doc_id"),
        F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, sig)"),
    )
    # No broadcast hint on the hot list: it grows with corpus structure
    # (the blocking.py r5 rule) — AQE broadcasts it when actually small.
    hot = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > occ_cap)
        .select("band", "sig")
    )
    cold = bands.join(hot, ["band", "sig"], "left_anti")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("media_id").alias("doc_a"),
                     *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    sb = sigs.select(F.col("media_id").alias("doc_b"),
                     *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)])
    hamming = sum(
        F.expr(f"bit_count(a{k} ^ bb{k})") for k in range(4)
    ).cast("int")
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _AHASH_HAMMING_MAX)
        .orderBy("hamming", "doc_a", "doc_b")
    )


@query(
    "mm_audio_vad_segments",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, u.i,
             ((p.doc_id * 31 + u.i * 7) % 2001) - 1000 AS smp
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    ),
    frames AS (
      SELECT doc_id, CAST(i // 16 AS INT) AS frame_no,
             CAST(SUM(smp * smp) AS BIGINT) AS energy
      FROM s GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(energy) AS BIGINT) AS total_energy
      FROM frames GROUP BY doc_id
    ),
    act AS (
      SELECT f.doc_id, f.frame_no,
             f.frame_no - ROW_NUMBER() OVER (PARTITION BY f.doc_id
                                             ORDER BY f.frame_no) AS grp
      FROM frames f JOIN tot t USING (doc_id)
      WHERE f.energy * t.n_frames > t.total_energy
    ),
    segs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS seg_len
      FROM act GROUP BY doc_id, grp
    )
    SELECT t.doc_id AS media_id, t.n_frames,
           CAST(COALESCE(SUM(g.seg_len), 0) AS BIGINT) AS n_active_frames,
           CAST(COUNT(g.seg_len) AS BIGINT) AS n_segments,
           CAST(COALESCE(MAX(g.seg_len), 0) AS BIGINT) AS longest_segment,
           round(CAST(COALESCE(SUM(g.seg_len), 0) AS DOUBLE) / t.n_frames, 6)
             AS active_frac
    FROM tot t LEFT JOIN segs g ON g.doc_id = t.doc_id
    GROUP BY t.doc_id, t.n_frames
    ORDER BY media_id
    """,
    tags=("multimodal", "audio", "vad", "pandas-udf"),
    doc="Voice-activity segmentation over REAL decoded audio: genuine "
        "WAV payloads decode and frame (the mm_wav_frame_features "
        "pipeline), a frame is ACTIVE when its energy strictly exceeds "
        "the file's mean frame energy (energy * n_frames > total — "
        "exact integers, no float threshold), and consecutive active "
        "frames merge into segments via gaps-and-islands (frame_no "
        "minus per-file rank). Output per file: frame/active counts, "
        "segment count, longest segment, active fraction — the "
        "speech/music trimming decision a multimodal curation run "
        "applies before transcription. Frames aggregate map-side keyed "
        "by media_id; the islands window partitions by media_id "
        "(bounded by file length); closed-form integer oracle "
        "hash-checks decode + framing + segmentation end to end.",
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.multimodal import extract_audio_frames

    docs = load_table(spark, "documents", sf_dir)
    frames = extract_audio_frames(synth_wav_media(docs), frame_len=16).select(
        "media_id", "frame_no", "energy"
    )
    tot = frames.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("total_energy"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_no")
    act = (
        frames.join(tot, "media_id")
        .filter(F.col("energy") * F.col("n_frames") > F.col("total_energy"))
        .select(
            "media_id",
            (F.col("frame_no") - F.row_number().over(w)).alias("grp"),
        )
    )
    segs = act.groupBy("media_id", "grp").agg(
        F.count("*").cast("long").alias("seg_len")
    )
    return (
        tot.join(segs, "media_id", "left")
        .groupBy("media_id", "n_frames")
        .agg(
            F.coalesce(F.sum("seg_len"), F.lit(0))
            .cast("long").alias("n_active_frames"),
            F.count("seg_len").cast("long").alias("n_segments"),
            F.coalesce(F.max("seg_len"), F.lit(0))
            .cast("long").alias("longest_segment"),
            F.round(
                F.coalesce(F.sum("seg_len"), F.lit(0)).cast("double")
                / F.col("n_frames"), 6).alias("active_frac"),
        )
        .select("media_id", "n_frames", "n_active_frames", "n_segments",
                "longest_segment", "active_frac")
        .orderBy("media_id")
    )


# --- color image queries (VERDICT r6 item 3: the last real-codec gap) ------


@query(
    "mm_rgb_png_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 7 + 3 * (u.k % p.w) + 5 * (u.k // p.w)) % 256 AS r,
             (p.doc_id * 11 + 2 * (u.k % p.w) + 7 * (u.k // p.w)) % 256 AS g,
             (p.doc_id * 13 + 4 * (u.k % p.w) + (u.k // p.w)) % 256 AS b
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS INT) AS px_min,
           CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    """,
    tags=("multimodal", "image", "codec", "color", "pandas-udf"),
    doc="REAL COLOR image decode end to end: deterministic per-channel "
        "gradients encode as genuine color-type-2 PNGs "
        "(operators/media_codecs encode_png_rgb8 — zlib IDAT, chunk "
        "CRCs, stride 3w), cross Arrow as binary, and are re-parsed by "
        "the bpp-aware PNG decoder (the unfilter paths were always "
        "3-channel-capable; this query closes the encode half of the "
        "color gap, VERDICT r6 item 3). Features are exact per-channel "
        "integer moments of the DECODED interleaved pixels, "
        "hash-matched against a closed-form oracle that never sees "
        "bytes. Narrow 1:1 mapInPandas stages, no shuffle — I/O-bound "
        "at 100 TB like the gray path.",
)
def mm_rgb_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_color_image_features,
        synth_rgb_png_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    feats = _cached_media(
        spark, sf_dir, "rgb_png_features",
        lambda: extract_color_image_features(synth_rgb_png_media(docs)),
    )
    return feats.orderBy("media_id")


@query(
    "mm_color_jpeg_decode_features",
    oracle="""
    WITH mcus AS (
      SELECT d.doc_id, 1 + d.doc_id % 2 AS wb, u.mx,
             (d.doc_id * 37 + 41 * u.mx) % 256 AS r,
             (d.doc_id * 53 + 29 * u.mx) % 256 AS g,
             (d.doc_id * 71 + 13 * u.mx) % 256 AS b
      FROM documents d,
           unnest(range(0, CAST(1 + d.doc_id % 2 AS INT))) AS u(mx)
    ),
    -- fixed-point RGB->YCbCr: all numerators provably >= 0 over 0..255
    -- inputs, so DuckDB's truncating // IS floor here
    ycc AS (
      SELECT doc_id, wb, mx,
             (299 * r + 587 * g + 114 * b + 500) // 1000 AS y,
             LEAST((128000 - 169 * r - 331 * g + 500 * b + 500) // 1000,
                   255) AS cb,
             LEAST((128000 + 500 * r - 419 * g - 81 * b + 500) // 1000,
                   255) AS cr
      FROM mcus
    ),
    -- fixed-point YCbCr->RGB: numerators CAN be negative -> FLOOR(x/1000.0),
    -- never // (which truncates toward zero on negatives)
    out3 AS (
      SELECT doc_id, wb, mx,
             GREATEST(LEAST(CAST(FLOOR(
               (1000 * y + 1402 * (cr - 128) + 500) / 1000.0) AS BIGINT),
               255), 0) AS ro,
             GREATEST(LEAST(CAST(FLOOR(
               (1000 * y - 344 * (cb - 128) - 714 * (cr - 128) + 500)
               / 1000.0) AS BIGINT), 255), 0) AS go,
             GREATEST(LEAST(CAST(FLOOR(
               (1000 * y + 1772 * (cb - 128) + 500) / 1000.0) AS BIGINT),
               255), 0) AS bo
      FROM ycc
    )
    SELECT doc_id AS media_id,
           CAST(16 * wb AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(256 * wb AS BIGINT) AS n_pixels,
           CAST(256 * SUM(ro) AS BIGINT) AS sum_r,
           CAST(256 * SUM(go) AS BIGINT) AS sum_g,
           CAST(256 * SUM(bo) AS BIGINT) AS sum_b,
           CAST(LEAST(MIN(ro), MIN(go), MIN(bo)) AS INT) AS px_min,
           CAST(GREATEST(MAX(ro), MAX(go), MAX(bo)) AS INT) AS px_max
    FROM out3 GROUP BY doc_id, wb
    """,
    tags=("multimodal", "image", "codec", "color", "pandas-udf"),
    doc="REAL COLOR JPEG decode end to end (VERDICT r6 item 3): "
        "MCU-constant RGB images encode through the full 4:2:0 baseline "
        "pipeline — fixed-point YCbCr transform, 2x2 floor-mean chroma "
        "subsample, flat luma+chroma quant tables, Annex-K luminance "
        "AND chrominance Huffman pairs, interleaved 16x16-MCU scan "
        "(Y00 Y01 Y10 Y11 Cb Cr, per-component DC predictors) — and a "
        "second mapInPandas stage fully DECODES each payload (marker "
        "walk, per-id table registry, MCU-interleaved entropy decode, "
        "batched IDCT, chroma upsample, fixed-point YCbCr->RGB). "
        "MCU-constant input keeps the lossy chain EXACT (DC-only "
        "blocks, equal-value subsampling), so the oracle replays the "
        "decoded channels as from_ycbcr(to_ycbcr(rgb)) in pure integer "
        "SQL — any defect in either color transform, the chroma "
        "pipeline, table selection, or the interleave order breaks the "
        "value hash. The codec's honest lossiness on non-constant "
        "images is bounded in tests/test_multimodal.py.",
)
def mm_color_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_color_jpeg_features,
        synth_color_jpeg_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    feats = _cached_media(
        spark, sf_dir, "color_jpeg_features",
        lambda: extract_color_jpeg_features(synth_color_jpeg_media(docs)),
    )
    return feats.orderBy("media_id")


@query(
    "mm_color_ahash_near_dup",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id // 5 AS s, doc_id % 5 % 3 AS off,
             16 + (doc_id // 5) % 5 AS w, 16 + (doc_id // 5) % 3 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             ((8 * ((u.k // w))) // h) * 8 + (8 * (u.k % w)) // w AS g,
             299 * ((s * 11 + (3 + s % 4) * (u.k % w)
                     + (5 + s % 3) * (u.k // w) + off) % 256)
           + 587 * ((s * 17 + (2 + s % 3) * (u.k % w)
                     + (4 + s % 4) * (u.k // w) + off) % 256)
           + 114 * ((s * 23 + (1 + s % 5) * (u.k % w)
                     + (3 + s % 2) * (u.k // w) + off) % 256) AS v
      FROM dims, unnest(range(0, CAST(w * h AS INT))) AS u(k)
    ),
    cells AS (
      SELECT doc_id, g, SUM(v) AS cs, COUNT(*) AS cc
      FROM px GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, SUM(cs) AS ts, SUM(cc) AS tc FROM cells GROUP BY 1
    ),
    bits AS (
      SELECT c.doc_id, c.g,
             CASE WHEN c.cs * t.tc >= t.ts * c.cc THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, CAST(g // 16 AS INT) AS band,
             CAST(SUM(bit * (1 << CAST(g % 16 AS INT))) AS INT) AS sig
      FROM bits GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN sig END) AS b0,
             MAX(CASE WHEN band = 1 THEN sig END) AS b1,
             MAX(CASE WHEN band = 2 THEN sig END) AS b2,
             MAX(CASE WHEN band = 3 THEN sig END) AS b3
      FROM bands GROUP BY doc_id
    ),
    hot AS (
      SELECT band, sig FROM bands GROUP BY band, sig
      HAVING COUNT(*) > GREATEST(16, LEAST(64,
               (SELECT COUNT(*) FROM documents) // 100))
    ),
    cold AS (
      SELECT b.doc_id, b.band, b.sig FROM bands b
      LEFT JOIN hot h ON h.band = b.band AND h.sig = b.sig
      WHERE h.band IS NULL
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cold a JOIN cold b USING (band, sig)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
                + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
                AS INT) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    WHERE hamming <= {_AHASH_HAMMING_MAX}
    ORDER BY hamming, doc_a, doc_b
    """,
    tags=("multimodal", "image", "dedup", "color", "pandas-udf"),
    doc="Perceptual near-dup detection on COLOR images: bounded "
        "brightness-offset groups of color-type-2 PNGs decode through "
        "the bpp-aware unfilter, and the aHash stage weights each pixel "
        "by integer luma 299r+587g+114b — NO division, so the "
        "cross-multiplied cell-vs-global comparison stays exact and the "
        "oracle replays every bit (for gray input this weighting is "
        "1000v, bit-identical to the verified gray hash). Banding, the "
        "degenerate-bucket occupancy cap, the pigeonhole join, and "
        "bit_count verification are shared with mm_ahash_near_dup — "
        "same linear-in-corpus candidate volume; only the signature "
        "stage differs.",
)
def mm_color_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_ahash, synth_group_rgb_png_media

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    occ_cap = band_occupancy_cap(n_docs)
    sigs = _cached_media(
        spark, sf_dir, "color_ahash_sigs",
        lambda: extract_ahash(synth_group_rgb_png_media(docs)),
    )
    bands = sigs.select(
        F.col("media_id").alias("doc_id"),
        F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, sig)"),
    )
    hot = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > occ_cap)
        .select("band", "sig")
    )
    cold = bands.join(hot, ["band", "sig"], "left_anti")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("media_id").alias("doc_a"),
                     *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    sb = sigs.select(F.col("media_id").alias("doc_b"),
                     *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)])
    hamming = sum(
        F.expr(f"bit_count(a{k} ^ bb{k})") for k in range(4)
    ).cast("int")
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _AHASH_HAMMING_MAX)
        .orderBy("hamming", "doc_a", "doc_b")
    )


def _scene_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cut-detection relation: decoded per-frame pixel sums over
    the cached scene-clip frames with the gaps-and-islands scene id
    (the mm_mjpeg_scene_cuts construction, reused by the keyframe
    selector so the decode pass and the exchange are shared)."""
    from pyspark.sql.window import Window

    from ..operators.multimodal import (
        sample_mjpeg_frames,
        synth_mjpeg_scene_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    frames = _cached_media(
        spark, sf_dir, "mjpeg_frames",
        lambda: sample_mjpeg_frames(
            synth_mjpeg_scene_media(docs), every_n=1
        ),
    )
    w = Window.partitionBy("media_id").orderBy("frame_no")
    cut = F.when(
        F.abs(
            F.col("sum_pixels")
            - F.lag("sum_pixels").over(w)
        ) > 2000,
        1,
    ).otherwise(0)
    return frames.select(
        "media_id", "frame_no", "sum_pixels"
    ).withColumn(
        "scene_id",
        F.sum(cut).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("int"),
    )



@query(
    "mm_mjpeg_scene_cuts",
    oracle="""
    WITH params AS (
      SELECT doc_id, 3 + doc_id % 2 AS seg, 6 + doc_id % 4 AS n
      FROM documents
    ),
    fr AS (
      SELECT p.doc_id, p.seg, CAST(u.f AS INT) AS f
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(f)
    ),
    px AS (
      SELECT doc_id, f, CAST(f // seg AS INT) AS scene_id,
             128 * (16 + 60 * (f // seg) + 7 * (f % seg)) + 576
               AS sum_pixels
      FROM fr
    )
    SELECT doc_id AS media_id, scene_id,
           CAST(MIN(f) AS INT) AS start_frame,
           CAST(MAX(f) AS INT) AS end_frame,
           CAST(COUNT(*) AS INT) AS n_frames,
           CAST(SUM(sum_pixels) AS BIGINT) AS sum_pixels_total,
           round(CAST(SUM(sum_pixels) AS DOUBLE) / (128 * COUNT(*)), 6)
             AS mean_luma
    FROM px
    GROUP BY doc_id, scene_id
    ORDER BY media_id, scene_id
    """,
    tags=("multimodal", "video", "codec", "pandas-udf"),
    doc="REAL video scene-cut detection end to end (the temporal "
        "segmentation primitive every video training pipeline runs "
        "before clip sampling — shot boundaries from luma discontinuity, "
        "the classic FFmpeg `select='gt(scene,..)'` / PySceneDetect "
        "shape): deterministic multi-scene clips mux genuine baseline "
        "JPEGs into the MJPG container, a mapInPandas stage demuxes and "
        "fully DECODES every frame (Huffman, dezigzag, IDCT), and the "
        "cut detector itself is pure JVM DataFrame logic — a lag window "
        "over decoded per-frame pixel sums flags |delta| > 2000 "
        "(in-scene drift is 896, a cut is >= 4992 by construction), a "
        "running sum converts cut flags into scene ids (gaps-and-"
        "islands), and one aggregate emits each scene's span and mean "
        "luma. The closed-form oracle replays the ground-truth "
        "segmentation from the synth formula — a defect in the demux, "
        "the decode, the threshold, or the island assembly breaks the "
        "hash. Scale: decode is a narrow 1:N Arrow stage; the window "
        "and aggregate shuffle ONCE on media_id (frames-per-clip is "
        "bounded, so no skew), and per-frame work is numpy DCT math — "
        "scan/IO-bound at 100 TB.",
)
def mm_mjpeg_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    scenes = _scene_frames(spark, sf_dir)
    return (
        scenes.groupBy("media_id", "scene_id")
        .agg(
            F.min("frame_no").cast("int").alias("start_frame"),
            F.max("frame_no").cast("int").alias("end_frame"),
            F.count("*").cast("int").alias("n_frames"),
            F.sum("sum_pixels").cast("long").alias("sum_pixels_total"),
            F.round(
                F.sum("sum_pixels").cast("double")
                / (128 * F.count("*")), 6
            ).alias("mean_luma"),
        )
        .orderBy("media_id", "scene_id")
    )


@query(
    "mm_audio_clipping_report",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n, 1 + 16 * (doc_id % 3) AS g
      FROM documents
    ),
    smp AS (
      SELECT doc_id, n,
             GREATEST(-32768, LEAST(32767,
               (((doc_id * 31 + u.i * 7) % 2001) - 1000) * g)) AS s
      FROM params, unnest(range(0, CAST(n AS INT))) AS u(i)
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN s <= -32768 OR s >= 32767
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak,
           round(CAST(SUM(CASE WHEN s <= -32768 OR s >= 32767
                          THEN 1 ELSE 0 END) AS DOUBLE) / n, 6) AS clip_frac
    FROM smp GROUP BY doc_id, n ORDER BY media_id
    """,
    tags=("multimodal", "audio", "codec", "quality", "pandas-udf"),
    doc="Audio clipping census over REAL decoded WAVs — the loudness-QA "
        "gate an audio training pipeline runs before feature extraction "
        "(clipped segments corrupt spectral features; pipelines drop or "
        "attenuate them): a gain-swept synth (1x/17x/33x, clamped to "
        "int16 like any real recording chain) encodes through the RIFF "
        "encoder, a mapInPandas stage DECODES each payload and counts "
        "samples at the int16 rails plus the absolute peak — exact "
        "integers, replayed by a closed-form oracle that never sees "
        "bytes. Complements mm_audio_vad_segments (silence) with the "
        "other amplitude extreme. Scale: one narrow 1:1 Arrow decode "
        "stage, zero exchanges before the final orderBy.",
)
def mm_audio_clipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_audio_clipping,
        synth_gain_wav_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    feats = extract_audio_clipping(synth_gain_wav_media(docs))
    return feats.select(
        "media_id", "n_samples", "n_clipped", "peak",
        F.round(
            F.col("n_clipped").cast("double") / F.col("n_samples"), 6
        ).alias("clip_frac"),
    ).orderBy("media_id")


@query(
    "mm_video_frame_dedup",
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m,
             (5 + (doc_id // 4) % 3) - CASE WHEN doc_id % 4 = 3
                                            THEN 1 ELSE 0 END AS n,
             CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS off
      FROM documents
    ),
    q0 AS (
      SELECT p.doc_id, p.off, CAST(u.f AS INT) AS f,
             p.g * 32 + u.f * 4 + j.j AS q
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(f),
           unnest(range(0, 4)) AS j(j)
    ),
    h1 AS (SELECT *, (q * 2654435761) % 4294967296 AS ha FROM q0),
    h2 AS (SELECT *, xor(ha, ha // 65536) AS hb FROM h1),
    h3 AS (SELECT *, (hb * 65599) % 4294967296 AS hc FROM h2),
    h4 AS (SELECT *, xor(hc, hc // 65536) AS hd FROM h3),
    blocks AS (SELECT doc_id, f, 16 + hd % 239 + off AS b FROM h4),
    fr AS (
      SELECT doc_id, f, SUM(b) AS s, MIN(b) AS mn, MAX(b) AS mx
      FROM blocks GROUP BY doc_id, f
    ),
    sig AS (SELECT DISTINCT doc_id, 64 * s AS s, mn, mx FROM fr),
    nfr AS (SELECT doc_id, COUNT(*) AS n_frames FROM sig GROUP BY doc_id),
    hot AS (
      SELECT s, mn, mx FROM sig GROUP BY s, mn, mx
      HAVING COUNT(*) > GREATEST(8, LEAST(64,
               (SELECT COUNT(*) FROM documents) // 50))
    ),
    cold AS (
      SELECT g.doc_id, g.s, g.mn, g.mx FROM sig g
      LEFT JOIN hot h ON h.s = g.s AND h.mn = g.mn AND h.mx = g.mx
      WHERE h.s IS NULL
    ),
    pairs AS (
      SELECT a.doc_id AS video_a, b.doc_id AS video_b,
             CAST(COUNT(*) AS BIGINT) AS shared_frames
      FROM cold a JOIN cold b ON a.s = b.s AND a.mn = b.mn AND a.mx = b.mx
                             AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.video_a, p.video_b, p.shared_frames,
           CAST(na.n_frames AS BIGINT) AS n_a,
           CAST(nb.n_frames AS BIGINT) AS n_b,
           round(CAST(p.shared_frames AS DOUBLE)
                 / LEAST(na.n_frames, nb.n_frames), 6) AS containment
    FROM pairs p
    JOIN nfr na ON na.doc_id = p.video_a
    JOIN nfr nb ON nb.doc_id = p.video_b
    WHERE CAST(p.shared_frames AS DOUBLE)
          / LEAST(na.n_frames, nb.n_frames) >= 0.8
    ORDER BY video_a, video_b
    """,
    tags=("multimodal", "video", "dedup", "codec", "pandas-udf"),
    doc="Cross-video duplicate detection from decoded frame fingerprints "
        "— the content-ID primitive a video training pipeline runs to "
        "drop re-uploads and contained clips before sampling: group-"
        "content MJPG clips (exact dups, a +1-luma near-dup, a truncated "
        "copy) demux and entropy-decode per frame in the COMPRESSED "
        "domain (DC-image moments, Yeo & Liu 1995 — no inverse DCT; "
        "bit-equal to full pixel decode on this flat-block content, "
        "asserted in tests), each frame's exact "
        "(sum, min, max) block signature joins as a SET per video "
        "(bag-of-fingerprints with duplicate tuples collapsed), hot "
        "signatures past the BOUNDED occupancy cap (<= 64 — constant, "
        "so candidate volume stays linear at ANY corpus size) are "
        "dropped, and containment >= 0.8 against the SHORTER clip flags "
        "both full duplicates and clip containment (the truncated copy "
        "scores 1.0; the luma-shifted near-dup scores 0 by design — "
        "frame-exact matching, not perceptual: that lane is "
        "mm_color_ahash_near_dup). The synth content uses the shared "
        "32-bit mix (period 2^32): the first draft's mod-239 "
        "congruences made groups g and g+239 byte-identical clone "
        "families and pair volume QUADRATIC at sf0.1 — measured by "
        "tools/media_pair_probe.py and replaced. The closed-form "
        "oracle replays decode, mix, cap, join, and ratio. Scale: one "
        "narrow 1:N Arrow decode, the pair join shuffles 3-int "
        "signatures never pixels, per-video frame counts are a "
        "map-side-combinable aggregate.",
)
def mm_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        sample_mjpeg_dc_signatures,
        synth_mjpeg_group_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    occ_cap = frame_sig_occupancy_cap(n_docs)
    # DC-image signatures (VERDICT r8 item 4): the fingerprint only
    # needs block-level moments, so the frame pass stops at the entropy
    # walk — no inverse DCT, no pixel reconstruction. Bit-equal to the
    # full decode on this flat-block content (pytest asserts it), so
    # the closed-form oracle is untouched.
    frames = sample_mjpeg_dc_signatures(
        synth_mjpeg_group_media(docs), every_n=1
    )
    # Checkpoint AFTER the per-video distinct, not the raw frame rows
    # (r15, guide §2.4/§5): the decode still runs exactly once — inside
    # this materialization — but the persisted relation is the small
    # distinct signature set, and the three consumers below (frame
    # counts, hot buckets, cold probe) read it without each re-running
    # the distinct over the wider frame relation.
    sig = frames.select(
        F.col("media_id").alias("doc_id"),
        F.col("sum_pixels").alias("s"),
        F.col("px_min").alias("mn"),
        F.col("px_max").alias("mx"),
    ).distinct().localCheckpoint(eager=True)
    nfr = sig.groupBy("doc_id").agg(F.count("*").alias("n_frames"))
    hot = (
        sig.groupBy("s", "mn", "mx")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > occ_cap)
        .select("s", "mn", "mx")
    )
    cold = sig.join(hot, ["s", "mn", "mx"], "left_anti")
    pairs = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.mn") == F.col("b.mn"))
            & (F.col("a.mx") == F.col("b.mx"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("video_a"),
            F.col("b.doc_id").alias("video_b"),
        )
        .agg(F.count("*").cast("long").alias("shared_frames"))
    )
    na = nfr.select(F.col("doc_id").alias("video_a"),
                    F.col("n_frames").alias("n_a"))
    nb = nfr.select(F.col("doc_id").alias("video_b"),
                    F.col("n_frames").alias("n_b"))
    cont = F.col("shared_frames").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.join(na, "video_a").join(nb, "video_b")
        .filter(cont >= 0.8)
        .select(
            "video_a", "video_b", "shared_frames",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(cont, 6).alias("containment"),
        )
        .orderBy("video_a", "video_b")
    )


_PHASH_HAMMING_MAX = 12


def _phash_oracle() -> str:
    """Replays synth -> decode -> integer DCT -> rank bits -> band join
    entirely in SQL, sharing the DCT8_1024 constants with the Python
    extractor (any divergence in the basis, the rank tiebreak, or the
    band packing breaks the value hash)."""
    from ..operators.multimodal import DCT8_1024

    tvals = ", ".join(
        f"({j}, {u}, {DCT8_1024[j][u]})"
        for j in range(8) for u in range(8)
    )
    return f"""
    WITH tmat(j, u, c) AS (VALUES {tvals}),
    params AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
    ),
    q0 AS (
      SELECT p.doc_id, p.g, p.m, u.u, v.v,
             p.g * 64 + u.u * 8 + v.v AS q
      FROM params p, unnest(range(0, 8)) AS u(u),
           unnest(range(0, 8)) AS v(v)
    ),
    h1 AS (SELECT *, (q * 2654435761) % 4294967296 AS ha FROM q0),
    h2 AS (SELECT *, xor(ha, ha // 65536) AS hb FROM h1),
    h3 AS (SELECT *, (hb * 65599) % 4294967296 AS hc FROM h2),
    h4 AS (SELECT *, xor(hc, hc // 65536) AS hd FROM h3),
    vals AS (
      SELECT doc_id, u, v,
             4 * (CASE WHEN m = 3 AND u = g % 8 AND v = (g * 3 + 1) % 8
                  THEN LEAST(hd % 244 + 8 + 12, 255)
                  ELSE hd % 244 + 8
                       + CASE WHEN m = 2 THEN 2 ELSE 0 END END) AS val4
      FROM h4
    ),
    scoef AS (
      SELECT p.doc_id, tj.j AS j, tk.j AS k,
             SUM(tj.c * tk.c * p.val4) AS s
      FROM vals p
      JOIN tmat tj ON tj.u = p.v
      JOIN tmat tk ON tk.u = p.u
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT doc_id, j * 8 + k AS idx, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, j * 8 + k) AS rn
      FROM scoef WHERE NOT (j = 0 AND k = 0)
    ),
    bits AS (
      SELECT doc_id, idx - 1 AS pos,
             CASE WHEN rn <= 31 THEN 1 ELSE 0 END AS bit
      FROM ranked
    ),
    bands AS (
      SELECT doc_id, CAST(pos // 16 AS INT) AS band,
             CAST(SUM(bit * (1 << CAST(pos % 16 AS INT))) AS INT) AS sig
      FROM bits GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN sig END) AS b0,
             MAX(CASE WHEN band = 1 THEN sig END) AS b1,
             MAX(CASE WHEN band = 2 THEN sig END) AS b2,
             MAX(CASE WHEN band = 3 THEN sig END) AS b3
      FROM bands GROUP BY doc_id
    ),
    hot AS (
      SELECT band, sig FROM bands GROUP BY band, sig
      HAVING COUNT(*) > GREATEST(16, LEAST(64,
               (SELECT COUNT(*) FROM documents) // 100))
    ),
    cold AS (
      SELECT b.doc_id, b.band, b.sig FROM bands b
      LEFT JOIN hot h ON h.band = b.band AND h.sig = b.sig
      WHERE h.band IS NULL
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cold a JOIN cold b USING (band, sig)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
                + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
                AS INT) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    WHERE hamming <= {_PHASH_HAMMING_MAX}
    ORDER BY hamming, doc_a, doc_b
    """


@query(
    "mm_phash_dct_near_dup",
    oracle=_phash_oracle(),
    tags=("multimodal", "image", "dedup", "codec", "pandas-udf"),
    doc="Frequency-domain perceptual near-dup detection (pHash): REAL "
        "decoded 16x16 gray PNGs reduce to 8x8 cell sums, a FIXED-POINT "
        "integer 2-D DCT (shared 1024-scaled basis, rows j>=1 sum to "
        "exactly 0) produces 64 coefficients, and the 63 AC terms "
        "median-split by RANK (S DESC, index tiebreak) into a 63-bit "
        "hash — exact int64 arithmetic end to end, so the SQL oracle "
        "replays every bit including the DCT itself. The fixture "
        "proves the property aHash lacks: a uniform +2 brightness "
        "member hashes IDENTICALLY (only DC moves), while a one-cell "
        "+12 edit costs 1-2 bits and cross-group hashes stay >= 16 "
        "bits apart with zero band collisions. Banding, the occupancy "
        "cap, the pigeonhole join, and bit_count verification are "
        "shared with the aHash family — candidate volume linear in "
        "the corpus, the band join shuffles 16-bit keys never pixels.",
)
def mm_phash_dct_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_phash, synth_phash_group_media

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    occ_cap = band_occupancy_cap(n_docs)
    sigs = _cached_media(
        spark, sf_dir, "phash_sigs",
        lambda: extract_phash(synth_phash_group_media(docs)),
    )
    bands = sigs.select(
        F.col("media_id").alias("doc_id"),
        F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band, sig)"),
    )
    hot = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > occ_cap)
        .select("band", "sig")
    )
    cold = bands.join(hot, ["band", "sig"], "left_anti")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("media_id").alias("doc_a"),
                     *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    sb = sigs.select(F.col("media_id").alias("doc_b"),
                     *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)])
    hamming = sum(
        F.expr(f"bit_count(a{k} ^ bb{k})") for k in range(4)
    ).cast("int")
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _PHASH_HAMMING_MAX)
        .orderBy("hamming", "doc_a", "doc_b")
    )


def _entropy_oracle() -> str:
    """Replays synth -> decode -> histogram -> entropy in SQL (the
    phash_cell_value mix, then the verified round+DECIMAL log2 lane)."""
    return """
    WITH params AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
    ),
    q0 AS (
      SELECT p.doc_id, p.g, p.m, u.u, v.v,
             p.g * 64 + u.u * 8 + v.v AS q
      FROM params p, unnest(range(0, 8)) AS u(u),
           unnest(range(0, 8)) AS v(v)
    ),
    h1 AS (SELECT *, (q * 2654435761) % 4294967296 AS ha FROM q0),
    h2 AS (SELECT *, xor(ha, ha // 65536) AS hb FROM h1),
    h3 AS (SELECT *, (hb * 65599) % 4294967296 AS hc FROM h2),
    h4 AS (SELECT *, xor(hc, hc // 65536) AS hd FROM h3),
    vals AS (
      SELECT doc_id,
             CASE WHEN m = 3 AND u = g % 8 AND v = (g * 3 + 1) % 8
                  THEN LEAST(hd % 244 + 8 + 12, 255)
                  ELSE hd % 244 + 8
                       + CASE WHEN m = 2 THEN 2 ELSE 0 END END AS val
      FROM h4
    ),
    hist AS (
      SELECT doc_id, val, CAST(4 * COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY doc_id, val
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_pixels
      FROM hist GROUP BY doc_id
    ),
    ent AS (
      SELECT h.doc_id, t.n_pixels,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_vals,
             SUM(c * CAST(round(log2(CAST(c AS DOUBLE) / t.n_pixels), 6)
                          AS DECIMAL(18,6))) AS s
      FROM hist h JOIN tot t USING (doc_id)
      GROUP BY h.doc_id, t.n_pixels
    )
    SELECT doc_id AS media_id, n_pixels, n_distinct_vals,
           round(-CAST(s AS DOUBLE) / n_pixels, 6) AS entropy_bits,
           CASE WHEN -CAST(s AS DOUBLE) / n_pixels < 5.0
                THEN 1 ELSE 0 END AS low_entropy
    FROM ent ORDER BY media_id
    """


@query(
    "mm_image_entropy_census",
    oracle=_entropy_oracle(),
    tags=("multimodal", "image", "quality", "codec", "pandas-udf"),
    doc="Per-image pixel-entropy census over REAL decoded PNGs — the "
        "flat/blank/junk-image gate an image training pipeline runs "
        "before feature extraction (near-zero-entropy images are "
        "letterboxes, solid fills, or corrupt decodes; pipelines drop "
        "them before they poison contrastive batches): decode -> exact "
        "256-bin histogram (one array per image crossing the Arrow "
        "boundary, never raw pixels) -> Shannon entropy JVM-side with "
        "the verified round+DECIMAL log2 lane (exact integer counts, "
        "one double division at the end), plus a <5-bit low-entropy "
        "flag. The oracle replays the synth mix, the histogram, and "
        "the entropy bit for bit. Scale: narrow 1:1 Arrow decode, one "
        "posexplode bounded at 256 rows/image, map-side-combinable "
        "media_id aggregate — no joins, no corpus reshuffle.",
)
def mm_image_entropy_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_gray_histogram,
        synth_phash_group_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    hist = _cached_media(
        spark, sf_dir, "phash_gray_hist",
        lambda: extract_gray_histogram(synth_phash_group_media(docs)),
    )
    bins = (
        hist.select(
            "media_id", "n_pixels",
            F.posexplode("hist").alias("val", "c"),
        )
        .filter(F.col("c") > 0)
    )
    ent = bins.groupBy("media_id").agg(
        F.max("n_pixels").cast("long").alias("n_pixels"),
        F.count("*").cast("long").alias("n_distinct_vals"),
        F.sum(
            F.col("c")
            * F.expr(
                "cast(round(log2(cast(c as double) / n_pixels), 6)"
                " as decimal(18,6))"
            )
        ).alias("s"),
    )
    h = -F.col("s").cast("double") / F.col("n_pixels")
    return ent.select(
        "media_id", "n_pixels", "n_distinct_vals",
        F.round(h, 6).alias("entropy_bits"),
        F.when(h < 5.0, 1).otherwise(0).alias("low_entropy"),
    ).orderBy("media_id")


_AUDIO_FP_HAMMING_MAX = 3


def _audio_fp_oracle() -> str:
    """Replays synth -> decode -> log-energy DCT fingerprint -> band
    join in SQL (the shared mix32 chain, the verified log2 decimal
    lane, and the shared DCT8_1024 basis)."""
    from ..operators.multimodal import DCT8_1024

    tvals = ", ".join(
        f"({j}, {u}, {DCT8_1024[j][u]})"
        for j in range(8) for u in range(8)
    )
    return f"""
    WITH tmat(j, u, c) AS (VALUES {tvals}),
    params AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
    ),
    q0 AS (
      SELECT p.doc_id, p.g, p.m, CAST(u.i AS INT) AS i,
             p.g * 256 + u.i AS q
      FROM params p, unnest(range(0, 256)) AS u(i)
    ),
    h1 AS (SELECT *, (q * 2654435761) % 4294967296 AS ha FROM q0),
    h2 AS (SELECT *, xor(ha, ha // 65536) AS hb FROM h1),
    h3 AS (SELECT *, (hb * 65599) % 4294967296 AS hc FROM h2),
    h4 AS (SELECT *, xor(hc, hc // 65536) AS hd FROM h3),
    smp AS (
      SELECT doc_id, i,
             CASE WHEN m = 2 THEN 2 ELSE 1 END
               * (2 * (hd % 1000) + 1 - 1000)
             + CASE WHEN m = 3 AND i = g % 256 THEN 500 ELSE 0 END AS s
      FROM h4
    ),
    en AS (
      SELECT doc_id, CAST(i // 8 AS INT) AS u, SUM(s * s) AS e
      FROM smp GROUP BY doc_id, i // 8
    ),
    lg AS (
      SELECT doc_id, u, CAST(u // 8 AS INT) AS grp,
             CAST(round(log2(CAST(e AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS lv
      FROM en
    ),
    coef AS (
      SELECT l.doc_id, l.grp, t.j, SUM(t.c * l.lv) AS sc
      FROM lg l JOIN tmat t ON t.u = l.u % 8
      GROUP BY l.doc_id, l.grp, t.j
    ),
    ranked AS (
      SELECT doc_id, grp, j,
             ROW_NUMBER() OVER (PARTITION BY doc_id, grp
                                ORDER BY sc DESC, j) AS rn
      FROM coef WHERE j >= 1
    ),
    bits AS (
      SELECT doc_id, grp * 7 + (j - 1) AS pos,
             CASE WHEN rn <= 3 THEN 1 ELSE 0 END AS bit
      FROM ranked
    ),
    bands AS (
      SELECT doc_id, CAST(pos // 14 AS INT) AS band,
             CAST(SUM(bit * (1 << CAST(pos % 14 AS INT))) AS INT) AS sig
      FROM bits GROUP BY 1, 2
    ),
    sigs AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN sig END) AS b0,
             MAX(CASE WHEN band = 1 THEN sig END) AS b1
      FROM bands GROUP BY doc_id
    ),
    hot AS (
      SELECT band, sig FROM bands GROUP BY band, sig
      HAVING COUNT(*) > GREATEST(16, LEAST(64,
               (SELECT COUNT(*) FROM documents) // 100))
    ),
    cold AS (
      SELECT b.doc_id, b.band, b.sig FROM bands b
      LEFT JOIN hot h ON h.band = b.band AND h.sig = b.sig
      WHERE h.band IS NULL
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cold a JOIN cold b USING (band, sig)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.b0, sb.b0))
                + bit_count(xor(sa.b1, sb.b1)) AS INT) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    WHERE hamming <= {_AUDIO_FP_HAMMING_MAX}
    ORDER BY hamming, doc_a, doc_b
    """


@query(
    "mm_audio_fingerprint_dedup",
    oracle=_audio_fp_oracle(),
    tags=("multimodal", "audio", "dedup", "codec", "pandas-udf"),
    doc="Volume-invariant audio fingerprint dedup (the Chromaprint/"
        "Shazam shape, completing the modality matrix: text, image, "
        "video, AUDIO): REAL decoded WAVs frame into 8-sample energies "
        "(exact integers, the existing extract_audio_frames stage), "
        "log2 energies go through the verified round+DECIMAL lane, and "
        "an 8-point fixed-point DCT per frame GROUP runs entirely "
        "JVM-SIDE in exact decimal arithmetic (integer basis x "
        "decimal(18,6) — no float ever): top-3-of-7 AC ranks per group "
        "give a 28-bit fingerprint. A 2x-GAIN copy scales every frame "
        "energy exactly 4x, shifting log2 by the INTEGER +2 — the "
        "6-dp rounding preserves integer shifts exactly, so only the "
        "DC coefficient moves and the gain copy hashes IDENTICALLY "
        "(the invariance a raw energy hash lacks); a one-sample edit "
        "costs 1-2 bits; cross-group fingerprints stay >= 4 apart "
        "(measured over 125 groups, threshold 3). Banding, occupancy "
        "cap, pigeonhole join, and bit_count verify are the shared "
        "aHash-family discipline — linear candidate volume, 14-bit "
        "keys in the exchange, never samples.",
)
def mm_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.multimodal import (
        DCT8_1024,
        extract_audio_frames,
        synth_group_wav_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    occ_cap = band_occupancy_cap(n_docs)
    energies = _cached_media(
        spark, sf_dir, "audio_fp_energies",
        lambda: extract_audio_frames(
            synth_group_wav_media(docs), frame_len=8
        ),
    )
    tmat = spark.createDataFrame(
        [(j, u, DCT8_1024[j][u]) for j in range(8) for u in range(8)],
        "j int, u int, c long",
    )
    lg = energies.select(
        F.col("media_id").alias("doc_id"),
        (F.col("frame_no") % 8).alias("u"),
        F.expr("cast(frame_no div 8 as int)").alias("grp"),
        F.expr("cast(round(log2(cast(energy as double)), 6)"
               " as decimal(18,6))").alias("lv"),
    )
    coef = (
        lg.join(F.broadcast(tmat), "u")
        .groupBy("doc_id", "grp", "j")
        .agg(F.sum(F.col("c") * F.col("lv")).alias("sc"))
        .filter(F.col("j") >= 1)
    )
    w = Window.partitionBy("doc_id", "grp").orderBy(F.desc("sc"), F.asc("j"))
    bits = coef.select(
        "doc_id",
        (F.col("grp") * 7 + F.col("j") - 1).alias("pos"),
        F.when(F.row_number().over(w) <= 3, 1).otherwise(0).alias("bit"),
    )
    # bands feeds THREE consumers (signature pack, hot list, cold join)
    # and the cold side self-joins — materialize once so the DCT + bit
    # pipeline doesn't re-execute per reference (guide §2.4); |docs| x 2
    # narrow rows.
    bands = (
        bits.groupBy(
            "doc_id", F.expr("cast(pos div 14 as int)").alias("band")
        )
        .agg(
            F.sum(F.expr("bit * shiftleft(1, cast(pos % 14 as int))"))
            .cast("int").alias("sig")
        )
        .localCheckpoint(eager=True)
    )
    sigs = bands.groupBy("doc_id").agg(
        F.max(F.when(F.col("band") == 0, F.col("sig"))).alias("b0"),
        F.max(F.when(F.col("band") == 1, F.col("sig"))).alias("b1"),
    )
    hot = (
        bands.groupBy("band", "sig")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > occ_cap)
        .select("band", "sig")
    )
    cold = bands.join(hot, ["band", "sig"], "left_anti")
    cand = (
        cold.alias("a")
        .join(
            cold.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("b0").alias("a0"), F.col("b1").alias("a1"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("b0").alias("bb0"), F.col("b1").alias("bb1"))
    hamming = (
        F.expr("bit_count(a0 ^ bb0)") + F.expr("bit_count(a1 ^ bb1)")
    ).cast("int")
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _AUDIO_FP_HAMMING_MAX)
        .orderBy("hamming", "doc_a", "doc_b")
    )


@query(
    "mm_media_dataset_card",
    oracle="""
    WITH img AS (
      SELECT 'image' AS modality, COUNT(*) AS n_items,
             CAST(SUM(256) AS BIGINT) AS total_units,
             CAST(MIN(256) AS BIGINT) AS min_units,
             CAST(MAX(256) AS BIGINT) AS max_units
      FROM documents
    ),
    aud AS (
      SELECT 'audio' AS modality, COUNT(*) AS n_items,
             CAST(SUM(256) AS BIGINT), CAST(MIN(256) AS BIGINT),
             CAST(MAX(256) AS BIGINT)
      FROM documents
    ),
    vid AS (
      SELECT 'video' AS modality, COUNT(*) AS n_items,
             CAST(SUM((5 + (doc_id // 4) % 3)
                      - CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS total_units,
             CAST(MIN((5 + (doc_id // 4) % 3)
                      - CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(MAX((5 + (doc_id // 4) % 3)
                      - CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM documents
    )
    SELECT modality, CAST(n_items AS BIGINT) AS n_items, total_units,
           min_units, max_units,
           round(CAST(total_units AS DOUBLE) / n_items, 6) AS mean_units
    FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
          UNION ALL SELECT * FROM vid)
    ORDER BY modality
    """,
    tags=("multimodal", "curation", "card", "pandas-udf"),
    doc="Cross-modality dataset card — the release datasheet a "
        "multimodal training run publishes next to the text card "
        "(curation_dataset_card): per modality, item counts and "
        "decoded-unit mass (pixels / samples / frames) with min/max/"
        "mean, measured from REAL decodes. The card consumes the SAME "
        "per-(session, sf_dir) cached relations the dedup queries "
        "build (image histograms, audio frame energies, demuxed video "
        "frames), so in a curation run it costs three tiny aggregates "
        "— zero extra decode passes. The oracle replays unit counts "
        "closed-form from the synth formulas; any demux/decode "
        "miscount breaks the hash. Scale: three map-side-combinable "
        "aggregates unioned into a 3-row relation.",
)
def mm_media_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_audio_frames,
        extract_gray_histogram,
        sample_mjpeg_frames,
        synth_group_wav_media,
        synth_mjpeg_group_media,
        synth_phash_group_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    # Each modality's decoded relation is consumed exactly ONCE here, so
    # the per-lane eager checkpoints (a memo-era relic) were pure
    # overhead: three serialized materialization jobs, each decoding
    # while the other lanes' cores idle. Lazy lanes let the final
    # union+aggregate run all three decodes inside ONE job, overlapped
    # by the scheduler (r15, guide §2.6; isolated 2.90 -> 2.80 s — the
    # Python decode work dominates either way, but three jobs' worth of
    # scheduling and materialization overhead is gone).
    img = extract_gray_histogram(synth_phash_group_media(docs)).select(
        F.lit("image").alias("modality"),
        F.col("media_id"), F.col("n_pixels").alias("units"))
    aud = extract_audio_frames(
        synth_group_wav_media(docs), frame_len=8
    ).groupBy("media_id").agg(
        F.sum("n_samples").cast("long").alias("units")
    ).select(F.lit("audio").alias("modality"), "media_id", "units")
    vid = sample_mjpeg_frames(
        synth_mjpeg_group_media(docs), every_n=1
    ).groupBy("media_id").agg(
        F.count("*").cast("long").alias("units")
    ).select(F.lit("video").alias("modality"), "media_id", "units")
    return (
        img.unionByName(aud).unionByName(vid)
        .groupBy("modality")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("units").cast("long").alias("total_units"),
            F.min("units").cast("long").alias("min_units"),
            F.max("units").cast("long").alias("max_units"),
        )
        .select(
            "modality", "n_items", "total_units", "min_units", "max_units",
            F.round(
                F.col("total_units").cast("double") / F.col("n_items"), 6
            ).alias("mean_units"),
        )
        .orderBy("modality")
    )


@query(
    "mm_audio_snr_estimate",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, u.i,
             ((p.doc_id * 31 + u.i * 7) % 2001) - 1000 AS smp
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    ),
    frames AS (
      SELECT doc_id, CAST(i // 16 AS INT) AS frame_no,
             CAST(SUM(smp * smp) AS BIGINT) AS energy
      FROM s GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, energy,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY energy, frame_no) AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS nf
      FROM frames
    ),
    pick AS (
      SELECT doc_id, MAX(nf) AS n_frames,
             MAX(CASE WHEN rn = CAST(ceil(0.1 * nf) AS BIGINT)
                 THEN energy END) AS p10_energy,
             MAX(CASE WHEN rn = CAST(ceil(0.9 * nf) AS BIGINT)
                 THEN energy END) AS p90_energy
      FROM ranked GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(p10_energy AS BIGINT) AS p10_energy,
           CAST(p90_energy AS BIGINT) AS p90_energy,
           CAST(((1 + p90_energy) * 1000000) // (1 + p10_energy)
                AS BIGINT) AS snr_micro_ratio
    FROM pick ORDER BY media_id
    """,
    tags=("multimodal", "audio", "quality", "report", "pandas-udf"),
    doc="Frame-energy SNR estimate over REAL decoded WAVs — the "
        "signal-vs-floor QA gate an audio curation pipeline thresholds "
        "before transcription (a low p90/p10 energy spread means "
        "near-constant content: silence, hum, or saturation): decode, "
        "frame (16-sample, the VAD primitives), take the exact type-1 "
        "rank-based 10th/90th percentile frame energies (row_number == "
        "ceil(q*n), energy+frame tiebreak — never percentile_cont), "
        "and report the exact integer micro-ratio "
        "((1+p90)*1e6 div (1+p10)) — the monotone proxy for "
        "10*log10((1+p90)/(1+p10)) dB. The r9 driver red proved the "
        "float log10/round lane is environment-sensitive (libm-vs-JVM "
        "last-bit drift under Spark's shortest-repr rounding), so no "
        "transcendental feeds the hashed value: thresholding in dB is "
        "just thresholding the ratio at 10^(dB/10), exact on both "
        "engines. Complements mm_audio_clipping_report "
        "(too loud) and mm_audio_vad_segments (silence runs) with the "
        "dynamic-range axis. Scale: the decode is the same narrow 1:N "
        "Arrow stage; percentile selection is a per-media window over "
        "O(frames-per-media) rows, keyed by the exchange the framing "
        "already produced.",
)
def mm_audio_snr_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.multimodal import extract_audio_frames

    docs = load_table(spark, "documents", sf_dir)
    frames = extract_audio_frames(
        synth_wav_media(docs), frame_len=16
    ).select("media_id", "frame_no", "energy")
    w_rank = Window.partitionBy("media_id").orderBy("energy", "frame_no")
    w_all = Window.partitionBy("media_id")
    ranked = frames.select(
        "media_id", "energy",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("nf"),
    )
    pick = ranked.groupBy("media_id").agg(
        F.max("nf").cast("long").alias("n_frames"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.1 * F.col("nf")), F.col("energy"))
        ).cast("long").alias("p10_energy"),
        F.max(
            F.when(F.col("rn") == F.ceil(0.9 * F.col("nf")), F.col("energy"))
        ).cast("long").alias("p90_energy"),
    )
    return (
        pick.select(
            "media_id", "n_frames", "p10_energy", "p90_energy",
            # exact integer lane: (1+p90)*1e6 div (1+p10); energies are
            # sums of squares (>= 0) so truncation == floor on both engines
            F.expr(
                "CAST(((1 + p90_energy) * 1000000L) DIV (1 + p10_energy)"
                " AS BIGINT)"
            ).alias("snr_micro_ratio"),
        )
        .orderBy("media_id")
    )


# aspect-bucket targets in micro units: 1e6 * w/h, integer-truncated —
# the SAME truncation on both engines, so assignment is exact
_ASPECT_BUCKETS = (
    ("1:1", 1_000_000),
    ("4:3", 4_000_000 // 3),
    ("3:4", 750_000),
    ("16:9", 16_000_000 // 9),
    ("9:16", 562_500),
)


def _aspect_case_sql() -> str:
    costs = [f"ABS(am - {t})" for _, t in _ASPECT_BUCKETS]
    least = "LEAST(" + ", ".join(costs) + ")"
    whens = "\n           ".join(
        f"WHEN ABS(am - {t}) = {least} THEN '{nm}'"
        for nm, t in _ASPECT_BUCKETS
    )
    return f"CASE {whens} END"


# fixed target box per aspect bucket (w, h) — the shapes a bucketed
# image-training batch would actually allocate
_ASPECT_TARGETS = {
    "1:1": (48, 48),
    "4:3": (48, 36),
    "3:4": (36, 48),
    "16:9": (48, 27),
    "9:16": (27, 48),
}


def _aspect_target_case_sql(field: int) -> str:
    whens = " ".join(
        f"WHEN bucket = '{nm}' THEN {tw if field == 0 else th}"
        for nm, (tw, th) in _ASPECT_TARGETS.items()
    )
    return f"CASE {whens} END"


@query(
    "mm_aspect_resize_plan",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + doc_id % 7 AS BIGINT) AS h
      FROM documents
    ),
    am AS (SELECT w, h, (w * 1000000) // h AS am FROM params),
    assigned AS (
      SELECT w, h, am, {_aspect_case_sql()} AS bucket FROM am
    ),
    tgt AS (
      SELECT w, h, bucket,
             CAST({_aspect_target_case_sql(0)} AS BIGINT) AS tw,
             CAST({_aspect_target_case_sql(1)} AS BIGINT) AS th
      FROM assigned
    ),
    plan AS (
      SELECT bucket, tw, th,
             LEAST((tw * 1000000) // w, (th * 1000000) // h) AS scale_micro,
             (w * LEAST((tw * 1000000) // w, (th * 1000000) // h)) // 1000000
               AS out_w,
             (h * LEAST((tw * 1000000) // w, (th * 1000000) // h)) // 1000000
               AS out_h
      FROM tgt
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(scale_micro) AS BIGINT) AS min_scale_micro,
           CAST(MAX(scale_micro) AS BIGINT) AS max_scale_micro,
           CAST(SUM(tw * th - out_w * out_h) AS BIGINT) AS pad_pixels,
           CAST(SUM(out_w * out_h) AS BIGINT) AS content_pixels
    FROM plan GROUP BY bucket ORDER BY bucket
    """,
    tags=("multimodal", "image", "aspect", "resize"),
    doc="Aspect-bucket resize/pad plan — the transform decision table "
        "for resolution-bucketed image training (NovelAI/SDXL-style "
        "aspect bucketing: each image joins the nearest of 1:1 / 4:3 / "
        "3:4 / 16:9 / 9:16 so a batch never mixes shapes): every image gets "
        "its bucket's fixed target box, the largest aspect-preserving "
        "integer micro-scale that fits, the resized dims, and the "
        "padding debt; the result reports per-bucket pad mass vs "
        "content mass (the wasted-FLOPs number that decides whether a "
        "bucket's target box is right for the corpus). Width and height "
        "come from a HEADER-ONLY JVM parse (substring+hex+conv over the "
        "IHDR bytes, zero pixel decode) — planning a 100 TB resize never "
        "touches a pixel. All-integer micro-unit arithmetic with "
        "engine-identical truncation. Scale: narrow binary projection "
        "-> 5-key map-side aggregate.",
)
def mm_aspect_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import synth_png_media

    docs = load_table(spark, "documents", sf_dir)
    media = synth_png_media(docs)
    w = F.conv(F.hex(F.expr("substring(payload, 17, 4)")), 16, 10).cast("long")
    h = F.conv(F.hex(F.expr("substring(payload, 21, 4)")), 16, 10).cast("long")
    dims = media.select(w.alias("w"), h.alias("h")).withColumn(
        "am", F.expr("(w * 1000000) div h")
    )
    costs = [F.abs(F.col("am") - F.lit(t)) for _, t in _ASPECT_BUCKETS]
    least = F.least(*costs)
    expr = None
    for (nm, t), c in zip(_ASPECT_BUCKETS, costs):
        expr = (
            F.when(c == least, F.lit(nm)) if expr is None
            else expr.when(c == least, F.lit(nm))
        )
    tw = th = None
    for nm, (tw_v, th_v) in _ASPECT_TARGETS.items():
        tw = (
            F.when(F.col("bucket") == nm, F.lit(tw_v)) if tw is None
            else tw.when(F.col("bucket") == nm, F.lit(tw_v))
        )
        th = (
            F.when(F.col("bucket") == nm, F.lit(th_v)) if th is None
            else th.when(F.col("bucket") == nm, F.lit(th_v))
        )
    plan = (
        dims.withColumn("bucket", expr)
        .withColumn("tw", tw.cast("long"))
        .withColumn("th", th.cast("long"))
        .withColumn(
            "scale_micro",
            F.least(
                F.expr("(tw * 1000000) div w"), F.expr("(th * 1000000) div h")
            ),
        )
        .withColumn("out_w", F.expr("(w * scale_micro) div 1000000"))
        .withColumn("out_h", F.expr("(h * scale_micro) div 1000000"))
    )
    return (
        plan.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_images"),
            F.min("scale_micro").cast("long").alias("min_scale_micro"),
            F.max("scale_micro").cast("long").alias("max_scale_micro"),
            F.sum(
                F.col("tw") * F.col("th") - F.col("out_w") * F.col("out_h")
            ).cast("long").alias("pad_pixels"),
            F.sum(F.col("out_w") * F.col("out_h")).cast("long")
            .alias("content_pixels"),
        )
        .orderBy("bucket")
    )


@query(
    "mm_scene_keyframes",
    oracle="""
    WITH params AS (
      SELECT doc_id, 3 + doc_id % 2 AS seg, 6 + doc_id % 4 AS n
      FROM documents
    ),
    fr AS (
      SELECT p.doc_id, p.seg, CAST(u.f AS INT) AS f
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(f)
    ),
    px AS (
      SELECT doc_id, f, CAST(f // seg AS INT) AS scene_id,
             128 * (16 + 60 * (f // seg) + 7 * (f % seg)) + 576
               AS sum_pixels
      FROM fr
    ),
    st AS (
      SELECT doc_id, scene_id,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM(sum_pixels) AS BIGINT) AS total
      FROM px GROUP BY doc_id, scene_id
    ),
    ranked AS (
      SELECT px.doc_id, px.scene_id, st.n_frames, px.f, px.sum_pixels,
             ABS(st.n_frames * px.sum_pixels - st.total) AS cost,
             ROW_NUMBER() OVER (
               PARTITION BY px.doc_id, px.scene_id
               ORDER BY ABS(st.n_frames * px.sum_pixels - st.total), px.f
             ) AS rn
      FROM px JOIN st USING (doc_id, scene_id)
    )
    SELECT doc_id AS media_id, scene_id,
           CAST(n_frames AS INT) AS n_frames,
           CAST(f AS INT) AS keyframe,
           CAST(sum_pixels AS BIGINT) AS keyframe_luma_sum,
           CAST(cost AS BIGINT) AS medoid_cost
    FROM ranked WHERE rn = 1
    ORDER BY media_id, scene_id
    """,
    tags=("multimodal", "video", "keyframe", "pandas-udf"),
    doc="Per-scene keyframe selection over the REAL decoded frame "
        "stream — the captioning/sampling step after shot detection "
        "(one representative frame per scene feeds the image captioner "
        "instead of every frame): picks the medoid-by-luma frame, the "
        "one whose decoded pixel sum is nearest the scene mean, as "
        "exact integers (|n*sum_f - total|, no division) with the "
        "earliest frame breaking ties. Shares mm_mjpeg_scene_cuts' "
        "cached decode AND its scene-id construction (_scene_frames), "
        "so selection costs one extra aggregate + rank window on the "
        "SAME media_id exchange. The closed-form oracle replays the "
        "ground-truth segmentation and the medoid argmin. Scale: "
        "bounded frames-per-clip keeps the rank window frame O(clip); "
        "nothing wider than (media, frame) rows ever shuffles.",
)
def mm_scene_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    scenes = _scene_frames(spark, sf_dir)
    st = scenes.groupBy("media_id", "scene_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("sum_pixels").cast("long").alias("total"),
    )
    cost = F.abs(
        F.col("n_frames") * F.col("sum_pixels") - F.col("total")
    )
    w = Window.partitionBy("media_id", "scene_id").orderBy(
        cost.asc(), F.col("frame_no").asc()
    )
    return (
        scenes.join(st, ["media_id", "scene_id"])
        .withColumn("medoid_cost", cost)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "media_id", "scene_id",
            F.col("n_frames").cast("int").alias("n_frames"),
            F.col("frame_no").cast("int").alias("keyframe"),
            F.col("sum_pixels").cast("long").alias("keyframe_luma_sum"),
            F.col("medoid_cost").cast("long").alias("medoid_cost"),
        )
        .orderBy("media_id", "scene_id")
    )


@query(
    "mm_bmp_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 9 + doc_id % 8 AS w, 7 + doc_id % 6 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 11 + 5 * (u.k % p.w) + 3 * (u.k // p.w)) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max,
           CAST(54 + (3 * w + ((4 - (3 * w) % 4) % 4)) * h AS BIGINT)
             AS file_bytes
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL BMP decode end to end — widens the genuine codec surface "
        "(WAV/PNG/JPEG/MJPG, now BMP): deterministic grayscale "
        "gradients are encoded as genuine 24-bit BI_RGB BMP files "
        "(bottom-up rows, 4-byte padding, BGR order — "
        "operators/media_codecs.encode_bmp_gray8), cross Arrow as "
        "binary, and are re-parsed by the pure-stdlib BMP decoder "
        "(magic + header validation, data offset honored, signed-height "
        "orientation, padding stripped, ITU-R 601 integer luma). "
        "Features are exact integer moments of the DECODED pixels plus "
        "the on-disk byte size, hash-matched against a closed-form "
        "oracle that never sees the bytes — the file_bytes column "
        "verifies the stride/padding layout arithmetic in SQL. "
        "Orientation and top-down negative-height parsing are covered "
        "byte-level in tests. Scale: the same narrow 1:1 Arrow decode "
        "stage as the PNG family — embarrassingly parallel, no shuffle "
        "until the |docs|-row feature aggregate.",
)
def mm_bmp_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_bmp_features, synth_bmp_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_bmp_features(synth_bmp_media(docs))
        .select(
            "media_id", "width", "height", "n_pixels", "sum_pixels",
            "px_min", "px_max", "file_bytes",
        )
        .orderBy("media_id")
    )


@query(
    "mm_ulaw_transcode_report",
    oracle="""
    WITH params AS (
      SELECT doc_id, 24 + doc_id % 13 AS n FROM documents
    ),
    s AS (
      SELECT p.doc_id, p.n,
             ((p.doc_id * 13 + u.i * 11) % 60001) - 30000 AS x
      FROM params p, unnest(range(0, CAST(p.n AS INT))) AS u(i)
    ),
    biased AS (
      SELECT doc_id, n, x, LEAST(ABS(x), 32635) + 132 AS b FROM s
    ),
    seg AS (
      SELECT *, length(bin(b >> 7)) - 1 AS ex FROM biased
    ),
    dec AS (
      SELECT doc_id, n, x,
             (CASE WHEN x < 0 THEN -1 ELSE 1 END)
             * ((((((b >> (ex + 3)) & 15) << 3) + 132) << ex) - 132) AS y
      FROM seg
    )
    SELECT doc_id AS media_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(x)) AS BIGINT) AS sum_abs_in,
           CAST(SUM(ABS(y)) AS BIGINT) AS sum_abs_out,
           CAST(SUM((x - y) * (x - y)) AS BIGINT) AS sum_sq_err,
           CAST(MAX(ABS(x - y)) AS BIGINT) AS max_abs_err
    FROM dec GROUP BY doc_id ORDER BY media_id
    """,
    tags=("multimodal", "audio", "codec", "transcode", "pandas-udf"),
    doc="REAL G.711 mu-law transcode end to end — the telephony round "
        "trip (PCM16 -> 8-bit mu-law -> PCM16) every call-center/speech "
        "corpus survives before training, and the second genuine audio "
        "codec beside RIFF/WAV: wide-range synth WAVs (+-30000, all "
        "eight mu-law segments) decode, compress through the real "
        "encoder (sign|exponent|mantissa, ones-complement — "
        "operators/media_codecs.ulaw_encode), expand back, and report "
        "exact integer moments of input, output, and quantization "
        "error. The oracle replays the quantizer in closed form with "
        "SQL bit ops (bin-length exponent, shift/mask mantissa) — a "
        "single wrong bit anywhere in the codec breaks the hash. "
        "Scale: the same narrow 1:1 Arrow decode stage as the WAV "
        "family; no shuffle until the |docs|-row aggregate.",
)
def mm_ulaw_transcode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_ulaw_transcode_features,
        synth_telephony_wav_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_ulaw_transcode_features(synth_telephony_wav_media(docs))
        .select(
            "media_id", "n_samples", "sum_abs_in", "sum_abs_out",
            "sum_sq_err", "max_abs_err",
        )
        .orderBy("media_id")
    )


@query(
    "mm_cross_container_dedup",
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id // 4 AS g,
             8 + (doc_id // 4) % 9 AS w, 8 + (doc_id // 4) % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.g, p.w, p.h, u.k,
             (p.g * 7 + 3 * (u.k % p.w) + 5 * (u.k // p.w)) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    ),
    sigs AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                  WHEN 2 THEN 'gif' ELSE 'qoi' END AS container,
             md5(CAST(w AS STRING) || ':' || CAST(h AS STRING) || ':'
                 || string_agg(CAST(v AS STRING), ',' ORDER BY k))
               AS content_md5
      FROM px GROUP BY doc_id, w, h
    )
    SELECT content_md5,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list_distinct(list(container))), '+')
             AS containers,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM sigs GROUP BY content_md5 HAVING COUNT(*) >= 2
    ORDER BY keeper_doc_id
    """,
    tags=("multimodal", "image", "dedup", "codec", "pandas-udf"),
    doc="Cross-container image dedup — the duplicate class byte-hash "
        "dedup can NEVER catch (the same photo re-hosted as a "
        "different file type has zero bytes in common): payloads carry "
        "identical pixel content in real PNG, real BMP, real GIF87a "
        "(genuine LZW), and (r11) real QOI containers "
        "(media_codecs.encode_qoi_gray8/decode_qoi — the spec's "
        "RUN/INDEX/DIFF/LUMA/RGB state machine), a magic-byte-sniffing "
        "Arrow stage picks the right genuine decoder per file, and the "
        "dedup key is the md5 of the canonical decoded-pixel string — "
        "so the quadruples this query finds prove ALL FOUR decoders "
        "reconstruct bit-identical pixels from their own container "
        "formats. The oracle computes the "
        "same canonical digest from the closed-form gradient without "
        "ever seeing a byte of either container. Scale: the decode is "
        "the standard narrow 1:1 Arrow stage; dedup is one hash "
        "aggregate on the 32-char digest — the exact-dedup shape.",
)
def mm_cross_container_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_content_signatures,
        synth_mixed_container_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    sigs = extract_content_signatures(synth_mixed_container_media(docs))
    return (
        sigs.groupBy("content_md5")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_set("container")), "+"
            ).alias("containers"),
            F.min("media_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("keeper_doc_id")
    )


@query(
    "mm_pcm_silence_census",
    oracle="""
    WITH params AS (
      SELECT doc_id, 32 + doc_id % 17 AS n, doc_id % 6 AS lead_pad,
             doc_id % 4 AS trail_pad
      FROM documents
    ),
    s AS (
      SELECT p.doc_id, p.n + p.lead_pad + p.trail_pad AS total, u.j AS j,
             CASE WHEN u.j < p.lead_pad OR u.j >= p.lead_pad + p.n THEN 0
                  ELSE ((p.doc_id * 31 + (u.j - p.lead_pad) * 7) % 2001)
                       - 1000
             END AS smp
      FROM params p,
           unnest(range(0, CAST(p.n + p.lead_pad + p.trail_pad AS INT)))
             AS u(j)
    )
    SELECT doc_id AS media_id,
           CAST(MAX(total) AS BIGINT) AS n_samples,
           CAST(COALESCE(MIN(CASE WHEN ABS(smp) > 2 THEN j END),
                         MAX(total)) AS BIGINT) AS lead_silence,
           CAST(CASE WHEN MAX(CASE WHEN ABS(smp) > 2 THEN j END) IS NULL
                     THEN 0
                     ELSE MAX(total) - 1
                          - MAX(CASE WHEN ABS(smp) > 2 THEN j END)
                END AS BIGINT) AS trail_silence,
           CAST(SUM(smp) AS BIGINT) AS sum_samples,
           CAST(MAX(ABS(smp)) AS BIGINT) AS peak_abs,
           CAST(FLOOR(CAST(SUM(smp) AS DOUBLE) * 1000000 / MAX(total))
                AS BIGINT) AS dc_micro
    FROM s GROUP BY doc_id
    """,
    tags=("multimodal", "audio", "codec", "silence", "pandas-udf"),
    doc="PCM silence/DC census (r11) — the trim-and-health pass an audio "
        "training pipeline runs before feature extraction (leading/"
        "trailing silence wastes tokens in audio-LM training and skews "
        "VAD statistics; a nonzero DC offset marks a bad recording "
        "chain): signals are synthesized WITH deterministic zero pads "
        "(doc_id % 6 leading, % 4 trailing), encoded as genuine RIFF/"
        "WAVE by the real codec, re-DECODED in a second Arrow stage, and "
        "censused — maximal |x| <= 2 runs from each end (the trim "
        "lengths; the threshold also catches body samples that land "
        "within +-2 of zero, which the oracle replays exactly), the "
        "exact integer sample sum and peak, and the DC offset in "
        "micro-units via FLOOR (not integer div — the sum can be "
        "negative and DuckDB's // truncates toward zero). Any codec "
        "header/endianness defect breaks the hash. Scale: two narrow "
        "1:1 Arrow stages, no shuffle — scan-bound at 100 TB.",
)
def mm_pcm_silence_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_audio_silence,
        synth_padded_wav_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    feats = extract_audio_silence(synth_padded_wav_media(docs))
    return feats.select(
        "media_id", "n_samples", "lead_silence", "trail_silence",
        "sum_samples", "peak_abs",
        F.floor(
            F.col("sum_samples").cast("double") * 1000000
            / F.col("n_samples")
        ).cast("long").alias("dc_micro"),
    )


@query(
    "mm_gif_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 13 + 2 * (u.k % p.w) + 7 * (u.k // p.w)) % 256
               AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL GIF decode end to end (r11) — the eighth genuine codec "
        "(WAV/PNG gray+RGB/JPEG gray+4:2:0/BMP/MJPG/G.711, now GIF87a "
        "with real LZW): deterministic grayscale gradients are encoded "
        "as genuine GIF87a files (identity gray global color table, "
        "variable-width LZW with width growth and proactive clears, "
        "<=255-byte sub-blocks — media_codecs.encode_gif_gray8), cross "
        "Arrow as binary, and are re-parsed by the pure-stdlib GIF "
        "decoder (signature + descriptors, extension skip, LZW "
        "decompression incl. the KwKwK self-reference case, palette "
        "lookup). Features are exact integer moments of the DECODED "
        "pixels, hash-matched against a closed-form oracle that never "
        "sees a byte — a single wrong bit in either LZW direction "
        "breaks the hash. The codec also feeds mm_cross_container_dedup "
        "as its third container. Scale: the standard narrow 1:1 Arrow "
        "decode stage — no shuffle until the |docs|-row aggregate.",
)
def mm_gif_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_gif_features, synth_gif_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_gif_features(synth_gif_media(docs))
        .select(
            "media_id", "width", "height", "n_pixels", "sum_pixels",
            "px_min", "px_max",
        )
        .orderBy("media_id")
    )


@query(
    "mm_qoi_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 10 AS w, 8 + doc_id % 6 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 11 + 4 * (u.k % p.w) + 3 * (u.k // p.w)) % 256
               AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL QOI decode end to end (r11) — the ninth genuine codec "
        "(WAV/PNG gray+RGB/JPEG gray+4:2:0/BMP/MJPG/G.711/GIF87a, now "
        "QOI per the public qoiformat.org spec): deterministic "
        "grayscale gradients are encoded as genuine QOI files "
        "(RUN/INDEX/DIFF/LUMA/RGB chunk ops over the 64-slot running "
        "index — media_codecs.encode_qoi_gray8), cross Arrow as binary, "
        "and are re-parsed by the pure-stdlib QOI decoder (header "
        "validation, the spec's previous-pixel/index state machine, end "
        "marker check). Features are exact integer moments of the "
        "DECODED pixels, hash-matched against a closed-form oracle that "
        "never sees a byte — a single wrong bit in either direction "
        "breaks the hash. The codec also feeds mm_cross_container_dedup "
        "as its FOURTH container. Scale: the standard narrow 1:1 Arrow "
        "decode stage — no shuffle until the |docs|-row aggregate.",
)
def mm_qoi_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_qoi_features, synth_qoi_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_qoi_features(synth_qoi_media(docs))
        .select(
            "media_id", "width", "height", "n_pixels", "sum_pixels",
            "px_min", "px_max",
        )
        .orderBy("media_id")
    )


@query(
    "mm_adpcm_transcode_report",
    oracle="""
    WITH RECURSIVE tbl AS (
      SELECT [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28,
              31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107,
              118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
              337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876,
              963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
              2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
              5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635,
              13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
              29794, 32767] AS st,
             [-1, -1, -1, -1, 2, 4, 6, 8] AS it
    ),
    params AS (
      SELECT doc_id, CAST(16 + doc_id % 9 AS INT) AS n FROM documents
    ),
    rec AS (
      SELECT p.doc_id, p.n, 0 AS i, 0 AS pred, 0 AS idx,
             CAST(0 AS BIGINT) AS sai, CAST(0 AS BIGINT) AS sao,
             CAST(0 AS BIGINT) AS sse, CAST(0 AS BIGINT) AS mae
      FROM params p
      UNION ALL
      SELECT doc_id, n, i + 1, pred2, idx2,
             sai + ABS(x), sao + ABS(pred2),
             sse + (x - pred2) * (x - pred2),
             GREATEST(mae, ABS(x - pred2))
      FROM (
        SELECT l6.*,
               GREATEST(-32768, LEAST(32767,
                 pred + CASE WHEN sgn = 1 THEN -diffq
                             ELSE diffq END)) AS pred2,
               GREATEST(0, LEAST(88, idx + it[mag + 1])) AS idx2
        FROM (
          SELECT l5.*,
                 step // 8 + b2 * step + b1 * (step // 2)
                   + b0 * (step // 4) AS diffq,
                 4 * b2 + 2 * b1 + b0 AS mag
          FROM (
            SELECT l4.*,
                   CASE WHEN ad3 >= step // 4 THEN 1 ELSE 0 END AS b0
            FROM (
              SELECT l3.*,
                     CASE WHEN ad2 >= step // 2 THEN 1 ELSE 0 END AS b1,
                     ad2 - CASE WHEN ad2 >= step // 2 THEN step // 2
                               ELSE 0 END AS ad3
              FROM (
                SELECT l2.*,
                       CASE WHEN ad >= step THEN 1 ELSE 0 END AS b2,
                       ad - CASE WHEN ad >= step THEN step
                                ELSE 0 END AS ad2
                FROM (
                  SELECT l1.*, ABS(x - pred) AS ad,
                         CASE WHEN x - pred < 0 THEN 1 ELSE 0 END AS sgn
                  FROM (
                    SELECT r.doc_id, r.n, r.i, r.pred, r.idx, r.sai,
                           r.sao, r.sse, r.mae,
                           ((r.doc_id * 131 + r.i * 1237) % 60001)
                             - 30000 AS x,
                           t.st[r.idx + 1] AS step, t.it AS it
                    FROM rec r CROSS JOIN tbl t WHERE r.i < r.n
                  ) l1
                ) l2
              ) l3
            ) l4
          ) l5
        ) l6
      )
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n + 1) // 2 AS BIGINT) AS n_bytes_adpcm,
           sai AS sum_abs_in, sao AS sum_abs_out,
           sse AS sum_sq_err, mae AS max_abs_err
    FROM rec WHERE i = n ORDER BY media_id
    """,
    tags=("multimodal", "audio", "codec", "transcode", "pandas-udf"),
    doc="REAL IMA/DVI ADPCM transcode end to end (r11) — the tenth "
        "genuine codec and the first STATEFUL one (predictor + step "
        "index feed back sample to sample, unlike mu-law's memoryless "
        "quantizer): wide-jump synth WAVs decode, compress through the "
        "real 4-bit adaptive encoder (sign/step bisection nibble, "
        "89-entry step table, clamped prediction — "
        "operators/media_codecs.adpcm_encode), expand back, and report "
        "exact integer moments of input, output, and quantization "
        "error plus the 4x-compressed byte count. The oracle replays "
        "the ENTIRE encoder state recurrence in closed form as a "
        "recursive CTE (bounded: max 24 samples/doc = 24 iterations, "
        "the step table a list literal) — one wrong table entry, clamp, "
        "or nibble bit anywhere breaks the hash. Scale: the same narrow "
        "1:1 Arrow decode stage as every codec lane; no shuffle until "
        "the |docs|-row aggregate.",
)
def mm_adpcm_transcode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_adpcm_transcode_features,
        synth_adpcm_wav_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_adpcm_transcode_features(synth_adpcm_wav_media(docs))
        .select(
            "media_id", "n_samples", "n_bytes_adpcm", "sum_abs_in",
            "sum_abs_out", "sum_sq_err", "max_abs_err",
        )
        .orderBy("media_id")
    )


@query(
    "mm_image_tile_dedup",
    oracle="""
    WITH tiles AS (
      SELECT doc_id, u.t % 2 AS tx, u.t // 2 AS ty
      FROM documents, unnest(range(0, 4)) AS u(t)
    ),
    sig AS (
      SELECT doc_id, tx, ty,
             md5('8:8:' || string_agg(
               CAST((((doc_id * 3 + ty * 2 + tx) % 32) * 9
                     + 5 * (u.k % 8) + 11 * (u.k // 8)) % 256 AS STRING),
               ',' ORDER BY u.k)) AS tile_md5
      FROM tiles, unnest(range(0, 64)) AS u(k)
      GROUP BY doc_id, tx, ty
    ),
    census AS (
      SELECT tile_md5,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_tile
      FROM sig GROUP BY tile_md5
    )
    SELECT s.doc_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(CASE WHEN c.n_docs_tile >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_tiles,
           CAST(MAX(c.n_docs_tile) AS BIGINT) AS max_tile_spread
    FROM sig s JOIN census c USING (tile_md5)
    GROUP BY s.doc_id ORDER BY media_id
    """,
    tags=("multimodal", "image", "dedup", "pandas-udf"),
    doc="Tile-level PARTIAL image dedup (r11) — whole-file and "
        "whole-pixel hashing both miss images that share REGIONS "
        "(watermarks, banner headers, meme templates with different "
        "captions); block-level fingerprinting is how crawled-image "
        "pipelines find them. Real PNGs built from 2x2 grids of 8x8 "
        "tiles (only 32 distinct tiles exist corpus-wide) decode "
        "through the genuine PNG codec, every 8x8 block gets a "
        "canonical-pixel md5, and the report joins each doc's tiles "
        "against the corpus-wide tile census: tiles held, tiles shared "
        "with ANY other doc, and the widest tile spread. The oracle "
        "recomputes every tile digest from the closed-form gradient. "
        "Scale: a 1:K narrow tile generator (K = tiles/image), one "
        "map-side-combinable census on the 32-char digest, one hash "
        "equi-join back — the tile stream is K x |docs| rows, never "
        "pixels, and no pair of images is ever compared directly.",
)
def mm_image_tile_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        extract_tile_signatures,
        synth_tiled_png_media,
    )

    docs = load_table(spark, "documents", sf_dir)
    sig = extract_tile_signatures(synth_tiled_png_media(docs))
    census = sig.groupBy("tile_md5").agg(
        F.countDistinct("media_id").cast("long").alias("n_docs_tile")
    )
    return (
        sig.join(census, "tile_md5")
        .groupBy("media_id")
        .agg(
            F.count("*").cast("long").alias("n_tiles"),
            F.sum(F.when(F.col("n_docs_tile") >= 2, 1).otherwise(0))
            .cast("long").alias("n_shared_tiles"),
            F.max("n_docs_tile").cast("long").alias("max_tile_spread"),
        )
        .orderBy("media_id")
    )


@query(
    "mm_exif_orientation_census",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             100 + doc_id % 50 AS w, 80 + doc_id % 40 AS h,
             1 + doc_id % 8 AS o, 'cam' || CAST(doc_id % 5 AS STRING)
               AS make
      FROM documents
    ),
    norm AS (
      SELECT *, CASE WHEN o >= 5 THEN h ELSE w END AS dw,
             CASE WHEN o >= 5 THEN w ELSE h END AS dh
      FROM params
    )
    SELECT CAST(o AS INT) AS orientation,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(CASE WHEN o = 1 THEN 0 ELSE 1 END AS INT)
             AS needs_transform,
           CAST(SUM(dw) AS BIGINT) AS sum_display_w,
           CAST(SUM(dh) AS BIGINT) AS sum_display_h,
           CAST(COUNT(DISTINCT make) AS BIGINT) AS n_makes
    FROM norm GROUP BY o ORDER BY orientation
    """,
    tags=("multimodal", "image", "metadata", "pandas-udf"),
    doc="EXIF orientation census (r11) — the metadata lane every image "
        "ingest needs BEFORE decoding pixels: camera JPEGs store the "
        "sensor's native raster plus an Orientation tag (1-8), and a "
        "pipeline that ignores it trains on sideways images "
        "(orientations 5-8 additionally transpose width/height, so even "
        "aspect-bucketing goes wrong). Real JPEG APP1/EXIF headers "
        "(genuine TIFF 6.0 structures, BOTH byte orders by doc parity — "
        "media_codecs.encode_exif_jpeg_header) cross Arrow as binary and "
        "are re-parsed by the pure-stdlib marker-walk/IFD parser "
        "(media_codecs.parse_exif); the census reports per orientation "
        "the image count, whether a transform is needed, the "
        "POST-normalization display dimensions, and distinct camera "
        "makes. The oracle recomputes everything from the closed-form "
        "synth — one wrong endian read or transpose breaks the hash. "
        "Scale: narrow 1:1 Arrow parse over HEADERS (bytes, not "
        "pixels); one census aggregate.",
)
def mm_exif_orientation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_exif_metadata, synth_exif_media

    docs = load_table(spark, "documents", sf_dir)
    meta = extract_exif_metadata(synth_exif_media(docs))
    return (
        meta.groupBy("orientation")
        .agg(
            F.count("*").cast("long").alias("n_images"),
            F.max(F.when(F.col("orientation") == 1, 0).otherwise(1))
            .cast("int").alias("needs_transform"),
            F.sum("display_w").cast("long").alias("sum_display_w"),
            F.sum("display_h").cast("long").alias("sum_display_h"),
            F.countDistinct("make").cast("long").alias("n_makes"),
        )
        .orderBy("orientation")
    )


@query(
    "mm_pnm_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 9 + doc_id % 8 AS w, 7 + doc_id % 5 AS h,
             CASE WHEN doc_id % 2 = 1 THEN 'ppm' ELSE 'pgm' END
               AS container
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h, p.container,
             (p.doc_id * 13 + 5 * (u.k % p.w) + 2 * (u.k // p.w)) % 256
               AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id, container,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, container, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL Netpbm decode end to end (r12) — the eleventh genuine "
        "codec (WAV/PNG gray+RGB/JPEG gray+4:2:0/BMP/MJPG/G.711/GIF87a/"
        "QOI/IMA-ADPCM/TIFF-EXIF, now binary PGM P5 and PPM P6 per the "
        "public netpbm specs): deterministic gradients encode through "
        "the real encoder — WITH a legal '#' comment line so the "
        "tokenizing header parser (whitespace-separated tokens, "
        "comments between any of them, exactly one whitespace byte "
        "before the raster) is exercised on every payload; P6 rasters "
        "resolve through the ITU-R 601 integer luma. Features are exact "
        "integer moments of the DECODED pixels, hash-matched against a "
        "closed-form oracle that never sees a byte. Scale: the standard "
        "narrow 1:1 Arrow decode stage — no shuffle until the "
        "|docs|-row aggregate.",
)
def mm_pnm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_pnm_features, synth_pnm_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_pnm_features(synth_pnm_media(docs))
        .select(
            "media_id", "container", "width", "height", "n_pixels",
            "sum_pixels", "px_min", "px_max",
        )
        .orderBy("media_id")
    )


@query(
    "mm_ico_container_census",
    oracle="""
    WITH params AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 7 + 3 * (u.k % p.w) + 4 * (u.k // p.w)) % 256
               AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CAST(2 AS INT) AS n_entries,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "container", "pandas-udf"),
    doc="REAL ICO container decode (r12) — container-in-container: each "
        "payload is a genuine two-entry Windows icon (ICONDIR directory "
        "+ per-entry palettized BMP DIBs with the doubled-height "
        "XOR/AND-mask convention, 256-entry BGRA palette, bottom-up "
        "4-byte-padded rows) built by media_codecs.encode_ico_gray8 and "
        "re-parsed by the pure-stdlib directory walker + DIB decoder. "
        "The census keeps the LARGEST rendition (the asset a pipeline "
        "retains from a multi-resolution icon): exact integer moments "
        "of its palette-resolved luma, hash-matched against a "
        "closed-form oracle that never sees a byte — a wrong palette "
        "index, row padding slip, or mask-length miscount breaks the "
        "hash. Scale: the standard narrow 1:1 Arrow decode stage — no "
        "shuffle until the |docs|-row aggregate.",
)
def mm_ico_container_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_ico_features, synth_ico_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_ico_features(synth_ico_media(docs))
        .select(
            "media_id", "n_entries", "width", "height", "n_pixels",
            "sum_pixels", "px_min", "px_max",
        )
        .orderBy("media_id")
    )


@query(
    "mm_tga_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 10 + doc_id % 7 AS w, 5 + doc_id % 6 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             (p.doc_id * 11 + 3 * (u.k // p.w) + (u.k % p.w) // 4) % 256
               AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 1 THEN 'tga-rle' ELSE 'tga' END
             AS container,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL TGA decode (r13 — the thirteenth stdlib codec): each "
        "payload is a genuine 24-bit Truevision TARGA built by "
        "media_codecs.encode_tga_gray8 — even docs uncompressed type-2 "
        "in the format's native BOTTOM-UP row order (the decoder must "
        "flip), odd docs RLE type-10 top-down with run/raw packets "
        "that never cross a scan line — re-parsed by the pure-stdlib "
        "header validator + bounds-checked RLE walker. The gradient "
        "carries runs of four per row so run packets actually fire. "
        "Features are exact integer moments of the DECODED ITU-R 601 "
        "luma, hash-matched against a closed-form oracle that never "
        "sees a byte: a flipped row order, packet overrun, or BGR "
        "swap breaks the hash. Scale: the standard narrow 1:1 Arrow "
        "decode stage — no shuffle until the |docs|-row aggregate.",
)
def mm_tga_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_tga_features, synth_tga_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_tga_features(synth_tga_media(docs))
        .select(
            "media_id", "container", "width", "height", "n_pixels",
            "sum_pixels", "px_min", "px_max",
        )
        .orderBy("media_id")
    )


@query(
    "mm_pcx_decode_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, 9 + doc_id % 8 AS w, 5 + doc_id % 5 AS h
      FROM documents
    ),
    px AS (
      SELECT p.doc_id, p.w, p.h,
             ((p.doc_id * 13 + 5 * (u.k // p.w) + (u.k % p.w) // 5)
              % 256 * 37 + 11) % 256 AS v
      FROM params p, unnest(range(0, CAST(p.w * p.h AS INT))) AS u(k)
    )
    SELECT doc_id AS media_id,
           CASE WHEN w % 2 = 1 THEN 'pcx-pad' ELSE 'pcx' END AS container,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max
    FROM px GROUP BY doc_id, w, h
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "codec", "pandas-udf"),
    doc="REAL PCX decode (r14 — the fourteenth stdlib codec): each "
        "payload is a genuine ZSoft PCX v5 built by "
        "media_codecs.encode_pcx_gray8 — per-scan-line RLE whose "
        "values >= 0xC0 must be escaped as runs-of-one (the marker "
        "collision rule), rows padded to an EVEN bytes_per_line (odd "
        "widths carry a pad byte the decoder must drop — the classic "
        "PCX gotcha), and the 8-bit VGA palette trailer holding a "
        "PERMUTED gray ramp g(i) = (i*37+11) %% 256, so skipping "
        "palette resolution breaks the hash. Re-parsed by the "
        "pure-stdlib header validator + bounds-checked line walker "
        "that rejects packets crossing a scan line. Features are exact "
        "integer moments of the DECODED palette-resolved luma, "
        "hash-matched against a closed-form oracle that never sees a "
        "byte. Scale: the standard narrow 1:1 Arrow decode stage — no "
        "shuffle until the |docs|-row aggregate.",
)
def mm_pcx_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_pcx_features, synth_pcx_media

    docs = load_table(spark, "documents", sf_dir)
    return (
        extract_pcx_features(synth_pcx_media(docs))
        .select(
            "media_id", "container", "width", "height", "n_pixels",
            "sum_pixels", "px_min", "px_max",
        )
        .orderBy("media_id")
    )
