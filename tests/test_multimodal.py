"""Multimodal tests: the pure-stdlib codecs round-trip byte-for-byte, and
the Pandas-UDF decode stages agree with closed-form expectations."""

import pytest


# ---------------------------------------------------------------------------
# Real codecs (operators/media_codecs.py): byte-level round trips
# ---------------------------------------------------------------------------


def test_wav_roundtrip_byte_level():
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 1000, -999]
    wav = encode_wav_pcm16(samples, sample_rate=22050)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    out = decode_wav(wav)
    assert out["sample_rate"] == 22050
    assert out["n_channels"] == 1
    assert list(out["samples"]) == samples
    # stdlib `wave` reads our files too (independent reference parser)
    import io
    import wave

    with wave.open(io.BytesIO(wav)) as w:
        assert w.getframerate() == 22050
        assert w.getnframes() == len(samples)


def test_wav_decoder_walks_extra_chunks():
    """Real WAV files carry LIST/fact chunks between fmt and data — the
    decoder must walk the chunk list, not assume fixed offsets."""
    import struct

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_wav,
        encode_wav_pcm16,
    )

    wav = bytearray(encode_wav_pcm16([5, -5, 7], sample_rate=8000))
    fmt_at = wav.index(b"fmt ")
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = bytes(wav[:fmt_at]) + extra + bytes(wav[fmt_at:])
    patched = (
        b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    )
    out = decode_wav(patched)
    assert list(out["samples"]) == [5, -5, 7]


def test_wav_rejects_garbage():
    from arango_clickhouse_replica_spark.operators.media_codecs import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"not a wav at all............")


def test_png_roundtrip_byte_level():
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_png,
        encode_png_gray8,
    )

    w, h = 5, 3
    px = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
    png = encode_png_gray8(px, w, h)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png(png)
    assert (out["width"], out["height"], out["channels"]) == (w, h, 1)
    assert out["pixels"] == px


def test_png_unfilter_all_filter_types():
    """Decode must invert every scanline filter (Sub/Up/Average/Paeth):
    build an image whose scanlines are filtered with types 1..4 by
    applying the FORWARD filter here, then assert decode recovers the
    original pixels."""
    import struct
    import zlib

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        _chunk,
        _paeth,
        decode_png,
    )

    w, h = 6, 4
    px = [[(7 * x + 13 * y + x * y) % 256 for x in range(w)] for y in range(h)]
    filters = [1, 2, 3, 4]
    raw = bytearray()
    for y in range(h):
        f = filters[y]
        raw.append(f)
        for x in range(w):
            a = px[y][x - 1] if x > 0 else 0
            b = px[y - 1][x] if y > 0 else 0
            c = px[y - 1][x - 1] if (x > 0 and y > 0) else 0
            v = px[y][x]
            if f == 1:
                enc = v - a
            elif f == 2:
                enc = v - b
            elif f == 3:
                enc = v - ((a + b) >> 1)
            else:
                enc = v - _paeth(a, b, c)
            raw.append(enc & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(png)
    flat = bytes(v for row in px for v in row)
    assert out["pixels"] == flat


def test_png_rejects_corrupt_crc():
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_png,
        encode_png_gray8,
    )

    png = bytearray(encode_png_gray8(bytes(range(16)), 4, 4))
    png[-5] ^= 0xFF  # flip a byte of the IEND CRC
    with pytest.raises(ValueError):
        decode_png(bytes(png))


def test_real_decode_features_in_spark(spark, sf_dir):
    """The round-trip queries drive real encode->Arrow->decode in Spark;
    spot-check one document's features against a direct computation."""
    from arango_clickhouse_replica_spark.queries.multimodal_queries import (
        mm_png_decode_features,
        mm_wav_decode_features,
    )

    wav = {r.media_id: r for r in mm_wav_decode_features(spark, sf_dir).collect()}
    png = {r.media_id: r for r in mm_png_decode_features(spark, sf_dir).collect()}
    assert len(wav) == len(png) > 0
    d = min(wav)
    n = 32 + d % 17
    samples = [((d * 31 + i * 7) % 2001) - 1000 for i in range(n)]
    assert wav[d].n_samples == n
    assert wav[d].sum_abs == sum(abs(s) for s in samples)
    w_, h_ = 8 + d % 9, 8 + d % 7
    pxs = [(d * 7 + 3 * x + 5 * y) % 256 for y in range(h_) for x in range(w_)]
    assert png[d].n_pixels == w_ * h_
    assert png[d].sum_pixels == sum(pxs)


def test_box_downsample_floor_mean_and_edge_clip():
    """Exact integer box filter: floor(mean) per block, edge blocks
    clipped to the image — a 5x3 image at denom=2 yields 3x2 with
    hand-computable block means."""
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        box_downsample_gray8,
    )

    # row-major 5x3: values 0..14
    px = bytes(range(15))
    out, ow, oh = box_downsample_gray8(px, 5, 3, 2)
    assert (ow, oh) == (3, 2)
    # blocks: rows {0,1} x cols {0,1}|{2,3}|{4}; row {2} x same cols
    want = [
        (0 + 1 + 5 + 6) // 4, (2 + 3 + 7 + 8) // 4, (4 + 9) // 2,
        (10 + 11) // 2, (12 + 13) // 2, 14 // 1,
    ]
    assert list(out) == want
    # denom=1 is the identity
    ident, w1, h1 = box_downsample_gray8(px, 5, 3, 1)
    assert (ident, w1, h1) == (px, 5, 3)


def test_png_resize_roundtrip_byte_level():
    """decode -> box filter -> re-encode -> decode returns exactly the
    box-filtered pixels, and the resized payload is a genuine PNG."""
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        box_downsample_gray8,
        decode_png,
        encode_png_gray8,
    )

    w, h = 9, 7
    px = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
    png = encode_png_gray8(px, w, h)
    img = decode_png(png)
    small, ow, oh = box_downsample_gray8(img["pixels"], w, h, 2)
    small_png = encode_png_gray8(small, ow, oh)
    back = decode_png(small_png)
    assert (back["width"], back["height"]) == (ow, oh) == (5, 4)
    assert back["pixels"] == small


# --------------------------- JPEG codec (round 5) ---------------------------


def test_jpeg_roundtrip_exact_on_constant_blocks():
    """Piecewise-constant 8x8 blocks survive the full lossy pipeline
    bit-exactly (DC-only blocks, flat quant table) — the property the
    mm_jpeg_decode_features oracle depends on."""
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    w, h = 24, 16
    px = bytes(
        (37 + 41 * (x // 8) + 59 * (y // 8)) % 256
        for y in range(h) for x in range(w)
    )
    jpg = encode_jpeg_gray8(px, w, h)
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    dec = decode_jpeg_gray8(jpg)
    assert (dec["width"], dec["height"]) == (w, h)
    assert dec["pixels"] == px


def test_jpeg_lossy_error_is_bounded():
    """Arbitrary content (noise — worst case for the DCT) must come back
    within 1 grey level under the flat quantization table, and odd
    dimensions exercise the edge-replication padding path."""
    import random

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    rng = random.Random(11)
    w, h = 21, 13  # not multiples of 8
    px = bytes(rng.randrange(256) for _ in range(w * h))
    dec = decode_jpeg_gray8(encode_jpeg_gray8(px, w, h))
    assert (dec["width"], dec["height"]) == (w, h)
    assert max(abs(a - b) for a, b in zip(dec["pixels"], px)) <= 1


def test_jpeg_huffman_exercises_zrl_and_eob():
    """A single bright pixel at the end of a dark block forces a long
    zero run (ZRL path) before the final AC coefficient."""
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    px = bytearray(8 * 8)
    px[63] = 255
    dec = decode_jpeg_gray8(encode_jpeg_gray8(bytes(px), 8, 8))
    assert max(abs(a - b) for a, b in zip(dec["pixels"], bytes(px))) <= 1


def test_jpeg_rejects_progressive_and_garbage():
    import pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    with pytest.raises(ValueError):
        decode_jpeg_gray8(b"not a jpeg")
    jpg = bytearray(encode_jpeg_gray8(bytes(64), 8, 8))
    sof = jpg.find(b"\xff\xc0")
    jpg[sof + 1] = 0xC2  # claim progressive
    with pytest.raises(ValueError):
        decode_jpeg_gray8(bytes(jpg))
    with pytest.raises(ValueError):
        decode_jpeg_gray8(encode_jpeg_gray8(bytes(64), 8, 8)[:-10])


# ------------------------ WAV resample (round 5) ------------------------


def test_wav_resample_interpolation_floor_semantics(spark):
    """2x linear upsample uses FLOOR midpoints — the negative-sample
    cases are exactly where DuckDB's truncating // would diverge."""
    import pandas as pd

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_wav,
        encode_wav_pcm16,
    )
    from arango_clickhouse_replica_spark.operators.multimodal import (
        resample_wav_media,
    )

    src = [-3, 2, 5, -999]
    wav = encode_wav_pcm16(src, sample_rate=8000)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [wav],
                      "meta": [{"mime": "audio/wav", "n_bytes": len(wav),
                                "source": None}]})
    )
    out = resample_wav_media(media, factor=2).collect()[0]
    dec = decode_wav(bytes(out.payload))
    assert dec["sample_rate"] == 16000
    # floor((-3+2)/2) = -1, floor((2+5)/2) = 3, floor((5-999)/2) = -497
    assert list(dec["samples"]) == [-3, -1, 2, 3, 5, -497, -999]


def test_wav_resample_factor3_and_identity(spark):
    import pandas as pd

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_wav,
        encode_wav_pcm16,
    )
    from arango_clickhouse_replica_spark.operators.multimodal import (
        resample_wav_media,
    )

    wav = encode_wav_pcm16([0, 3], sample_rate=1000)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [wav],
                      "meta": [{"mime": "audio/wav", "n_bytes": len(wav),
                                "source": None}]})
    )
    r3 = decode_wav(bytes(
        resample_wav_media(media, factor=3).collect()[0].payload))
    assert list(r3["samples"]) == [0, 1, 2, 3] and r3["sample_rate"] == 3000
    r1 = decode_wav(bytes(
        resample_wav_media(media, factor=1).collect()[0].payload))
    assert list(r1["samples"]) == [0, 3] and r1["sample_rate"] == 1000


# --------------------- MJPG container (round 5) ---------------------


def test_mjpeg_container_roundtrip_and_bounds():
    import pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_mjpeg,
        encode_jpeg_gray8,
        encode_mjpeg,
    )

    frames = [encode_jpeg_gray8(bytes([v] * 64), 8, 8) for v in (0, 128, 255)]
    mj = encode_mjpeg(frames)
    assert decode_mjpeg(mj) == frames
    assert decode_mjpeg(encode_mjpeg([])) == []
    with pytest.raises(ValueError):
        decode_mjpeg(b"RIFF" + mj[4:])          # wrong magic
    with pytest.raises(ValueError):
        decode_mjpeg(mj[:-3])                   # truncated payload
    with pytest.raises(ValueError):
        decode_mjpeg(mj + b"\x00")              # trailing garbage
    with pytest.raises(ValueError):
        decode_mjpeg(mj[:10])                   # truncated index


def test_mjpeg_sampler_decodes_only_kept_frames(spark):
    import pandas as pd

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        encode_jpeg_gray8,
        encode_mjpeg,
    )
    from arango_clickhouse_replica_spark.operators.multimodal import (
        sample_mjpeg_frames,
    )

    frames = [encode_jpeg_gray8(bytes([10 * f] * 64), 8, 8) for f in range(5)]
    mj = encode_mjpeg(frames)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [7], "payload": [mj],
                      "meta": [{"mime": "video/x-motion-jpeg",
                                "n_bytes": len(mj), "source": None}]})
    )
    got = {(r.frame_no, r.sum_pixels) for r in
           sample_mjpeg_frames(media, every_n=2).collect()}
    assert got == {(0, 0), (2, 64 * 20), (4, 64 * 40)}


# --- color codecs (round 7: RGB PNG + 4:2:0 color JPEG) --------------------


def test_rgb_png_roundtrip_byte_level():
    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_png,
        encode_png_rgb8,
    )

    w, h = 5, 3
    px = bytes(
        c
        for y in range(h) for x in range(w)
        for c in ((3 * x + 5 * y) % 256, (7 * x + y) % 256, (x + 11 * y) % 256)
    )
    png = encode_png_rgb8(px, w, h)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_png(png)
    assert (out["width"], out["height"], out["channels"]) == (w, h, 3)
    assert out["pixels"] == px


def test_ycbcr_fixed_point_floor_semantics():
    """The inverse transform's numerators go negative; Python // floors
    toward -inf, and the oracle mirrors it with FLOOR(x/1000.0). Pin a
    handful of exact values, including the negative-numerator cases."""
    import math

    import numpy as np

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        rgb_to_ycbcr_int,
        ycbcr_to_rgb_int,
    )

    y, cb, cr = rgb_to_ycbcr_int(
        np.array([0, 255, 12]), np.array([0, 255, 200]), np.array([0, 255, 3])
    )
    assert list(y) == [0, 255, (299 * 12 + 587 * 200 + 114 * 3 + 500) // 1000]
    # forward numerators are provably non-negative: floor == truncate
    assert (cb >= 0).all() and (cr >= 0).all() and (cb <= 255).all()

    r, g, b = ycbcr_to_rgb_int(np.array([0]), np.array([0]), np.array([0]))
    # negative numerators floor toward -inf then clip to 0
    assert (int(r[0]), int(b[0])) == (0, 0)
    assert int(g[0]) == min(
        255, max(0, math.floor((0 - 344 * (0 - 128) - 714 * (0 - 128) + 500) / 1000))
    )


def test_color_jpeg_roundtrip_exact_on_constant_mcus():
    """MCU-constant color survives the lossy 4:2:0 chain exactly modulo
    the YCbCr fixed-point round trip — the property the
    mm_color_jpeg_decode_features oracle replays in closed form."""
    import numpy as np

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_color420,
        encode_jpeg_color420,
        rgb_to_ycbcr_int,
        ycbcr_to_rgb_int,
    )

    w, h = 32, 16  # two MCUs wide
    mcu_rgb = [(37, 201, 90), (254, 3, 128)]
    px = bytes(
        c for y in range(h) for x in range(w) for c in mcu_rgb[x // 16]
    )
    jpg = encode_jpeg_color420(px, w, h)
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    dec = decode_jpeg_color420(jpg)
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 3)

    expect = b""
    rt = {}
    for rgb in mcu_rgb:
        yy, cb, cr = rgb_to_ycbcr_int(*(np.array([v]) for v in rgb))
        rr, gg, bb = ycbcr_to_rgb_int(yy, cb, cr)
        rt[rgb] = (int(rr[0]), int(gg[0]), int(bb[0]))
    expect = bytes(
        c for y in range(h) for x in range(w) for c in rt[mcu_rgb[x // 16]]
    )
    assert dec["pixels"] == expect


def test_color_jpeg_gray_content_roundtrips_like_gray8():
    """r=g=b noise: Y equals the gray value exactly and chroma is the
    constant 128, so the color pipeline must match the gray codec's
    +-1 bound even on worst-case (noise) luma, across odd dimensions
    (exercises the 16x16 edge-replication padding)."""
    import random

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_color420,
        encode_jpeg_color420,
    )

    rng = random.Random(7)
    w, h = 21, 13
    gray = [rng.randrange(256) for _ in range(w * h)]
    px = bytes(c for v in gray for c in (v, v, v))
    dec = decode_jpeg_color420(encode_jpeg_color420(px, w, h))
    assert (dec["width"], dec["height"]) == (w, h)
    out = dec["pixels"]
    err = max(
        abs(out[3 * i + c] - gray[i]) for i in range(w * h) for c in range(3)
    )
    assert err <= 1


def test_color_jpeg_rejects_gray_and_garbage():
    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_color420,
        decode_jpeg_gray8,
        encode_jpeg_color420,
        encode_jpeg_gray8,
    )

    gray = encode_jpeg_gray8(bytes(range(64)), 8, 8)
    with _pytest.raises(ValueError):
        decode_jpeg_color420(gray)
    color = encode_jpeg_color420(bytes(16 * 16 * 3), 16, 16)
    with _pytest.raises(ValueError):
        decode_jpeg_gray8(color)
    with _pytest.raises(ValueError):
        decode_jpeg_color420(b"\x00\x01not a jpeg")
    with _pytest.raises(ValueError):
        decode_jpeg_color420(gray[:2])  # SOI only, no scan


def test_jpeg_decoders_tolerate_trailing_bytes_and_reject_dri():
    """Real-world shapes: bytes after EOI must not corrupt the entropy
    scan (the EOI is found by marker search, not assumed terminal), and
    a DRI segment raises an explicit 'restart intervals' error instead
    of failing mid-scan on RST markers."""
    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_jpeg_color420,
        decode_jpeg_gray8,
        encode_jpeg_color420,
        encode_jpeg_gray8,
    )

    gray = encode_jpeg_gray8(bytes(range(64)), 8, 8)
    color = encode_jpeg_color420(bytes(range(128)) * 6, 16, 16)
    for codec, payload in ((decode_jpeg_gray8, gray),
                           (decode_jpeg_color420, color)):
        clean = codec(payload)
        padded = codec(payload + b"\x00\xffJUNK after EOI")
        assert padded == clean

    # splice a DRI (FFDD, len=4, interval=8) right after SOI
    for codec, payload in ((decode_jpeg_gray8, gray),
                           (decode_jpeg_color420, color)):
        with_dri = payload[:2] + b"\xff\xdd\x00\x04\x00\x08" + payload[2:]
        with _pytest.raises(ValueError, match="restart intervals"):
            codec(with_dri)


def test_color_ahash_luma_weights_match_gray_on_gray_content(spark):
    """A color PNG whose channels are all equal must hash identically to
    the gray PNG of the same pixels: luma WEIGHT 299r+587g+114b =
    1000*v, and the cross-multiplied mean comparison is scale-invariant."""
    import pandas as pd

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        encode_png_gray8,
        encode_png_rgb8,
    )
    from arango_clickhouse_replica_spark.operators.multimodal import (
        extract_ahash,
    )
    w, h = 16, 16
    gray_px = bytes((3 * x + 5 * y) % 256 for y in range(h) for x in range(w))
    rgb_px = bytes(c for v in gray_px for c in (v, v, v))
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_id": [1, 2],
            "payload": [encode_png_gray8(gray_px, w, h),
                        encode_png_rgb8(rgb_px, w, h)],
            "meta": [{"mime": "image/png", "n_bytes": 0, "source": None}] * 2,
        })
    )
    rows = {r.media_id: (r.b0, r.b1, r.b2, r.b3)
            for r in extract_ahash(media).collect()}
    assert rows[1] == rows[2]


def test_media_rebuild_recomputes_and_matches(spark, sf_dir):
    """r14 optimization round: the session-level decoded-media memo was
    removed (a bench's repeat runs must recompute from parquet — module
    result memos keyed on the input dir are the banned gaming pattern).
    Two independent builds must return distinct DataFrames (no shared
    module state) with identical rows (the decode is deterministic)."""
    from arango_clickhouse_replica_spark.queries import QUERIES
    from arango_clickhouse_replica_spark.queries import multimodal_queries as mq

    assert not hasattr(mq, "_MEDIA_CACHE")
    df1 = QUERIES["mm_color_jpeg_decode_features"].build(spark, sf_dir)
    df2 = QUERIES["mm_color_jpeg_decode_features"].build(spark, sf_dir)
    assert df1 is not df2
    assert df1.collect() == df2.collect()


def test_mjpeg_group_synth_roles(spark):
    """The group-content video fixture's member roles: m0/m1 decode to
    identical frame signatures, m3 to a one-frame-shorter prefix bag,
    m2 to fully disjoint signatures (+1 luma shifts every block)."""
    from arango_clickhouse_replica_spark.operators.multimodal import (
        sample_mjpeg_frames,
        synth_mjpeg_group_media,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(8, 16)], "doc_id long"
    )
    frames = sample_mjpeg_frames(
        synth_mjpeg_group_media(docs), every_n=1
    ).collect()
    sigs = {}
    for r in frames:
        sigs.setdefault(r.media_id, set()).add(
            (r.sum_pixels, r.px_min, r.px_max)
        )
    for g0 in (8, 12):
        assert sigs[g0] == sigs[g0 + 1]                 # exact dup
        assert sigs[g0 + 3] < sigs[g0]                  # truncated copy
        assert len(sigs[g0]) - len(sigs[g0 + 3]) == 1
        assert not (sigs[g0 + 2] & sigs[g0])            # luma near-dup


def test_phash_brightness_invariance_vs_ahash(spark):
    """The reason pHash exists: a uniform brightness shift moves only
    the DC coefficient (basis rows sum to 0), so the m2 member hashes
    IDENTICALLY under pHash; the one-cell edit member costs few bits;
    and the same +2-shifted image generally flips aHash bits."""
    from arango_clickhouse_replica_spark.operators.multimodal import (
        DCT8_1024,
        extract_phash,
        synth_phash_group_media,
    )

    assert all(sum(row) == 0 for row in DCT8_1024[1:])

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    sigs = {
        r.media_id: (r.b0, r.b1, r.b2, r.b3)
        for r in extract_phash(synth_phash_group_media(docs)).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    for g0 in (0, 4, 8):
        assert sigs[g0] == sigs[g0 + 1]          # exact duplicate
        assert sigs[g0] == sigs[g0 + 2]          # brightness-invariant
        assert 0 <= ham(sigs[g0], sigs[g0 + 3]) <= 4   # one-cell edit
    assert ham(sigs[0], sigs[4]) >= 16           # cross-group separation


def test_audio_fingerprint_gain_invariance(spark, sf_dir):
    """The fingerprint's reason to exist: a 2x-gain copy scales frame
    energies exactly 4x -> log2 shifts by the integer +2 -> only the
    DC coefficient moves -> identical fingerprint; a one-sample edit
    costs at most a couple of bits."""
    from arango_clickhouse_replica_spark.queries.multimodal_queries import (
        mm_audio_fingerprint_dedup,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm_audio_fingerprint_dedup(spark, sf_dir).collect()
    }
    assert pairs, "fixture must produce near-dup pairs"
    for g0 in (0, 4, 8):
        assert pairs[(g0, g0 + 1)] == 0        # exact duplicate
        assert pairs[(g0, g0 + 2)] == 0        # 2x gain: invariant
        assert pairs[(g0 + 1, g0 + 2)] == 0
        assert pairs.get((g0, g0 + 3), 99) <= 3  # one-sample edit


def test_gif_codec_roundtrips_byte_level():
    """GIF87a encode->decode is the identity on pixels across dimension
    mixes that exercise LZW width growth, proactive clears, and the
    KwKwK self-reference; 89a extension blocks are skipped; malformed
    inputs raise."""
    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_gif,
        encode_gif_gray8,
    )

    for w, h in ((1, 1), (8, 8), (40, 33), (255, 9), (64, 64)):
        px = bytes((13 * i + 5 * (i % w) + 3 * (i // w)) % 256
                   for i in range(w * h))
        img = decode_gif(encode_gif_gray8(px, w, h))
        assert (img["width"], img["height"]) == (w, h)
        assert bytes(img["pixels"]) == px

    # constant image: maximal LZW run-compression (KwKwK-heavy)
    px = bytes([7] * (50 * 50))
    assert bytes(decode_gif(encode_gif_gray8(px, 50, 50))["pixels"]) == px

    # GIF89a with a graphic-control extension spliced in: decoder skips
    g = bytearray(encode_gif_gray8(bytes(range(16)), 4, 4))
    g[3:6] = b"89a"
    g[13 + 768:13 + 768] = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    assert bytes(decode_gif(bytes(g))["pixels"]) == bytes(range(16))

    with _pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + b"\x00" * 32)
    with _pytest.raises(ValueError):
        encode_gif_gray8(b"\x00" * 5, 2, 3)  # wrong pixel count
    # interlace flag rejected
    ok = bytearray(encode_gif_gray8(bytes(range(16)), 4, 4))
    ok[13 + 768 + 9] |= 0x40  # image-descriptor packed byte
    with _pytest.raises(ValueError):
        decode_gif(bytes(ok))


def test_qoi_codec_roundtrips_byte_level():
    """QOI encode->decode is the identity on pixels across dimension
    mixes that exercise every chunk op (RUN incl. the 62-cap, INDEX,
    DIFF, LUMA, RGB); headers and the end marker validate; malformed
    inputs raise."""
    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        decode_qoi,
        encode_qoi_gray8,
    )

    for w, h in ((1, 1), (8, 8), (40, 33), (255, 9), (64, 64)):
        px = bytes((13 * i + 5 * (i % w) + 3 * (i // w)) % 256
                   for i in range(w * h))
        img = decode_qoi(encode_qoi_gray8(px, w, h))
        assert (img["width"], img["height"]) == (w, h)
        assert bytes(img["pixels"]) == px

    # constant image: RUN chains crossing the 62-cap repeatedly
    px = bytes([7] * (50 * 50))
    q = encode_qoi_gray8(px, 50, 50)
    assert bytes(decode_qoi(q)["pixels"]) == px
    assert len(q) < 50 * 50 // 10  # runs actually compress

    # +-1 gradients ride DIFF (1 byte/px); +-17 jumps need LUMA/RGB
    px = bytes(((i % 3) + 100) for i in range(64))
    assert bytes(decode_qoi(encode_qoi_gray8(px, 8, 8))["pixels"]) == px
    px = bytes((i * 17) % 256 for i in range(64))
    assert bytes(decode_qoi(encode_qoi_gray8(px, 8, 8))["pixels"]) == px

    with _pytest.raises(ValueError):
        decode_qoi(b"noqi" + b"\x00" * 32)
    with _pytest.raises(ValueError):
        encode_qoi_gray8(b"\x00" * 5, 2, 3)  # wrong pixel count
    good = bytearray(encode_qoi_gray8(bytes(range(16)), 4, 4))
    with _pytest.raises(ValueError):
        decode_qoi(bytes(good[:-8]))  # end marker gone
    bad = bytearray(good)
    bad[12] = 7  # channels byte
    with _pytest.raises(ValueError):
        decode_qoi(bytes(bad))
    with _pytest.raises(ValueError):  # truncated data stream
        decode_qoi(bytes(good[:14]) + bytes(good[-8:]))


def test_adpcm_codec_properties():
    """IMA ADPCM: 4 bits/sample exactly (odd counts pad), decode equals
    the encoder's prediction track, reconstruction clamps at int16
    extremes, error is step-bounded on smooth signals, and the index
    never escapes [0, 88]."""
    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        _adpcm_step,
        adpcm_decode,
        adpcm_encode,
    )

    xs = [((i * 1237 + 131) % 60001) - 30000 for i in range(101)]
    enc = adpcm_encode(xs)
    assert len(enc) == 51  # ceil(101/2)
    ys = adpcm_decode(enc, 101)
    # decode IS the encoder's reconstruction: replay states manually
    pred, idx = 0, 0
    track = []
    for s in xs:
        _, pred, idx = _adpcm_step(pred, idx, s)
        assert 0 <= idx <= 88
        track.append(pred)
    assert ys == track

    # extremes clamp, never wrap
    ys = adpcm_decode(adpcm_encode([32767] * 50 + [-32768] * 50), 100)
    assert max(ys) <= 32767 and min(ys) >= -32768
    assert ys[40] == 32767  # reaches and holds the positive clamp

    # a constant signal converges: last-quarter error under one min-step
    ys = adpcm_decode(adpcm_encode([1000] * 80), 80)
    assert all(abs(y - 1000) <= 8 for y in ys[60:])

    with _pytest.raises(ValueError):
        adpcm_decode(b"\x00\x00", 100)  # truncated payload


def test_tile_signatures_find_shared_tiles(spark):
    """Two docs 32 apart share ALL tiles; docs differing otherwise
    share tiles exactly when (d*3 + pos) collides mod 32 — the tile
    stream proves block-level sharing whole-file hashing misses."""
    from pyspark.sql import functions as F

    from arango_clickhouse_replica_spark.operators.multimodal import (
        extract_tile_signatures,
        synth_tiled_png_media,
    )

    docs = spark.createDataFrame(
        [(0,), (32,), (1,), (5,)], ["doc_id"]
    )
    sig = extract_tile_signatures(synth_tiled_png_media(docs))
    rows = sig.collect()
    assert len(rows) == 16  # 4 docs x 4 tiles
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.media_id, {})[(r.tile_x, r.tile_y)] = r.tile_md5
    # full duplicate: doc 0 and doc 32 (seeds equal mod 32) tile-match
    assert by_doc[0] == by_doc[32]
    # partial: doc 1 tile (tx=0,ty=0) has seed 3 == doc 0 tile... none
    # of doc 1's seeds {3,4,5,6} meet doc 5's {15,16,17,18}: disjoint
    assert set(by_doc[1].values()).isdisjoint(set(by_doc[5].values()))
    # doc 1 {3,4,5,6} vs doc 0 {0,1,2,3}: exactly one shared tile value
    assert len(set(by_doc[1].values()) & set(by_doc[0].values())) == 1


def test_exif_codec_both_endians_and_malformed():
    """EXIF encode->parse roundtrips every orientation in BOTH TIFF
    byte orders; display dims transpose for 5-8; malformed streams
    (no SOI, no APP1, bad magic, missing dims) raise."""
    import struct as _struct

    import pytest as _pytest

    from arango_clickhouse_replica_spark.operators.media_codecs import (
        encode_exif_jpeg_header,
        parse_exif,
    )

    for be in (False, True):
        for o in range(1, 9):
            d = parse_exif(
                encode_exif_jpeg_header(641, 480, o, "leica",
                                        big_endian=be))
            assert (d["width"], d["height"], d["orientation"],
                    d["make"]) == (641, 480, o, "leica")
            want = (480, 641) if o >= 5 else (641, 480)
            assert (d["display_w"], d["display_h"]) == want

    with _pytest.raises(ValueError):
        parse_exif(b"\x00\x00junk")
    with _pytest.raises(ValueError):  # JPEG with no APP1/Exif
        parse_exif(b"\xff\xd8\xff\xe0" + _struct.pack(">H", 4) + b"JF")
    good = bytearray(encode_exif_jpeg_header(10, 10, 1, "x"))
    bad = bytearray(good)
    bad[12:14] = b"XX"  # TIFF byte-order bytes
    with _pytest.raises(ValueError):
        parse_exif(bytes(bad))
    with _pytest.raises(ValueError):
        encode_exif_jpeg_header(10, 10, 9, "x")  # orientation out of range
