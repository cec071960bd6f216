"""Multimodal plumbing: schema, determinism, stub boundary."""

import pytest
from pyspark.sql import functions as F

from yomitoku_spark.multimodal import media as MM


def test_synthetic_media_deterministic(spark):
    a = MM.synthetic_media(spark, n=30).orderBy("media_id").collect()
    b = MM.synthetic_media(spark, n=30).orderBy("media_id").collect()
    assert a == b
    assert {r.kind for r in a} == {"image", "audio", "video"}


def test_validate_flags(spark):
    df = MM.validate_media(MM.synthetic_media(spark, n=60))
    rows = df.collect()
    for r in rows:
        if r.kind == "audio":
            assert r.valid
        else:
            assert r.valid == (r.meta.width >= 32 and r.meta.height >= 32)


def test_bmp_round_trip_scalar():
    """encode_bmp → decode_bmp recovers dims/bpp and the exact pixel
    byte sum, across widths that exercise every stride-padding case
    (w*3 % 4 ∈ {0,1,2,3})."""
    import numpy as np

    for w in (8, 9, 10, 11):
        h = 5
        px = np.arange(w * h * 3, dtype=np.int64).reshape(h, w, 3) % 256
        payload = MM.encode_bmp(w, h, px.astype(np.uint8))
        dw, dh, bpp, px_sum = MM.decode_bmp(payload)
        assert (dw, dh, bpp) == (w, h, 24)
        assert px_sum == int(px.sum())


def test_bmp_rejects_zero_bpp():
    """A payload with valid magic but bpp=0 must raise, not return a
    bogus success row (bytes_px=0 made every length check pass
    trivially — r6 review finding)."""
    import struct

    hdr = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 0, 0, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        MM.decode_bmp(hdr + info + b"\x00" * 64)


def test_wav_round_trip_scalar():
    import numpy as np

    s = np.array([0, 1000, -1000, 32767, -32768, 7], dtype=np.int64)
    payload = MM.encode_wav(16000, s)
    sr, nch, n, amp = MM.decode_wav(payload)
    assert (sr, nch, n) == (16000, 1, len(s))
    assert amp == int(np.abs(s).sum())


def test_decode_media_real_and_malformed(spark):
    """decode_media parses real BMP/WAV payloads distributed and
    degrades per-row on malformed input (decode_error set, stats null)
    — the reference's per-file error-skip contract."""
    import pandas as pd

    df = MM.synthetic_media_codec(spark, n=30)
    rows = {r.media_id: r for r in MM.decode_media(df).collect()}
    assert len(rows) == 30
    for i, r in rows.items():
        assert r.decode_error is None
        if r.kind == "audio":
            assert r.sample_rate == 8000 + (i % 3) * 4000
            assert r.n_samples == 50 + i % 100
            assert r.width is None
        else:
            assert (r.width, r.height, r.bpp) == (
                8 + (i * 37) % 33, 8 + (i * 53) % 33, 24)
            assert r.px_sum is not None and r.sample_rate is None
    # malformed payloads: wrong magic, truncated body, garbage WAV
    bad = spark.createDataFrame(
        pd.DataFrame({
            "media_id": [100, 101, 102],
            "kind": ["image", "image", "audio"],
            "payload": [b"XX" + b"\x00" * 60,
                        MM.encode_bmp(4, 4, __import__("numpy").zeros((4, 4, 3), dtype="uint8"))[:40],
                        b"RIFFgarbage"],
        }),
        schema="media_id bigint, kind string, payload binary",
    )
    out = {r.media_id: r for r in MM.decode_media(bad).collect()}
    assert all(out[k].decode_error for k in (100, 101, 102))
    assert all(out[k].px_sum is None and out[k].amp_sum is None
               for k in (100, 101, 102))


def test_sample_frames(spark):
    df = MM.synthetic_media(spark, n=60)
    frames = MM.sample_frames(df, every_n=30)
    vids = df.filter(F.col("kind") == "video").select("media_id", "meta.n_frames").collect()
    want = sum(1 + (r.n_frames - 1) // 30 for r in vids)
    assert frames.count() == want
    assert frames.filter(F.col("frame_idx") % 30 != 0).count() == 0


def test_resize_media_dims_and_stub(spark):
    from yomitoku_spark.multimodal.media import resize_media, synthetic_media

    media = synthetic_media(spark, n=64)
    out = resize_media(media, max_side=720)
    rows = {r.media_id: r for r in out.collect()}
    assert rows  # images exist in the synthetic mix
    for r in rows.values():
        assert max(r.dst_w, r.dst_h) <= 720
        if max(r.src_w, r.src_h) <= 720:
            assert (r.dst_w, r.dst_h) == (r.src_w, r.src_h)
        else:  # aspect preserved within rounding
            assert abs(r.dst_w * r.src_h - r.dst_h * r.src_w) <= max(r.src_w, r.src_h)
        assert len(r.resized) == 16
    # deterministic stub: same input → same digests
    again = {r.media_id: r.resized for r in resize_media(media).collect()}
    assert again == {k: v.resized for k, v in rows.items()}
