"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The reference's image loaders (data/functions.py:33-193 — decode,
min-size validation, lazy per-page PDF render) map to binary-payload
columns processed in Arrow batches. Two codec tiers:

* REAL stdlib codecs — BMP (``struct`` header parse + raw pixel scan,
  stride-padding aware) and 16-bit PCM WAV (stdlib ``wave``) decode in
  :func:`decode_media`; :func:`synthetic_media_codec` builds valid
  payloads whose decoded stats are closed-form in the media id, so the
  encode→decode round trip is checkable by an independent SQL oracle.
* Stubbed heavyweight codecs — JPEG/PNG/MP3/video (PIL / soundfile
  class libraries absent from this container): the pixel resample in
  :func:`resize_media` is a deterministic blake2b fake while the
  Spark-side plumbing (schema, batch shape, metadata validation,
  partitioning) stays real and tested.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

MIN_SIDE = 32  # reference: constants.py:6-7 MIN_IMAGE_SIZE
WARNING_SIDE = 720  # reference: constants.py:7 WARNING_IMAGE_SIZE


def synthetic_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (binary payload = seeded bytes)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids.tolist():
                h = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=32).digest()
                kind = ["image", "audio", "video"][i % 3]
                payload = h * (4 + i % 7)
                meta = {
                    "width": 16 + (i * 37) % 2000 if kind != "audio" else None,
                    "height": 16 + (i * 53) % 1200 if kind != "audio" else None,
                    "sample_rate": 16000 if kind == "audio" else None,
                    "n_frames": 1 + (i % 300) if kind == "video" else None,
                }
                rows.append((i, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


# -------------------------------------------------- real stdlib codecs


def encode_bmp(width: int, height: int, pixels: np.ndarray) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (pure stdlib).

    ``pixels`` is (height, width, 3) uint8 in storage order (BMP stores
    the bottom row first; callers who care about orientation flip
    before encoding — the decode stats here are row-order invariant).
    Rows are padded to 4-byte strides per the format."""
    stride = (width * 3 + 3) // 4 * 4
    img_size = stride * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       img_size, 2835, 2835, 0, 0)
    pad = b"\x00" * (stride - width * 3)
    body = b"".join(pixels[y].tobytes() + pad for y in range(height))
    return header + info + body


def decode_bmp(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a BMP header + raw pixel scan (stdlib struct — the real
    decode path, no image library): returns (width, height, bpp,
    px_sum) where px_sum is the sum of all pixel channel bytes,
    EXCLUDING the per-row stride padding. Raises ValueError on
    malformed payloads (bad magic, truncated header/body) — the analog
    of the reference's load_image validation (data/functions.py:33-78)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (off,) = struct.unpack_from("<I", payload, 10)
    width, height, _planes, bpp = struct.unpack_from("<iiHH", payload, 18)
    if width <= 0 or bpp not in (8, 16, 24, 32):
        raise ValueError("unsupported BMP geometry")
    h_abs = abs(height)  # negative height = top-down storage
    bytes_px = bpp // 8
    stride = (width * bytes_px + 3) // 4 * 4
    if len(payload) < off + stride * h_abs:
        raise ValueError("truncated BMP body")
    px_sum = 0
    for row in range(h_abs):
        start = off + row * stride
        px_sum += int(
            np.frombuffer(
                payload, dtype=np.uint8, count=width * bytes_px, offset=start
            ).sum(dtype=np.int64)
        )
    return width, h_abs, bpp, px_sum


def encode_wav(sample_rate: int, samples: np.ndarray) -> bytes:
    """16-bit mono PCM WAV via the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, int]:
    """Stdlib ``wave`` parse: returns (sample_rate, n_channels,
    n_samples, amp_sum) with amp_sum = sum(|sample|) over int16 PCM.
    Raises on malformed payloads (wave.Error propagates as ValueError)."""
    try:
        with wave.open(io.BytesIO(payload)) as wf:
            sr = wf.getframerate()
            nch = wf.getnchannels()
            n = wf.getnframes()
            if wf.getsampwidth() != 2:
                raise ValueError("only 16-bit PCM supported")
            data = wf.readframes(n)
    except wave.Error as e:
        raise ValueError(f"not a WAV payload: {e}") from e
    s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    return sr, nch, n, int(np.abs(s).sum())


def synthetic_media_codec(spark: SparkSession, n: int = 256) -> DataFrame:
    """Deterministic media table with REAL payloads: 24-bit BMPs for
    image/video kinds and 16-bit PCM WAVs for audio, generated
    distributed (one Arrow batch per range partition). Every decoded
    stat is CLOSED-FORM in the media id i:

        kind        = [image, audio, video][i % 3]
        image/video : width  = 8 + (i*37) % 33, height = 8 + (i*53) % 33
                      channel byte c(x, y, ch) = (i*7 + x*3 + y*5 + ch*11) % 256
        audio       : sample_rate = 8000 + (i % 3)*4000
                      n_samples   = 50 + i % 100
                      sample s(t) = ((i*13 + t*17) % 2001) - 1000

    so an independent SQL oracle can recompute width/height/px_sum/
    sample-rate/amp_sum from id arithmetic alone — which makes the
    encode → decode ROUND TRIP (header layout, stride padding, PCM
    framing) the thing under test, not the generator."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                kind = ["image", "audio", "video"][i % 3]
                if kind == "audio":
                    sr = 8000 + (i % 3) * 4000
                    t = np.arange(50 + i % 100, dtype=np.int64)
                    samples = (i * 13 + t * 17) % 2001 - 1000
                    payload = encode_wav(sr, samples)
                    meta = {"width": None, "height": None,
                            "sample_rate": sr, "n_frames": None}
                else:
                    w = 8 + (i * 37) % 33
                    h = 8 + (i * 53) % 33
                    x = np.arange(w, dtype=np.int64)
                    y = np.arange(h, dtype=np.int64)
                    ch = np.arange(3, dtype=np.int64)
                    px = (
                        i * 7 + x[None, :, None] * 3 + y[:, None, None] * 5
                        + ch[None, None, :] * 11
                    ) % 256
                    payload = encode_bmp(w, h, px.astype(np.uint8))
                    meta = {"width": w, "height": h, "sample_rate": None,
                            "n_frames": 1 + i % 300 if kind == "video" else None}
                rows.append((i, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


DECODE_SCHEMA = (
    "media_id bigint, kind string, width bigint, height bigint, bpp bigint, "
    "px_sum bigint, sample_rate bigint, n_channels bigint, n_samples bigint, "
    "amp_sum bigint, decode_error string"
)


def decode_media(df: DataFrame) -> DataFrame:
    """REAL media decode in Arrow batches (stdlib codecs — no pip):
    BMP header + pixel scan for image/video payloads, PCM WAV parse
    for audio. A malformed payload yields a row with null stats and
    ``decode_error`` set (per-file error skip, the reference's
    load_image contract) — never a crashed task."""

    def feats(batches):
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                row = {"media_id": mid, "kind": kind, "width": None,
                       "height": None, "bpp": None, "px_sum": None,
                       "sample_rate": None, "n_channels": None,
                       "n_samples": None, "amp_sum": None,
                       "decode_error": None}
                try:
                    b = bytes(payload or b"")
                    if kind == "audio":
                        sr, nch, ns, amp = decode_wav(b)
                        row.update(sample_rate=sr, n_channels=nch,
                                   n_samples=ns, amp_sum=amp)
                    else:
                        w, h, bpp, px = decode_bmp(b)
                        row.update(width=w, height=h, bpp=bpp, px_sum=px)
                except (ValueError, EOFError, struct.error) as e:
                    row["decode_error"] = str(e)[:80]
                out.append(row)
            yield pd.DataFrame(out)

    return df.select("media_id", "kind", "payload").mapInPandas(
        feats, schema=DECODE_SCHEMA
    )


def validate_media(df: DataFrame) -> DataFrame:
    """Metadata validation as column expressions (reference analog:
    min-size 32 hard floor / sub-720 warning, data/functions.py:19-31)."""
    w, h = F.col("meta.width"), F.col("meta.height")
    return df.withColumn(
        "valid",
        F.when(F.col("kind") == "audio", F.col("meta.sample_rate") > 0).otherwise(
            (w >= MIN_SIDE) & (h >= MIN_SIDE)
        ),
    ).withColumn(
        "low_res_warning",
        (F.col("kind") != "audio") & (F.least(w, h) < WARNING_SIDE),
    )


def sample_frames(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling plan: explode frame indices 0..n_frames-1
    step every_n (pure column expressions; the per-frame decode is the
    same stubbed codec boundary as resize_media)."""
    vids = df.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def resize_media(df: DataFrame, max_side: int = 720) -> DataFrame:
    """Resize plan for image media: target dims fit within ``max_side``
    preserving aspect (the reference's load_image size policy —
    data/functions.py:33-78 validates ≥32 px and warns <720). The
    TARGET-DIMENSION math is integer column expressions (JVM-side);
    only the pixel resample crosses into the Arrow stub, which emits a
    deterministic blake2b digest of (payload, target dims) in place of
    real pixels — the documented codec boundary (no image libraries
    in this container)."""
    imgs = df.filter(F.col("kind") == "image")
    w, h = F.col("meta.width"), F.col("meta.height")
    long_side = F.greatest(w, h)
    tw = F.when(long_side <= max_side, w).otherwise(
        F.round(w * max_side / long_side).cast("int")
    )
    th = F.when(long_side <= max_side, h).otherwise(
        F.round(h * max_side / long_side).cast("int")
    )
    planned = imgs.select(
        "media_id", "payload",
        w.alias("src_w"), h.alias("src_h"),
        tw.alias("dst_w"), th.alias("dst_h"),
    )

    def stub(batches):
        import hashlib

        for pdf in batches:
            digests = [
                hashlib.blake2b(
                    bytes(p) + f"{dw}x{dh}".encode(), digest_size=16
                ).digest()
                for p, dw, dh in zip(pdf["payload"], pdf["dst_w"], pdf["dst_h"])
            ]
            out = pdf[["media_id", "src_w", "src_h", "dst_w", "dst_h"]].copy()
            out["resized"] = digests
            yield out

    return planned.mapInPandas(
        stub,
        schema="media_id bigint, src_w int, src_h int, dst_w int, dst_h int, "
               "resized binary",
    )
