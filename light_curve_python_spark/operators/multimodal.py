"""Multimodal columns: opaque binary payloads + typed metadata, with REAL
pure-stdlib codecs for three public container formats plus a deterministic
stub for plumbing tests.

- images: netpbm P5 (grayscale) / P6 (RGB) — header parse + buffer reshape;
- audio: RIFF/WAVE PCM (8/16-bit) — chunk walk with ``struct``;
- video: YUV4MPEG2 (y4m) — plain-text header + FRAME-delimited raw planes,
  with every-k-th frame sampling (the decode/resize/frame-sample trio the
  pipeline needs).

Formats needing external libraries (JPEG/PNG/MP4/FLAC...) are out of this
container's reach and raise a clear ValueError naming the supported set —
wire Pillow/ffmpeg into ``_decode_any`` on a real deployment.

Scale shape: payloads stream through ``mapInPandas`` in bounded Arrow
batches (tune ``spark.sql.execution.arrow.maxRecordsPerBatch`` down for
large media); bytes never collect to the driver; one fixed-dim float
vector per row comes back.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_importers

__all__ = ["MEDIA_SCHEMA", "FEATURE_SCHEMA", "attach_media_metadata",
           "decode_and_featurize", "decode_netpbm", "decode_wav",
           "decode_y4m_frames", "resize_nearest"]

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("meta", T.StructType([
        T.StructField("kind", T.StringType(), False),    # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]), False),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("sha256", T.StringType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType(), False), False),
])

_FEAT_DIM = 8


def attach_media_metadata(df: DataFrame, payload_col: str = "payload",
                          kind: str = "image") -> DataFrame:
    """Wrap a raw binary column into the engine's media schema."""
    return df.withColumn("meta", F.struct(
        F.lit(kind).alias("kind"), F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
        F.lit(None).cast("int").alias("sample_rate")))


# --- real codecs (pure stdlib + numpy) ---------------------------------------

def decode_netpbm(payload: bytes) -> np.ndarray:
    """Binary netpbm: P5 -> (h, w) grayscale, P6 -> (h, w, 3) RGB, uint8
    (maxval <= 255).  Header = magic, whitespace/comment-separated width,
    height, maxval, ONE whitespace byte, then the raster."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    channels = 1 if payload[:2] == b"P5" else 3
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":         # comment to end of line
            while payload[pos:pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1                                      # the single raster separator
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    n = w * h * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return raster.reshape((h, w) if channels == 1 else (h, w, 3))


def decode_wav(payload: bytes) -> Tuple[np.ndarray, int]:
    """RIFF/WAVE PCM (8-bit unsigned / 16-bit signed), first channel:
    returns (samples as float64 in [-1, 1], sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], \
            struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)              # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _br, _ba, bits = fmt
    if audio_fmt != 1:
        raise ValueError("only PCM WAV supported")
    # validate the declared layout up front: a corrupt fmt chunk would
    # otherwise surface later as an unrelated slice/ZeroDivision error
    # mid-batch (the stdlib `wave` module does the same walk but is less
    # tolerant of extra chunks; the manual parser keeps the validation
    # explicit and the per-row overhead minimal)
    if n_ch < 1:
        raise ValueError(f"invalid WAV: {n_ch} channels")
    if rate <= 0:
        raise ValueError(f"invalid WAV: sample rate {rate}")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM width: {bits}")
    return x[::n_ch], rate                        # first channel


def decode_y4m_frames(payload: bytes, every: int = 1) -> np.ndarray:
    """YUV4MPEG2: returns every ``every``-th luma (Y) plane as a
    (n_sampled, h, w) uint8 array (4:2:0 assumed — the format default)."""
    if every < 1:
        raise ValueError("every must be >= 1")
    nl = payload.index(b"\n")
    header = payload[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    for tok in header[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    frame_bytes = w * h * 3 // 2                  # 4:2:0 planes
    frames, pos, idx = [], nl + 1, 0
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)           # FRAME [params]\n
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt y4m frame marker")
        start = fnl + 1
        if idx % every == 0:
            y = np.frombuffer(payload, dtype=np.uint8, count=w * h,
                              offset=start)
            frames.append(y.reshape(h, w))
        pos = start + frame_bytes
        idx += 1
    return np.stack(frames) if frames else np.zeros((0, h, w), np.uint8)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via index arrays (any channel count)."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]


# --- featurization ------------------------------------------------------------

def _image_features(img: np.ndarray) -> np.ndarray:
    g = img.astype(np.float64)
    if g.ndim == 3:
        g = g.mean(axis=2)
    gy, gx = np.gradient(g)
    grad = np.sqrt(gx * gx + gy * gy).mean()
    h, w = g.shape
    return np.array([w, h, g.mean(), g.std(), g.min(), g.max(), grad,
                     w / h], dtype=np.float32)


def _audio_features(x: np.ndarray, rate: int) -> np.ndarray:
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 \
        else 0.0
    spec = np.abs(np.fft.rfft(x)) if n else np.zeros(1)
    freqs = np.fft.rfftfreq(max(n, 1), d=1.0 / rate)
    centroid = float((freqs * spec).sum() / spec.sum()) if spec.sum() > 0 \
        else 0.0
    return np.array([n, rate, rms, float(np.max(np.abs(x))) if n else 0.0,
                     zcr, centroid, n / rate, float(np.std(x)) if n else 0.0],
                    dtype=np.float32)


def _video_features(frames: np.ndarray) -> np.ndarray:
    nf, h, w = frames.shape
    if nf == 0:
        # header-only y4m is valid per the format: well-defined zeros
        # instead of numpy's empty-reduction crash
        return np.array([w, h, 0, 0.0, 0.0, 0.0, w / h, 0.0],
                        dtype=np.float32)
    g = frames.astype(np.float64)
    motion = float(np.abs(np.diff(g, axis=0)).mean()) if nf > 1 else 0.0
    return np.array([w, h, nf, g.mean(), g.std(), motion, w / h,
                     g.max() - g.min()], dtype=np.float32)


def _decode_any(payload: bytes, frame_every: int):
    if payload[:2] in (b"P5", b"P6"):
        return "image", _image_features(decode_netpbm(payload))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio", _audio_features(*decode_wav(payload))
    if payload[:9] == b"YUV4MPEG2":
        return "video", _video_features(
            decode_y4m_frames(payload, every=frame_every))
    raise ValueError(
        "unsupported payload: pure-stdlib codecs cover netpbm P5/P6, "
        "PCM WAV, and YUV4MPEG2 (wire Pillow/ffmpeg into _decode_any "
        "for JPEG/PNG/MP4/...)")


def _stub_decode(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decoded feature': bytes of sha256 scaled to
    [0,1) — same shape contract as the real path, any payload accepted."""
    h = hashlib.sha256(payload).digest()
    return np.frombuffer(h[:_FEAT_DIM], dtype=np.uint8).astype(np.float32) \
        / 256.0


def decode_and_featurize(df: DataFrame, codec: str = "real",
                         frame_every: int = 2) -> DataFrame:
    """mapInPandas over media rows -> per-row kind + fixed-dim feature
    vector.  ``codec='real'`` decodes netpbm/WAV/y4m (see module
    docstring); ``codec='stub'`` keeps the deterministic fake for
    plumbing tests on arbitrary bytes."""
    if codec not in ("real", "stub"):
        raise NotImplementedError(f"unknown codec mode: {codec!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            kinds, feats = [], []
            for b in pdf["payload"]:
                if codec == "stub":
                    kinds.append("stub")
                    feats.append(_stub_decode(bytes(b)))
                else:
                    kind, vec = _decode_any(bytes(b), frame_every)
                    kinds.append(kind)
                    feats.append(vec)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": kinds,
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "sha256": pdf["payload"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "feature": feats,
            })

    return df.select("media_id", "payload").mapInPandas(fn, FEATURE_SCHEMA)
