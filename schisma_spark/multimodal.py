"""Multimodal payload operators: image / audio / video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing — output schemas, iterator-of-batches mapInPandas
signatures, batch shaping, payload-dropping projections — is real and
tested. Third-party codecs (PIL/ffmpeg/soundfile) are NOT in this
environment, so:

- image ops are fully real (stdlib codecs from image/synth.py)
- audio decode / video frame-sample go through a codec registry that
  try-imports the real library and otherwise uses a clearly-marked
  deterministic fake (or raises NotImplementedError when
  ``strict=True``) — swap in the real codec by registering one function

Design rules carried from the image path:
- iterator ``mapInPandas`` so codec init happens once per partition, not
  per row (SURVEY §4.3.5)
- outputs NEVER carry the input payload forward — each op drops ``bytes``
  and emits compact features/frames, so downstream stages shuffle small rows
- Arrow batch size for fat rows is capped by the session factory
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from schisma_spark.image.decode import map_rows
from schisma_spark.image.synth import decode_image
from schisma_spark.session import worker_init

# ---------------------------------------------------------------------------
# codec registry: real library if importable, deterministic fake otherwise


def _try_import(name: str):
    try:
        return __import__(name)
    except ImportError:
        return None


_AUDIO_LIB = _try_import("soundfile")
_VIDEO_LIB = _try_import("av")


def _fake_audio_decode(data: bytes, sample_rate: int = 16000) -> np.ndarray:
    """DETERMINISTIC FAKE (no audio codec in this environment): returns a
    1-second float32 waveform derived from md5(data) — stable plumbing
    stand-in, NOT a real decode."""
    seed = np.frombuffer(hashlib.md5(data).digest(), np.uint8).astype(np.float32)
    t = np.arange(sample_rate, dtype=np.float32)
    return np.sin(t * (0.01 + seed[0] / 2550.0)) * (seed[1] / 255.0)


def _fake_video_frames(data: bytes, n_frames: int, w: int = 16,
                       h: int = 16) -> list[np.ndarray]:
    """DETERMINISTIC FAKE frame sampler: n_frames uint8 RGB frames derived
    from md5(data || frame_idx)."""
    out = []
    for i in range(n_frames):
        d = hashlib.md5(data + i.to_bytes(4, "little")).digest()
        rng = np.random.Generator(np.random.PCG64(int.from_bytes(d[:8], "little")))
        out.append(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
    return out


def decode_audio(data: bytes, strict: bool = False) -> np.ndarray:
    if _AUDIO_LIB is not None:  # pragma: no cover - lib absent here
        import io

        wav, _sr = _AUDIO_LIB.read(io.BytesIO(data))
        return np.asarray(wav, dtype=np.float32)
    if strict:
        raise NotImplementedError(
            "no audio codec available (install soundfile) — fake decode "
            "is only for plumbing tests"
        )
    return _fake_audio_decode(data)


def sample_video_frames(data: bytes, n_frames: int,
                        strict: bool = False) -> list[np.ndarray]:
    if _VIDEO_LIB is not None:  # pragma: no cover - lib absent here
        raise NotImplementedError("real av-based sampling not wired yet")
    if strict:
        raise NotImplementedError(
            "no video codec available (install av) — fake sampler is only "
            "for plumbing tests"
        )
    return _fake_video_frames(data, n_frames)


# ---------------------------------------------------------------------------
# image ops (fully real)

IMAGE_FEATURES_FIELDS = [
    T.StructField("feat_ok", T.BooleanType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("std_gray", T.DoubleType()),
    T.StructField("luma_hist", T.ArrayType(T.LongType())),
]


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy."""
    h, w, _ = px.shape
    ys = (np.arange(out_h) * (h / out_h)).astype(np.intp)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.intp)
    return px[ys][:, xs]


def image_features(df: DataFrame, out_w: int = 8, out_h: int = 8,
                   hist_bins: int = 8,
                   keep_cols: list[str] | None = None) -> DataFrame:
    """Decode -> resize -> per-channel stats + luma histogram, one
    mapInPandas pass. Input needs bytes/fmt/w/h. ``keep_cols`` (default
    ``image_id, part``) follows the one contract of :func:`map_rows`:
    absent columns skipped, read columns need not be kept, ``bytes``
    never carried."""

    def one(data, fmt, w, h):
        try:
            px = decode_image(bytes(data), fmt, w, h)
        except Exception:
            return {"feat_ok": False, "mean_r": None, "mean_g": None,
                    "mean_b": None, "std_gray": None, "luma_hist": None}
        small = resize_nearest(px, out_w, out_h).astype(np.float64)
        luma = small.mean(axis=2)
        hist, _ = np.histogram(luma, bins=hist_bins, range=(0, 256))
        return {
            "feat_ok": True,
            "mean_r": float(small[:, :, 0].mean()),
            "mean_g": float(small[:, :, 1].mean()),
            "mean_b": float(small[:, :, 2].mean()),
            "std_gray": float(luma.std()),
            "luma_hist": hist.astype("int64").tolist(),
        }

    return map_rows(df, keep_cols or ["image_id", "part"],
                    ("bytes", "fmt", "w", "h"), IMAGE_FEATURES_FIELDS, one)


# ---------------------------------------------------------------------------
# audio / video ops (real plumbing, stubbed codecs)

AUDIO_FEATURES_FIELDS = [
    T.StructField("audio_ok", T.BooleanType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
]


def audio_features(df: DataFrame, id_col: str = "clip_id",
                   bytes_col: str = "bytes",
                   strict: bool = False) -> DataFrame:
    """Decode audio -> RMS/peak features through :func:`map_rows`, which
    keeps ``id_col`` only and drops the payload. Codec per the registry
    (fake here, real when installed); ``strict`` re-raises a missing
    codec's ``NotImplementedError``."""

    def one(data):
        try:
            wav = decode_audio(bytes(data), strict)
            return {
                "audio_ok": True,
                "n_samples": int(wav.shape[0]),
                "rms": float(np.sqrt(np.mean(wav**2))),
                "peak": float(np.abs(wav).max()),
            }
        except NotImplementedError:
            raise
        except Exception:
            return {"audio_ok": False, "n_samples": None, "rms": None,
                    "peak": None}

    return map_rows(df, [id_col], (bytes_col,), AUDIO_FEATURES_FIELDS, one)


VIDEO_FRAMES_FIELDS = [
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_w", T.IntegerType()),
    T.StructField("frame_h", T.IntegerType()),
    T.StructField("frame_mean", T.DoubleType()),
]


def video_frame_sample(df: DataFrame, n_frames: int = 3,
                       id_col: str = "video_id", bytes_col: str = "bytes",
                       strict: bool = False) -> DataFrame:
    """Sample n frames per video -> one output ROW per frame (explode
    happens inside the pandas batch, so the fat input row never shuffles)."""
    out_schema = T.StructType([df.schema[id_col]] + VIDEO_FRAMES_FIELDS)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for b in batches:
            rows = []
            for r in b.itertuples(index=False):
                frames = sample_video_frames(
                    bytes(getattr(r, bytes_col)), n_frames, strict
                )
                for i, fr in enumerate(frames):
                    rows.append({
                        id_col: getattr(r, id_col),
                        "frame_idx": i,
                        "frame_w": int(fr.shape[1]),
                        "frame_h": int(fr.shape[0]),
                        "frame_mean": float(fr.mean()),
                    })
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "frame_w",
                                              "frame_h", "frame_mean"])

    return df.select(id_col, bytes_col).mapInPandas(mapper, out_schema)
