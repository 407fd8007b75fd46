"""Multimodal plumbing: image features (real), audio/video (stub codecs,
real Spark plumbing — schema, batching, payload dropping)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from schisma_spark.image.fixtures import images_table
from schisma_spark.image.synth import gen_pixels
from schisma_spark.multimodal import (
    IMAGE_FEATURES_FIELDS,
    audio_features,
    decode_audio,
    image_features,
    resize_nearest,
    sample_video_frames,
    video_frame_sample,
)


def test_resize_nearest():
    px = gen_pixels("img-r", 32, 24)
    out = resize_nearest(px, 8, 8)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(resize_nearest(px, 32, 24), px)  # identity sizes


def test_image_features(spark):
    imgs = images_table(spark, 300, seed=42)
    feats = image_features(imgs)
    rows = feats.collect()
    assert len(rows) == 300
    assert "bytes" not in feats.columns  # payload dropped
    ok = [r for r in rows if r["feat_ok"]]
    assert len(ok) > 250  # corrupt payloads fail cleanly
    r = ok[0]
    assert 0 <= r["mean_r"] <= 255 and len(r["luma_hist"]) == 8
    assert sum(r["luma_hist"]) == 64  # 8x8 resize

    # deterministic across runs (planted dup ids exist -> compare multisets)
    a = sorted((x["image_id"] or "", x["std_gray"]) for x in rows if x["feat_ok"])
    b = sorted(
        (x["image_id"] or "", x["std_gray"])
        for x in image_features(imgs).collect()
        if x["feat_ok"]
    )
    assert a == b


def test_image_features_keeps_a_read_column(spark):
    """``fmt`` is both read by the decode and kept: it comes out once,
    beside the same features the default call computes."""
    imgs = images_table(spark, 40, seed=42)
    names = [f.name for f in IMAGE_FEATURES_FIELDS]
    got = image_features(imgs, keep_cols=["image_id", "fmt"])
    assert got.columns == ["image_id", "fmt", *names]
    src = imgs.select("image_id", "fmt").collect()
    default = image_features(imgs).collect()
    assert [r["image_id"] for r in src] == [r["image_id"] for r in default]
    want = [(s["image_id"], s["fmt"], *(d[n] for n in names))
            for s, d in zip(src, default)]
    assert [tuple(r) for r in got.collect()] == want


def test_audio_features_plumbing(spark):
    df = spark.createDataFrame(
        [Row(clip_id=i, bytes=bytes([i]) * 100) for i in range(20)]
    )
    out = audio_features(df)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["audio_ok"] and r["n_samples"] == 16000 for r in rows)
    assert all(0.0 <= r["rms"] <= r["peak"] <= 1.0 for r in rows)
    # strict mode: the missing codec fails the job, never a NULL row
    with pytest.raises(Exception, match="NotImplementedError"):
        audio_features(df, strict=True).collect()
    # deterministic fake: same payload -> same features
    a = decode_audio(b"xyz")
    b = decode_audio(b"xyz")
    assert np.array_equal(a, b)


def test_audio_strict_raises():
    with pytest.raises(NotImplementedError):
        decode_audio(b"xyz", strict=True)
    with pytest.raises(NotImplementedError):
        sample_video_frames(b"xyz", 2, strict=True)


def test_video_frame_sample_plumbing(spark):
    df = spark.createDataFrame(
        [Row(video_id=f"v{i}", bytes=bytes([i]) * 64) for i in range(5)]
    )
    out = video_frame_sample(df, n_frames=3)
    rows = out.collect()
    assert len(rows) == 15  # one row per frame
    per_vid = {}
    for r in rows:
        per_vid.setdefault(r["video_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2] for v in per_vid.values())
    assert all(r["frame_w"] == 16 and r["frame_h"] == 16 for r in rows)
