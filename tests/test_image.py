"""Image path: codecs, deterministic fixtures, Arrow-batched decode checks,
caption fidelity (FIXTURES.md A1-A3; BASELINE.json:6,15)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from schisma_spark.image.synth import decode_image, encode_image, gen_pixels, psnr
from schisma_spark.image.fixtures import (
    caption_for,
    dim_fmt,
    images_ref,
    images_schema_dsl,
    images_table,
)
from schisma_spark.image.decode import (
    DECODE_RESULT_FIELDS,
    caption_violations,
    decode_validate,
)
from schisma_spark.checks import fk_violations


def test_codecs_roundtrip():
    px = gen_pixels("img-000000000007", 24, 16)
    for fmt in ("raw", "bmp", "png"):
        data = encode_image(px, fmt)
        back = decode_image(data, fmt, 24, 16)
        assert np.array_equal(back, px), fmt


def test_codec_corruption_detected():
    px = gen_pixels("x", 16, 16)
    for fmt in ("raw", "bmp", "png"):
        data = encode_image(px, fmt)
        with pytest.raises(ValueError):
            decode_image(data[: len(data) // 3], fmt, 16, 16)


def test_psnr():
    a = gen_pixels("a", 32, 32)
    assert psnr(a, a) == float("inf")
    noisy = a.copy()
    noisy[0, 0, 0] ^= 0xFF
    assert 30 < psnr(a, noisy) < 60
    b = gen_pixels("b", 32, 32)
    assert psnr(a, b) < 20  # unrelated images


@pytest.mark.parametrize("side", [256, 384])
def test_psnr_large_worst_case_diff(side):
    # a sum of squared diffs past 2^31 must not wrap: all-255 vs all-0 is
    # MSE 255^2, exactly 0 dB
    white = np.full((side, side, 3), 255, np.uint8)
    black = np.zeros_like(white)
    assert psnr(white, black) == 0.0
    a = gen_pixels("a", side, side)
    b = 255 - a  # a large diff on every channel value
    mse = np.mean((a.astype(np.float64) - b) ** 2)
    assert psnr(a, b) == pytest.approx(10 * np.log10(255.0**2 / mse),
                                       rel=1e-12)


def test_generator_deterministic(spark):
    a = images_table(spark, 200, seed=42).collect()
    b = images_table(spark, 200, seed=42).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_decode_validate_end_to_end(spark):
    imgs = images_table(spark, 800, seed=42)
    checked = decode_validate(imgs).cache()
    rows = checked.collect()
    n = len(rows)
    assert n == 800
    bad_decode = [r for r in rows if not r["decode_ok"]]
    bad_pixels = [r for r in rows if r["decode_ok"] and not r["pixels_ok"]]
    bad_size = [r for r in rows if r["decode_ok"] and not r["size_ok"]]
    assert bad_decode, "planted truncated buffers must fail decode"
    assert bad_pixels, "planted corrupt pixels must fail PSNR/allclose"
    assert bad_size, "planted w disagreements must fail size check"
    # clean partition 3 is fully green
    p3 = [r for r in rows if r["part"] == 3]
    assert p3 and all(r["decode_ok"] and r["pixels_ok"] and r["size_ok"] for r in p3)
    # clean table is fully green everywhere
    ref_checked = decode_validate(images_ref(spark, 300, seed=42))
    assert ref_checked.where(
        ~F.col("decode_ok") | ~F.col("pixels_ok") | ~F.col("size_ok")
    ).count() == 0
    checked.unpersist()


def test_decode_validate_keep_cols_need_not_hold_read_cols(spark):
    """``keep_cols`` without ``fmt``/``w``/``h``: the decode still reads
    them, and the output equals the default call projected onto the kept
    columns plus the decode fields."""
    imgs = images_table(spark, 40, seed=42)
    names = [f.name for f in DECODE_RESULT_FIELDS]
    got = decode_validate(imgs, keep_cols=["image_id", "part"])
    assert got.columns == ["image_id", "part", *names]
    want = decode_validate(imgs).select("image_id", "part", *names)
    assert got.collect() == want.collect()


def test_caption_fidelity(spark):
    imgs = images_table(spark, 1000, seed=42)
    ref = images_ref(spark, 1000, seed=42)
    v = caption_violations(imgs, ref)
    rows = v.collect()
    assert rows, "planted caption mutations must be flagged"
    assert all(r["part"] != 3 for r in rows)  # clean partition stays clean
    # planted mutations are among the flagged rows (dup-id rows also flag,
    # correctly: their caption can't match the claimed image_id's reference)
    assert any(
        r["received"] is not None and r["received"].endswith("MUTATED")
        for r in rows
    )


def test_fmt_referential(spark):
    imgs = images_table(spark, 1000, seed=42)
    v = fk_violations(imgs, dim_fmt(spark), ["fmt"], ["fmt"], keys=["image_id"])
    rows = v.collect()
    assert rows and all(r["received"] == "webp" for r in rows)


def test_images_row_schema_validate(spark):
    imgs = images_table(spark, 1000, seed=42)
    res = images_schema_dsl().validate(imgs, keys=["image_id", "part"],
                                       ignore_unexpected=True)
    verd = {r["part"]: r["verdict"] for r in res.verdicts(["part"]).collect()}
    assert verd[3] == "pass"   # clean partition
    assert verd[7] == "fail"   # violation-dense partition
    codes = {r["code"] for r in res.violations.collect()}
    assert "invalid" in codes and "missing key" in codes


def test_caption_deterministic():
    assert caption_for("img-000000000001") == caption_for("img-000000000001")
    assert caption_for("img-000000000001") != caption_for("img-000000000002")
