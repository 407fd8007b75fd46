"""Perceptual-hash image dedup (image/phash.py): encoding-invariance,
noise locality, and banded pairing == brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from schisma_spark.image.phash import phash64_pixels
from schisma_spark.image.synth import encode_image, gen_pixels


def _noised(px: np.ndarray, seed: int, amplitude: int = 2) -> np.ndarray:
    rng = np.random.default_rng(seed)
    noise = rng.integers(-amplitude, amplitude + 1, px.shape)
    return np.clip(px.astype(np.int16) + noise, 0, 255).astype(np.uint8)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_phash_encoding_invariant_and_noise_local():
    px = gen_pixels("img-000000000042", 32, 24)
    h_raw = phash64_pixels(px)
    # all three codecs here are lossless: same pixels -> same hash
    from schisma_spark.image.synth import decode_image

    for fmt in ("raw", "bmp", "png"):
        data = encode_image(px, fmt)
        assert phash64_pixels(decode_image(data, fmt, 32, 24)) == h_raw

    # small noise moves few bits; a different image is far
    assert _ham(h_raw, phash64_pixels(_noised(px, 7))) <= 8
    other = gen_pixels("img-000000000043", 32, 24)
    assert _ham(h_raw, phash64_pixels(other)) > 10


def test_image_near_dups_matches_brute_force(spark):
    """Planted exact copy (hamming 0) + near-noise copy; banded pairing
    must equal the exhaustive all-pairs hamming<=3 set, and a truncated
    payload must be skipped (NULL hash), not crash."""
    from schisma_spark.image.phash import compute_phash, image_near_dups

    rows = []
    base = gen_pixels("img-000000000000", 32, 32)
    rows.append(Row(image_id="a0", bytes=bytearray(encode_image(base, "raw")),
                    w=32, h=32, fmt="raw"))
    rows.append(Row(image_id="a1", bytes=bytearray(encode_image(base, "bmp")),
                    w=32, h=32, fmt="bmp"))     # same pixels, other codec
    rows.append(Row(image_id="a2",
                    bytes=bytearray(encode_image(_noised(base, 3, 1), "raw")),
                    w=32, h=32, fmt="raw"))     # tiny noise
    for i in range(3, 20):
        px = gen_pixels(f"img-{i:012d}", 32, 32)
        rows.append(Row(image_id=f"d{i}",
                        bytes=bytearray(encode_image(px, "raw")),
                        w=32, h=32, fmt="raw"))
    # truncated payload -> decode fails -> NULL hash, excluded
    rows.append(Row(image_id="broken", bytes=bytearray(b"\x00\x01"),
                    w=32, h=32, fmt="raw"))
    df = spark.createDataFrame(rows)

    hashed = compute_phash(df, keep_cols=["image_id"]).collect()
    hs = {r["image_id"]: r["phash64"] for r in hashed}
    assert hs["broken"] is None
    assert hs["a0"] == hs["a1"]                  # encoding-invariant

    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in image_near_dups(df, max_hamming=3).collect()}
    # exhaustive twin over the computed hashes
    ok = {k: v for k, v in hs.items() if v is not None}
    exp = {}
    ids = sorted(ok)
    for i, x in enumerate(ids):
        for y in ids[i + 1:]:
            h = _ham(ok[x], ok[y])
            if h <= 3:
                exp[(x, y)] = h
    assert got == exp
    assert got[("a0", "a1")] == 0


def test_image_keep_list_end_to_end(spark):
    """r5: the image-payload keep-list — undecodable images keep their
    row as invalid_signature, perceptual-dup clusters keep the min id,
    distinct images survive. Decode + pHash + curation in one call."""
    from pyspark.sql import Row

    from schisma_spark.image.phash import image_keep_list
    from schisma_spark.image.synth import encode_image, gen_pixels

    base = gen_pixels("img-000000000001", 32, 32)
    rows = [
        Row(image_id="a0", bytes=bytearray(encode_image(base, "raw")),
            w=32, h=32, fmt="raw"),
        Row(image_id="a1", bytes=bytearray(encode_image(base, "bmp")),
            w=32, h=32, fmt="bmp"),             # same pixels -> dup of a0
        Row(image_id="broken", bytes=bytearray(b"\x00\x01"),
            w=32, h=32, fmt="raw"),             # undecodable
    ]
    for i in range(3, 12):
        px = gen_pixels(f"img-{i:012d}", 32, 32)
        rows.append(Row(image_id=f"d{i}",
                        bytes=bytearray(encode_image(px, "raw")),
                        w=32, h=32, fmt="raw"))
    df = spark.createDataFrame(rows)
    got = {r["image_id"]: (r["keep"], r["reason"])
           for r in image_keep_list(df).collect()}
    assert len(got) == len(rows)               # every image decided
    assert got["a0"] == (True, "ok")           # min id of the dup cluster
    assert got["a1"] == (False, "near_dup")
    assert got["broken"] == (False, "invalid_signature")
    assert all(got[f"d{i}"][1] in ("ok", "near_dup") for i in range(3, 12))


def test_compute_phash_keeps_63_bit_hashes_beside_a_null(spark):
    """One Arrow batch holds an undecodable payload (NULL hash) and hashes
    above 2**53: an int column built with a None turns float64 and rounds
    them, so every other row must equal the driver-side hash exactly."""
    from schisma_spark.image.phash import compute_phash

    rows, want = [], {}
    for i in range(30):
        px = gen_pixels(f"img-{i:012d}", 32, 32)
        rows.append(Row(image_id=f"d{i}",
                        bytes=bytearray(encode_image(px, "raw")),
                        w=32, h=32, fmt="raw"))
        want[f"d{i}"] = phash64_pixels(px)
    rows.append(Row(image_id="broken", bytes=bytearray(b"\x00\x01"),
                    w=32, h=32, fmt="raw"))
    want["broken"] = None
    assert any(v > 2**53 for v in want.values() if v is not None)
    df = spark.createDataFrame(rows).coalesce(1)  # one partition, one batch
    got = {r["image_id"]: r["phash64"]
           for r in compute_phash(df, keep_cols=["image_id"]).collect()}
    assert got == want
