"""DCT perceptual hash from DECODED pixels + image near-duplicate pairs.

The input table carries a ``phash`` metadata column; this module computes
a REAL perceptual hash from the pixels themselves — the image twin of the
text dedup stack (reference analog: ``$unmarshal`` pre-transform feeding a
content check, schisma.mjs:138-140). Classic pHash construction: decode ->
grayscale -> bilinear 32x32 -> 2-D DCT-II -> top-left 8x8 coefficient
block minus DC -> median threshold -> 64-bit signature. Two encodings of
the same pixels (raw/bmp/png — all lossless here) hash identically; small
pixel noise moves few bits, so near-duplicate IMAGES are pairs within a
small Hamming distance.

Scale shape: hashing goes through the same Arrow row mapper as
``decode_validate`` (``decode.map_rows``: iterator ``mapInPandas``, bytes
dropped after the hash — never carry payload past the decode stage);
pairing reuses the generic 16-bit banded-Hamming join
(``functions.dedup.hamming_near_dups``) — O(rows * 4) shuffle, never
all-pairs, d<=3 pigeonhole-exact.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.image.decode import map_rows
from schisma_spark.image.synth import decode_image

PHASH_SIZE = 32   # resize target
PHASH_LOW = 8     # low-frequency block -> 64 bits


@lru_cache(maxsize=4)
def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (float64)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


@lru_cache(maxsize=32)
def _resize_grid(h: int, w: int, n: int):
    """Bilinear sample indices/weights — pure function of the shapes,
    cached (r7: linspace/floor/minimum per image was ~30% of the hash)."""
    ys = np.linspace(0, h - 1, n)
    xs = np.linspace(0, w - 1, n)
    y0 = np.floor(ys).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    fy = (ys - y0)[:, None]
    x0 = np.floor(xs).astype(int)
    x1 = np.minimum(x0 + 1, w - 1)
    fx = xs - x0
    return y0, y1, fy, x0, x1, fx


def _resize_bilinear(a: np.ndarray, n: int) -> np.ndarray:
    """(h, w) float -> (n, n) float, separable bilinear."""
    h, w = a.shape
    y0, y1, fy, x0, x1, fx = _resize_grid(h, w, n)
    rows = a[y0] * (1 - fy) + a[y1] * fy           # (n, w)
    return rows[:, x0] * (1 - fx) + rows[:, x1] * fx


def phash64_pixels(px: np.ndarray) -> int:
    """Signed-int64 perceptual hash of an (h, w, 3) uint8 image.

    r7 micro-shape (values bit-identical): channel mean via one integer
    add.reduce (r+g+b is exact in float64 in any order, same /3.0);
    median of the 63 AC coefficients is the middle order statistic of an
    odd-length array — one np.partition instead of np.median's
    nan-checking wrapper; DC drop is a slice view, not np.delete's copy."""
    gray = np.add.reduce(px, axis=2, dtype=np.float64) / 3.0
    small = _resize_bilinear(gray, PHASH_SIZE)
    m = _dct_mat(PHASH_SIZE)
    coefs = m @ small @ m.T
    low = coefs[:PHASH_LOW, :PHASH_LOW].ravel()[1:]  # drop DC; 63 coefs
    med = np.partition(low, 31)[31]                  # exact odd median
    bits = low > med
    v = 0
    for b in np.nonzero(bits)[0]:
        v |= 1 << int(b)
    # bits 0..62 used (63 AC coefficients) — always fits signed int64
    return v


def _phash_or_none(fmt, w, h, data) -> int | None:
    try:
        return phash64_pixels(decode_image(bytes(data), fmt, w, h))
    except Exception:
        return None


def compute_phash(df: DataFrame,
                  keep_cols: list[str] | None = None,
                  out_col: str = "phash64") -> DataFrame:
    """Append ``out_col`` (int64 perceptual hash; NULL when the payload
    fails to decode) to the kept columns. Input needs ``bytes, fmt, w,
    h``. ``keep_cols`` (default ``image_id, w, h, fmt, part``) follows the
    one contract of :func:`decode.map_rows`: absent columns skipped, read
    columns need not be kept, ``bytes`` never carried."""
    return map_rows(df, keep_cols or ["image_id", "w", "h", "fmt", "part"],
                    ("fmt", "w", "h", "bytes"),
                    [T.StructField(out_col, T.LongType())],
                    lambda *r: {out_col: _phash_or_none(*r)})


def image_near_dups(
    df: DataFrame,
    id_col: str = "image_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual hash:
    ``id_a, id_b, hamming``. Decode + pHash in one Arrow pass, then the
    16-bit banded-Hamming join (pigeonhole-exact for ``max_hamming <= 3``,
    65,536 values per band — the scale-correct banding)."""
    from schisma_spark.functions.dedup import hamming_near_dups

    hashed = compute_phash(df, keep_cols=[id_col]).where(
        F.col("phash64").isNotNull()
    )
    return hamming_near_dups(hashed, "phash64", id_col,
                             max_hamming=max_hamming,
                             max_bucket_size=max_bucket_size)


def image_keep_list(
    df: DataFrame,
    id_col: str = "image_id",
    max_hamming: int = 3,
    **keep_kw,
) -> DataFrame:
    """``id_col, keep, reason`` per IMAGE (r5): decode + pHash in one
    Arrow pass, then the generic :func:`curate.signature_keep_list` over
    the 64-bit perceptual hash — undecodable images keep their row as
    ``invalid_signature`` (compute_phash yields NULL for failed decodes),
    near-dup clusters keep exactly the min-id member. The image twin of
    the text and embedding keep-lists; ``keep_kw`` forwards banding /
    ``max_bucket_size``."""
    from schisma_spark.functions.curate import signature_keep_list

    hashed = compute_phash(df, keep_cols=[id_col])
    return signature_keep_list(hashed, id_col, "phash64",
                               max_hamming=max_hamming, **keep_kw)
