"""Synthetic image+caption tables with planted violations (FIXTURES.md A1-A4).

The authoritative input shape (BASELINE.json:15):
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)`` plus a ``part`` partition column.

Generation is DISTRIBUTED: ``spark.range(n)`` -> ``mapInPandas`` so each
executor synthesizes its own slice (no driver materialization — required for
the multi-million-row bench table). Everything is a pure function of the
row index + seed, so ``images_ref`` regenerates the clean twin of any row
without reading the violated table.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.image.synth import encode_image, gen_pixels
from schisma_spark.session import worker_init
from schisma_spark.sources import local_frame

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("part", T.IntegerType(), True),
    ]
)

_WORDS = (
    "amber bridge canyon dune ember flint grove harbor inlet juniper "
    "kestrel lagoon meadow nimbus orchid prairie quartz ridge summit "
    "thicket umber vale willow zephyr basin crest delta fjord glade"
).split()

SIZES = (16, 24, 32)
FMTS = ("raw", "bmp", "png")


def _h(i: int, salt: str, seed: int) -> int:
    d = hashlib.md5(f"{seed}:{salt}:{i}".encode()).digest()
    return int.from_bytes(d[:8], "little")


def caption_for(image_id: str) -> str:
    d = hashlib.md5(f"cap:{image_id}".encode()).digest()
    return " ".join(_WORDS[d[j] % len(_WORDS)] for j in range(6))


def phash_for(image_id: str) -> int:
    d = hashlib.md5(f"ph:{image_id}".encode()).digest()
    return int.from_bytes(d[:8], "little", signed=True)


def clean_row(i: int, seed: int = 42, with_bytes: bool = True) -> dict:
    image_id = f"img-{i:012d}"
    w = SIZES[_h(i, "w", seed) % len(SIZES)]
    h = SIZES[_h(i, "h", seed) % len(SIZES)]
    fmt = FMTS[_h(i, "fmt", seed) % len(FMTS)]
    data = None
    if with_bytes:
        data = encode_image(gen_pixels(image_id, w, h), fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(image_id),
        "phash": phash_for(image_id),
        "part": i % 16,
    }


def violated_row(i: int, seed: int = 42, with_bytes: bool = True) -> dict:
    """FIXTURES.md A1 planting, all rates keyed off a stable hash of i.
    Partition 3 stays fully clean (per-partition PASS case); partition 7 is
    violation-dense (FAIL case)."""
    r = clean_row(i, seed, with_bytes)
    part = r["part"]
    if part == 3:
        return r
    u = _h(i, "viol", seed) % 100000
    dense = part == 7
    lim = lambda per100k: per100k * (20 if dense else 1)  # noqa: E731

    if u < lim(100):
        r["image_id"] = None                       # required/missing
    elif u < lim(200):
        r["image_id"] = "img-%012d" % 1            # duplicate id (cold)
    elif u < lim(300):
        r["phash"] = phash_for("img-%012d" % 1)    # phash collision (cold)
    elif u < lim(400):
        if r["bytes"] is not None:
            r["bytes"] = r["bytes"][: max(4, len(r["bytes"]) // 3)]  # truncated
    elif u < lim(500):
        # valid container, wrong pixels (PSNR < 40 vs reference)
        if r["bytes"] is not None:
            px = gen_pixels(r["image_id"] + ":corrupt", r["w"], r["h"])
            r["bytes"] = encode_image(px, r["fmt"])
    elif u < lim(600):
        r["w"] = -r["w"]                           # range violation
    elif u < lim(700):
        r["w"] = r["w"] + 8                        # disagrees with decoded
    elif u < lim(800):
        r["fmt"] = "webp"                          # unknown format
    elif u < lim(900):
        r["caption"] = r["caption"] + " MUTATED"   # caption inequality
    elif u < lim(950):
        r["caption"] = None
    # hot keys: ~1% of all rows share one id / one phash (skew test)
    hot = _h(i, "hot", seed) % 100
    if hot == 0 and part not in (3,):
        r["image_id"] = "img-hotkey-000000"
        r["phash"] = phash_for("img-hotkey-000000")
    return r


def _gen_mapper(clean: bool, seed: int, with_bytes: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        make = clean_row if clean else violated_row
        for b in batches:
            rows = [make(int(i), seed, with_bytes) for i in b["id"]]
            yield pd.DataFrame(rows)

    return fn


def images_table(spark: SparkSession, n: int, clean: bool = False,
                 seed: int = 42, slices: int | None = None,
                 with_bytes: bool = True) -> DataFrame:
    base = spark.range(0, n, numPartitions=slices or spark.sparkContext.defaultParallelism)
    return base.mapInPandas(_gen_mapper(clean, seed, with_bytes), IMAGES_SCHEMA)


def images_ref(spark: SparkSession, n: int, seed: int = 42,
               slices: int | None = None) -> DataFrame:
    """Violation-free twin (FIXTURES.md A2) for the fidelity invariants."""
    return images_table(spark, n, clean=True, seed=seed, slices=slices)


def dim_fmt(spark: SparkSession) -> DataFrame:
    """FIXTURES.md A3 — format dimension; png is the lossy stand-in."""
    return local_frame(
        spark, [("raw", False), ("bmp", False), ("png", True)],
        "fmt string, lossy boolean",
    )


def _image_id_ok(c):
    return c.rlike("^img-")


def _side_ok(c):
    return (c > 0) & (c <= 4096)


def _fmt_ok(c):
    return c.isin(*FMTS)


def images_schema_dsl():
    """The engine schema for the images table's STATS path (row-level
    checks). ``bytes`` is deliberately absent: even a null-check Column on
    it would force the scan to read the payload, defeating column pruning
    (SURVEY §7 hard-part (e)); payload integrity belongs to the decode pass
    (image/decode.py). Validate with ignore_unexpected=True. The
    ``$validate`` functions are module-level, so every call's schema has
    the same fingerprint and shares one memoized compile
    (``session.cached_column`` keys callables by identity)."""
    from schisma_spark import Field, schema

    return schema(
        {
            "image_id": Field(type=str, validate=_image_id_ok),
            "w": Field(type=int, validate=_side_ok),
            "h": Field(type=int, validate=_side_ok),
            "fmt": Field(type=str, validate=_fmt_ok),
            "caption": Field(type=str, required=True),
            "phash": int,
            "part": int,
        }
    )
