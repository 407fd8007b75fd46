"""Arrow-batched decode + fidelity checks (SURVEY §2.B E8; reference analog
$unmarshal + $validate, schisma.mjs:138-172).

``decode_validate`` is an iterator-of-batches ``mapInPandas`` — the one
place Python runs per batch (never per row): it decodes each image, checks
the container, compares decoded pixels against the deterministically
regenerated reference (PSNR >= 40 dB for lossy formats, exact allclose for
lossless — BASELINE.json:6,15), and cross-checks the declared w/h. Caption
equality is NOT done here — it's a plain column comparison after a join
(BASELINE.json:15 'no per-row Python' for things Columns can do).

Scale notes: the stats path never calls this (column pruning keeps
``bytes`` unread there); Arrow batch size for fat binary rows is capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` in the runner config.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.image.synth import decode_image, gen_pixels, psnr
from schisma_spark.session import worker_init

DECODE_RESULT_FIELDS = [
    T.StructField("decode_ok", T.BooleanType()),
    T.StructField("dec_w", T.IntegerType()),
    T.StructField("dec_h", T.IntegerType()),
    T.StructField("psnr_db", T.DoubleType()),
    T.StructField("pixels_ok", T.BooleanType()),
    T.StructField("size_ok", T.BooleanType()),
]

LOSSY_FMTS = {"png"}  # stand-in per FIXTURES.md A1
PSNR_MIN_DB = 40.0


def _check_one(image_id, data, fmt, w, h) -> dict:
    out = {
        "decode_ok": False, "dec_w": None, "dec_h": None,
        "psnr_db": None, "pixels_ok": False, "size_ok": False,
    }
    try:
        px = decode_image(bytes(data), fmt, w, h)
    except Exception:
        return out
    out["decode_ok"] = True
    out["dec_h"], out["dec_w"] = int(px.shape[0]), int(px.shape[1])
    out["size_ok"] = (w == out["dec_w"]) and (h == out["dec_h"])
    if image_id is None:
        return out
    ref = gen_pixels(image_id, out["dec_w"], out["dec_h"])
    p = psnr(px, ref)
    out["psnr_db"] = 1e9 if p == float("inf") else p
    if fmt in LOSSY_FMTS:
        out["pixels_ok"] = out["psnr_db"] >= PSNR_MIN_DB
    else:
        # exact equality ⟺ zero MSE ⟺ psnr inf (shapes match by
        # construction) — the separate np.array_equal pass is redundant
        out["pixels_ok"] = p == float("inf")
    return out


def decode_validate(df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """Append decode/fidelity columns. Input needs
    ``image_id, bytes, w, h, fmt``; output adds DECODE_RESULT_FIELDS and
    drops ``bytes`` (never carry the payload past the decode stage)."""
    keep_cols = keep_cols or ["image_id", "w", "h", "fmt", "part"]
    keep_cols = [c for c in keep_cols if c in df.columns]
    in_schema = df.select(*keep_cols, "bytes").schema
    out_schema = T.StructType(
        [f for f in in_schema.fields if f.name != "bytes"]
        + DECODE_RESULT_FIELDS
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for b in batches:
            res = [
                _check_one(r.image_id, r.bytes, r.fmt, r.w, r.h)
                for r in b.itertuples(index=False)
            ]
            rb = pd.DataFrame(res)
            yield pd.concat(
                [b.drop(columns=["bytes"]).reset_index(drop=True), rb], axis=1
            )

    return df.select(*keep_cols, "bytes").mapInPandas(mapper, out_schema)


def caption_violations(df: DataFrame, ref: DataFrame) -> DataFrame:
    """Caption equality vs the reference table — plain column comparison
    after an image_id join, no Python (BASELINE.json:15)."""
    r = ref.select(
        F.col("image_id"), F.col("caption").alias("_ref_caption")
    )
    joined = df.select("image_id", "caption", "part").join(r, "image_id", "left")
    return joined.where(
        ~F.col("caption").eqNullSafe(F.col("_ref_caption"))
    ).select(
        "image_id", "part",
        F.lit("invalid").alias("code"),
        F.lit("caption").alias("where"),
        F.col("_ref_caption").alias("expected"),
        F.col("caption").alias("received"),
    )
