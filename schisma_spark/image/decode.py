"""Arrow-batched decode + fidelity checks (SURVEY §2.B E8; reference analog
$unmarshal + $validate, schisma.mjs:138-172).

``decode_validate`` runs through ``map_rows``, the Arrow row mapper
every per-row Python operator shares (iterator-of-batches
``mapInPandas``: Python runs per batch, never per row). It decodes each
image, checks the container, compares decoded pixels against the
deterministically regenerated reference (PSNR >= 40 dB for lossy formats,
exact allclose for lossless — BASELINE.json:6,15), and cross-checks the
declared w/h. Caption equality is NOT done here — it's a plain column
comparison after a join (BASELINE.json:15 'no per-row Python' for things
Columns can do).

Scale notes: the stats path never calls this (column pruning keeps
``bytes`` unread there); Arrow batch size for fat binary rows is capped via
``spark.sql.execution.arrow.maxRecordsPerBatch`` in the runner config.
"""

from __future__ import annotations

from typing import Callable, Iterator

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


# nullable pandas dtype per Spark result type (other types stay object,
# which Arrow converts value by value): a plain list of dicts makes an int
# column that holds a None float64, which rounds any value above 2**53
_NULLABLE_DTYPES = {
    T.LongType: "Int64", T.IntegerType: "Int32", T.BooleanType: "boolean",
    T.DoubleType: "Float64",
}


def map_rows(df: DataFrame, keep_cols: list[str], read_cols: tuple[str, ...],
             fields: list[T.StructField],
             per_row: Callable[..., dict]) -> DataFrame:
    """The one Arrow row mapper behind every per-row Python operator:
    iterator ``mapInPandas``, so Python runs per batch and never per row.

    ``keep_cols`` contract: the columns of ``keep_cols`` that ``df`` has
    (``bytes`` never, so the payload never travels past the decode stage)
    are carried through in front of ``fields``. ``per_row`` is called with
    the values of ``read_cols`` for each row and returns a dict keyed by
    the names of ``fields``; read columns that were not kept are dropped.
    Each result column gets the nullable pandas dtype of its field. The
    mapper catches nothing: error handling is ``per_row``'s own."""
    kept = [c for c in dict.fromkeys(keep_cols)
            if c in df.columns and c != "bytes"]
    cols = kept + [c for c in dict.fromkeys(read_cols) if c not in kept]
    out_schema = T.StructType([df.schema[c] for c in kept] + list(fields))
    dtypes = [(f.name, _NULLABLE_DTYPES.get(type(f.dataType), object))
              for f in fields]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        worker_init()
        for b in batches:
            res = [per_row(*vals) for vals in zip(*(b[c] for c in read_cols))]
            out = b[kept].reset_index(drop=True)
            for name, dtype in dtypes:
                out[name] = pd.array([r[name] for r in res], dtype=dtype)
            yield out

    return df.select(*cols).mapInPandas(mapper, out_schema)


def decode_validate(df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """Append DECODE_RESULT_FIELDS to the kept columns. Input needs
    ``image_id, bytes, w, h, fmt``. ``keep_cols`` (default ``image_id, w,
    h, fmt, part``) are the input columns carried through, those absent
    from ``df`` skipped; the columns the decode reads need not be kept,
    and ``bytes`` is never carried (:func:`map_rows`)."""
    return map_rows(df, keep_cols or ["image_id", "w", "h", "fmt", "part"],
                    ("image_id", "bytes", "fmt", "w", "h"),
                    DECODE_RESULT_FIELDS, _check_one)


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
