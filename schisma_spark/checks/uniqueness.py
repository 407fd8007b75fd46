"""Uniqueness checks (SURVEY.md §2.B E5): duplicated keys and the rows
that carry them.

BASELINE.json:6 names "uniqueness via salted hash-aggregate on
image_id/phash". The engine counts keys with ONE plain hash aggregate,
``groupBy(key).count()``: Catalyst's map-side partial aggregation already
bounds a hot key's reducer load to one partial row per map task, which is
all that salting would buy for a COUNT. Measured against the two-stage
salted plan (``groupBy(key, spark_partition_id() % S).count()`` then
``groupBy(key).sum``): on 40M rows with a 1%-hot key plain wins, 7.5 s vs
13.2 s at local[32]; at 2M/600k rows plain ran 0.72-0.78x the salted
wall. Salting stays the right tool for LARGE per-key aggregation state
(collect_set / sketches), which a uniqueness count never builds.

Also measured and rejected for COUNT (r2): a hash-PREFILTER variant that
groups ``xxhash64(key)`` longs first and exact-verifies only colliding
hashes — 4.92 s vs plain 3.96 s at 40M near-unique rows / local[32]; the
candidate semi-join stage costs more than the narrower shuffle saves,
again because map-side partials already shrink the wide shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schisma_spark.compiler import viol
from schisma_spark.result import INVALID


def duplicate_keys(
    df: DataFrame,
    key_cols: Sequence[str],
    *,
    min_count: int = 2,
) -> DataFrame:
    """Keys occurring >= ``min_count`` times: ``key..., cnt``. Rows with any
    NULL key component are ignored (null = missing, handled by row checks)."""
    key_cols = list(key_cols)
    notnull = F.col(key_cols[0]).isNotNull()
    for k in key_cols[1:]:
        notnull = notnull & F.col(k).isNotNull()
    keyed = df.select(*key_cols).where(notnull)  # IsNotNull pushes to scan
    counts = keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.where(F.col("cnt") >= min_count)


def uniqueness_violations(
    df: DataFrame,
    key_cols: Sequence[str],
    keys: Sequence[str] | None = None,
    *,
    strategy: str = "auto",  # auto | broadcast | shuffle_hash
) -> DataFrame:
    """Schisma-shaped violation rows for duplicated keys: the offending rows
    are recovered by joining the duplicate key set back onto the table.

    ``dups`` is the set of ALL duplicated keys — unbounded in the worst case
    (a pathologically duplicate-heavy table makes it ~#distinct keys), so the
    default is ``strategy='auto'``: no hint, AQE picks broadcast at runtime
    when the built set is actually small and falls back to a shuffled hash
    join when it isn't (the forced-broadcast failure mode in CLAUDE.md).
    ``'broadcast'`` / ``'shuffle_hash'`` remain explicit caller knobs, same
    surface as :func:`fk_violations`."""
    key_cols = list(key_cols)
    dups = duplicate_keys(df, key_cols)
    if strategy == "broadcast":
        dups = F.broadcast(dups)
    elif strategy == "shuffle_hash":
        dups = dups.hint("shuffle_hash")
    offending = df.join(dups, on=key_cols, how="inner")
    ident = list(keys or key_cols)
    where = ".".join(key_cols)
    return offending.select(
        *ident,
        viol(
            INVALID,
            where=F.lit(where),
            expected="unique",
            received=F.concat_ws("|", *[F.col(k).cast("string") for k in key_cols]),
            value=F.col("cnt").cast("string"),
            message=F.lit(f"duplicate key on ({where})"),
        ).alias("_v"),
    ).select(*ident, "_v.*")
