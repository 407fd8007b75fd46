"""Distribution-drift checks (SURVEY.md §2.B E7).

BASELINE.json:6: "distribution-drift via per-partition sketch histograms
compared KS-style against a baseline". Two mergeable sketches, both
built-in (no custom UDAF, so partial/final merge + spill are Catalyst's
problem, not ours):

- fixed-bin histograms: ``floor((x-lo)/(hi-lo)*nbins)`` bucketing + a hash
  aggregate — exactly mergeable, and the same formula is expressible in
  ANSI SQL for the DuckDB oracle
- quantile sketches: ``approx_percentile`` (Greenwald-Khanna, mergeable)

The KS statistic (sup |CDF_a - CDF_b|) is computed from binned counts —
either driver-side from two small histogram results, or fully in Spark via
a window CDF when comparing many groups at once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from schisma_spark.session import worker_init


def bucket_expr(col, lo: float, hi: float, nbins: int):
    """Bin index in [0, nbins-1] (clamped); NULL for NULL input. Same
    formula works in DuckDB: floor((x - lo) / (hi - lo) * nbins)."""
    raw = F.floor((col - F.lit(lo)) / F.lit(hi - lo) * F.lit(nbins))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")


def fixed_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_by: Sequence[str] | None = None,
) -> DataFrame:
    """``group..., bin, cnt`` — one hash aggregate, mergeable by addition."""
    group_by = list(group_by or [])
    binned = df.where(F.col(value_col).isNotNull()).select(
        *group_by, bucket_expr(F.col(value_col), lo, hi, nbins).alias("bin")
    )
    return binned.groupBy(*group_by, "bin").agg(F.count(F.lit(1)).alias("cnt"))


def quantile_sketch(
    df: DataFrame,
    cols: Sequence[str],
    probs: Sequence[float] = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99),
    accuracy: int = 10000,
    group_by: Sequence[str] | None = None,
) -> DataFrame:
    """Mergeable quantile grid per column (approx_percentile)."""
    group_by = list(group_by or [])
    aggs = [
        F.percentile_approx(c, list(probs), accuracy).alias(f"q_{c}") for c in cols
    ]
    return df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)


def ks_from_histograms(
    current: DataFrame,
    baseline: DataFrame,
    group_by: Sequence[str] | None = None,
    bin_col: str = "bin",
    cnt_col: str = "cnt",
) -> DataFrame:
    """KS statistic per group from two binned histograms, computed in Spark
    (window CDFs over the tiny histogram frames — no driver collect):
    ``group..., ks``."""
    group_by = list(group_by or [])
    a = current.groupBy(*group_by, bin_col).agg(F.sum(cnt_col).alias("ca"))
    b = baseline.groupBy(*group_by, bin_col).agg(F.sum(cnt_col).alias("cb"))
    joined = a.join(b, on=group_by + [bin_col], how="full").fillna(
        0, subset=["ca", "cb"]
    )
    w = (
        Window.partitionBy(*group_by)
        .orderBy(bin_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*group_by)
    cdf = joined.select(
        *group_by,
        F.col(bin_col),
        (F.sum("ca").over(w) / F.sum("ca").over(wt)).alias("cdf_a"),
        (F.sum("cb").over(w) / F.sum("cb").over(wt)).alias("cdf_b"),
    )
    grp = [F.col(g) for g in group_by]
    out = cdf.groupBy(*grp).agg(
        F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("ks")
    )
    return out


def grouped_histogram_pandas(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    group_by: Sequence[str],
) -> DataFrame:
    """applyInPandas twin of fixed_histogram (SURVEY §2.B E18 grouped-map
    surface): per-group numpy histograms. Use when the binning logic
    outgrows Column expressions (log bins, custom edges); for plain fixed
    bins prefer fixed_histogram (JVM-side). Partial aggregation happens in
    pandas per group-partition; output rows are (group..., bin, cnt)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    group_by = list(group_by)
    gfields = [df.schema[g] for g in group_by]
    out_schema = T.StructType(
        gfields
        + [T.StructField("bin", T.IntegerType()),
           T.StructField("cnt", T.LongType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        worker_init()
        vals = pdf[value_col].dropna().to_numpy(dtype="float64")
        idx = np.floor((vals - lo) / (hi - lo) * nbins)
        idx = np.clip(idx, 0, nbins - 1).astype("int64")
        bins, cnts = np.unique(idx, return_counts=True)
        out = pd.DataFrame({"bin": bins.astype("int32"),
                            "cnt": cnts.astype("int64")})
        for g in group_by:
            out.insert(0, g, pdf[g].iloc[0])
        return out

    return df.select(*group_by, value_col).groupBy(*group_by).applyInPandas(
        fn, out_schema
    )


def psi_from_histograms(
    current: DataFrame,
    baseline: DataFrame,
    group_by: Sequence[str] | None = None,
    bin_col: str = "bin",
    cnt_col: str = "cnt",
    smooth: float = 0.5,
) -> DataFrame:
    """Population Stability Index per group from two binned histograms —
    the industry-standard drift score the KS statistic complements
    (PSI weights tail mass by log-ratio; conventional reading: < 0.1
    stable, 0.1-0.25 moderate shift, > 0.25 action):
    ``psi = sum_bins (p_cur - p_base) * ln(p_cur / p_base)``.

    Bins absent on one side get ``smooth`` pseudo-counts (add-smoothing
    BEFORE renormalization, the vocab_drift convention) so empty bins
    stay finite instead of infinite. NOTE (r7, ADVICE): smoothing covers
    only bins OCCUPIED in the union of the two histograms —
    ``fixed_histogram`` emits no empty bins, so the smoothing
    denominator varies with bin occupancy, slightly off the
    all-fixed-bins convention the documented 0.1/0.25 thresholds assume;
    densify to the full bin range upstream when that convention matters
    (the DuckDB oracle twin mirrors this occupied-bins behavior).
    Computed entirely in Spark over the tiny histogram frames (window
    totals, no driver collect); histograms themselves are mergeable
    one-pass aggregates, so at 10^12 rows the only full-corpus work is
    the two ``fixed_histogram`` scans."""
    group_by = list(group_by or [])
    a = current.groupBy(*group_by, bin_col).agg(F.sum(cnt_col).alias("ca"))
    b = baseline.groupBy(*group_by, bin_col).agg(F.sum(cnt_col).alias("cb"))
    joined = a.join(b, on=group_by + [bin_col], how="full").fillna(
        0, subset=["ca", "cb"]
    )
    wt = Window.partitionBy(*group_by)
    sa = F.col("ca") + F.lit(smooth)
    sb = F.col("cb") + F.lit(smooth)
    probs = joined.select(
        *group_by,
        (sa / F.sum(sa).over(wt)).alias("pa"),
        (sb / F.sum(sb).over(wt)).alias("pb"),
    )
    grp = [F.col(g) for g in group_by]
    return probs.groupBy(*grp).agg(
        F.sum((F.col("pa") - F.col("pb"))
              * F.log(F.col("pa") / F.col("pb"))).alias("psi")
    )


def drift_verdicts(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    threshold: float,
    group_by: Sequence[str] | None = None,
) -> DataFrame:
    ks = ks_from_histograms(current_hist, baseline_hist, group_by)
    return ks.withColumn(
        "verdict",
        F.when(F.col("ks") <= threshold, F.lit("pass")).otherwise(F.lit("fail")),
    )


def new_categories(
    current: DataFrame, baseline: DataFrame, col: str
) -> DataFrame:
    """Categorical drift: values present now but absent from the baseline
    (SURVEY §2.B E14 — a set op: distinct-project + except)."""
    return current.select(col).distinct().exceptAll(
        baseline.select(col).distinct()
    )
