"""Mergeable KLL quantile sketches for drift at 100-TB scale.

The north_star (BASELINE.json:6) names "per-partition sketch histograms
(KLL/t-digest) compared KS-style against a baseline". Spark 4.1 exposes the
Apache DataSketches KLL implementation natively (``kll_sketch_agg_double``
and friends, backed by the shipped ``datasketches-java`` jar), so the whole
path stays JVM-side and the sketches are genuinely MERGEABLE aggregation
state: per-partition sketches union with ``kll_merge_agg_double`` without
re-reading the data — the property GK/``approx_percentile`` lacks a public
surface for, and the reason KLL wins at 10^12 rows (fixed ~3 KB state per
partition at k=200, ~1.65 % normalized rank error, vs re-aggregating raw
values).

Accuracy contract (DataSketches KLL, k=200 default): single-sided
normalized rank error ~1.65 % at 99 % confidence. ``kll_quantile_check``
turns that into a verifiable verdict: the EXACT rank of each estimated
quantile (one distributed count) must sit within ``tol`` of the requested
rank. KLL compaction is randomized, so the estimates themselves are not
run-stable — the verdict row is the deterministic, oracle-able artifact.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schisma_spark.sources import local_frame

#: DataSketches KLL k=200: ~1.65 % single-sided normalized rank error at
#: 99 % confidence; 3x margin for the hard verdict so the oracle row never
#: flakes on the randomized compaction (still a tight +-5 % rank bound).
KLL_K = 200
KLL_RANK_ERROR = 0.0165
KLL_TOL = 3 * KLL_RANK_ERROR


def kll_sketch(df: DataFrame, value_col: str,
               group_by: Sequence[str] | None = None,
               k: int = KLL_K) -> DataFrame:
    """One KLL sketch (binary, ~3 KB at k=200) per group: ``group...,
    sketch``. Partial aggregation is map-side (Catalyst treats the sketch
    as ordinary mergeable agg state), so only tiny partials shuffle."""
    group_by = list(group_by or [])
    # kll_sketch_agg_double accepts only FLOAT/DOUBLE; widen ints (exact)
    agg = F.kll_sketch_agg_double(
        F.col(value_col).cast("double"), F.lit(k)
    ).alias("sketch")
    return df.groupBy(*group_by).agg(agg) if group_by else df.agg(agg)


def kll_merge(sketches: DataFrame, group_by: Sequence[str] | None = None,
              sketch_col: str = "sketch") -> DataFrame:
    """Union previously-built sketches WITHOUT touching the raw data —
    the resumable-baseline path: per-partition sketches from the manifest
    merge into one baseline sketch per group."""
    group_by = list(group_by or [])
    agg = F.kll_merge_agg_double(F.col(sketch_col)).alias("sketch")
    return (sketches.groupBy(*group_by).agg(agg)
            if group_by else sketches.agg(agg))


def kll_quantiles(sketches: DataFrame, probs: Sequence[float],
                  group_by: Sequence[str] | None = None,
                  sketch_col: str = "sketch") -> DataFrame:
    """Estimated quantile values from sketches: ``group..., q, value``."""
    group_by = list(group_by or [])
    # an all-null/empty group aggregates to an EMPTY sketch buffer, and the
    # quantile accessor THROWS on that instead of returning NULL — the
    # n>0 CASE guard keeps the degenerate group as value=NULL rows
    sk = F.col(sketch_col)
    ok = sk.isNotNull() & (F.kll_sketch_get_n_double(sk) > 0)
    pairs = F.array(*[
        F.struct(
            F.lit(float(q)).alias("q"),
            F.when(
                ok, F.kll_sketch_get_quantile_double(sk, F.lit(float(q))),
            ).alias("value"),
        )
        for q in probs
    ])
    return (
        sketches.select(*group_by, F.explode(pairs).alias("_p"))
        .select(*group_by, F.col("_p.q").alias("q"),
                F.col("_p.value").alias("value"))
    )


def kll_rank(sketch: Column, value: Column) -> Column:
    """Estimated normalized rank of ``value`` in ``sketch`` (double in
    [0, 1])."""
    return F.kll_sketch_get_rank_double(sketch, value)


def kll_quantile_check(df: DataFrame, value_col: str,
                       probs: Sequence[float],
                       tol: float = KLL_TOL, k: int = KLL_K) -> DataFrame:
    """Hard accuracy verdict: for each requested rank q, the EXACT rank of
    the sketch's estimate (one distributed count per probe, computed from
    the same data) must satisfy ``|exact_rank - q| <= tol``. Returns
    ``q, within_tol`` — deterministic although the estimate is randomized,
    so it is oracle-able (the oracle pins the expected verdicts). An empty
    or all-null column returns ``within_tol = NULL`` for every probe (the
    check could not run — visible, not a silent no-op)."""
    est = kll_quantiles(kll_sketch(df, value_col, k=k), probs)
    vals = df.select(F.col(value_col).alias("_v")).where(F.col("_v").isNotNull())
    # one tiny broadcast of len(probs) estimates against the table: exact
    # rank = count(v <= estimate) / count(*), all probes in a single scan.
    # n folds INTO the rank aggregation (each q group replicates every
    # value, so its count IS n) — one plan, no separate count() action
    joined = F.broadcast(est).crossJoin(vals)
    ranks = (
        joined.groupBy("q")
        .agg((F.sum((F.col("_v") <= F.col("value")).cast("long"))
              / F.count(F.lit(1))).alias("exact_rank"))
    )
    # an empty / all-null column yields ZERO rank rows; re-anchor on the
    # literal probe list so the degenerate input surfaces as
    # within_tol=NULL per probe instead of a silent empty result
    probe_rows = local_frame(df.sparkSession, [(float(q),) for q in probs],
                             "q double")
    return probe_rows.join(ranks, "q", "left").select(
        "q",
        (F.abs(F.col("exact_rank") - F.col("q")) <= F.lit(tol))
        .alias("within_tol"),
    ).orderBy("q")


#: DataSketches HLL, lgConfigK=12 default: relative standard error
#: ~1.6 % (1.04/sqrt(2^12)); 3x margin so the verdict never flakes (HLL
#: estimation is deterministic for a given input, unlike KLL compaction,
#: but the bound documents the certified accuracy)
HLL_LG_K = 12
HLL_REL_ERROR = 1.04 / (2 ** (HLL_LG_K / 2))
HLL_TOL = 3 * HLL_REL_ERROR


def hll_sketch(df: DataFrame, value_col: str,
               group_by: Sequence[str] | None = None,
               lg_k: int = HLL_LG_K) -> DataFrame:
    """One HLL distinct-count sketch (binary, <= ~2^lg_k bytes) per group:
    ``group..., sketch`` — the CARDINALITY twin of :func:`kll_sketch`.
    Mergeable aggregation state: map-side partials, only tiny sketches
    shuffle — the 10^12-row answer to "how many distinct image_ids /
    phashes" without a giant exact distinct."""
    group_by = list(group_by or [])
    agg = F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    return df.groupBy(*group_by).agg(agg) if group_by else df.agg(agg)


def hll_merge(sketches: DataFrame, group_by: Sequence[str] | None = None,
              sketch_col: str = "sketch") -> DataFrame:
    """Union previously-built HLL sketches WITHOUT re-reading the data —
    per-partition/per-run sketches from the manifest merge into one."""
    group_by = list(group_by or [])
    agg = F.hll_union_agg(F.col(sketch_col)).alias("sketch")
    return (sketches.groupBy(*group_by).agg(agg)
            if group_by else sketches.agg(agg))


def hll_distinct_check(df: DataFrame, value_col: str,
                       tol: float = HLL_TOL,
                       lg_k: int = HLL_LG_K) -> DataFrame:
    """Hard accuracy verdict for the HLL estimate: ``estimate,
    n_exact, within_tol`` (one row) with
    ``|estimate - n_exact| <= tol * n_exact``. HLL estimation is
    deterministic for a given input, so both the estimate and the verdict
    are oracle-able; the exact count comes from the same data in the same
    plan (no separate action)."""
    est = hll_sketch(df, value_col, lg_k=lg_k).select(
        F.hll_sketch_estimate("sketch").alias("estimate")
    )
    exact = df.agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    return est.crossJoin(exact).select(
        F.col("estimate").cast("long").alias("estimate"),
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.abs(F.col("estimate") - F.col("n_exact"))
         <= F.lit(tol) * F.col("n_exact")).alias("within_tol"),
    )


def ks_from_sketches(a: DataFrame, b: DataFrame,
                     group_by: Sequence[str] | None = None,
                     sketch_col: str = "sketch",
                     n_points: int = 64) -> DataFrame:
    """KS-style statistic between two sketched distributions WITHOUT raw
    data: evaluate both quantile functions on the same n_points rank grid
    (the quantile probe is the one KLL accessor whose argument may be a
    literal — ``kll_sketch_get_rank_double`` requires a foldable value, so
    rank-at-computed-quantile is not expressible) and estimate
    ``F_b(Q_a(q))`` by counting grid inversions: the fraction of b's grid
    values <= a's value at rank q. ``group..., ks``; error bounded by the
    sketch rank error plus the 1/n_points grid resolution, symmetric in
    a/b (max of both directions)."""
    group_by = list(group_by or [])
    qs = [i / (n_points + 1) for i in range(1, n_points + 1)]
    a2 = a.select(*group_by, F.col(sketch_col).alias("_ska"))
    b2 = b.select(*group_by, F.col(sketch_col).alias("_skb"))
    j = a2.join(b2, on=group_by) if group_by else a2.crossJoin(b2)

    def grid(sk: Column) -> Column:
        return F.array(*[
            F.kll_sketch_get_quantile_double(sk, F.lit(q)) for q in qs
        ])

    n = float(len(qs))

    def frac_le(g: Column, x: Column) -> Column:
        return F.size(F.filter(g, lambda y: y <= x)) / F.lit(n)

    def gaps_at(points: Column, ga: Column, gb: Column) -> Column:
        # |F_a(x) - F_b(x)| estimated from the two quantile grids at each
        # probe value x — comparing the two empirical CDFs at the SAME
        # values handles discrete distributions (ties) correctly, where
        # "rank of a's q-quantile in b" does not: a step distribution maps
        # a whole rank interval onto one value, so |q - F_b(Q_a(q))| reads
        # as drift on IDENTICAL data
        return F.array(*[
            F.abs(
                frac_le(ga, F.element_at(points, i + 1))
                - frac_le(gb, F.element_at(points, i + 1))
            )
            for i in range(len(qs))
        ])

    ga, gb = grid(F.col("_ska")), grid(F.col("_skb"))
    out = j.select(*group_by, ga.alias("_ga"), gb.alias("_gb"))
    ks = F.greatest(
        F.array_max(gaps_at(F.col("_ga"), F.col("_ga"), F.col("_gb"))),
        F.array_max(gaps_at(F.col("_gb"), F.col("_ga"), F.col("_gb"))),
    )
    return out.select(*group_by, ks.alias("ks"))
