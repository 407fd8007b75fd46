"""Composed training-data curation decision: quality gate -> exact dedup
-> near-dup cluster canonicalization, one keep/drop + reason per document.

The three stages mirror what a production curation pipeline ships
(filter, exact dedup, fuzzy dedup); the composition rule that matters is
SURVIVOR PROMOTION: the canonical of a near-dup cluster is the smallest
id among members that survived the earlier gates — taking the raw
cluster minimum would silently drop an entire content class whenever its
min-id member failed a quality/exact gate (r4 review finding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from schisma_spark.functions.dedup import connected_components, minhash_near_dups
from schisma_spark.functions.text import fingerprint, quality_score, token_count_ws


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    n_per_stratum: int,
    n_salts: int = 32,
) -> DataFrame:
    """Deterministic per-stratum down-sample: keep ``n_per_stratum`` rows
    per stratum, chosen by rank over a PORTABLE hash of the id (stable
    across runs and cluster sizes, not prefix-biased by id assignment;
    id tie-break makes it total). The curation-facing twin of
    ``dedup.cap_bucket_size`` — capping over-represented
    languages/domains/sources before training.

    Skew shape (r4 VERDICT #4): a single-window rank serializes a hot
    stratum into ONE task (AQE cannot split a window partition), so the
    rank runs in TWO stages — a pre-rank within (stratum, salt) capped at
    ``n_per_stratum``, then the exact rank over the <= n_salts * n
    survivors. Every global top-n row ranks <= n within its own salt
    subset (ranking over a subset never increases a row's rank), so
    stage 1 never drops a winner and the output is IDENTICAL to the
    single-window form — the DuckDB twin stays the plain one-window SQL.
    The salt is xxhash64-derived from the id (deterministic, affects only
    parallelism); ``n_salts`` bounds the hot-stratum task at
    rows/n_salts for stage 1 and salts*n rows for stage 2."""
    from schisma_spark.functions.portable import hash32

    d = df.withColumn("_hk", hash32(F.col(id_col).cast("string"))) \
          .withColumn("_salt",
                      F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
    w1 = Window.partitionBy(*strata_cols, "_salt").orderBy(
        F.col("_hk"), F.col(id_col)
    )
    w2 = Window.partitionBy(*strata_cols).orderBy(
        F.col("_hk"), F.col(id_col)
    )
    return (
        d.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= n_per_stratum)
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn", "_hk", "_salt")
    )


def _cluster_keep_list(df: DataFrame, id_col: str, valid: Column,
                       pairs: DataFrame, invalid_reason: str) -> DataFrame:
    """``id_col, keep, reason`` from a validity gate and the near-dup pairs
    of the valid rows: ``invalid_reason`` -> ``near_dup`` (in a cluster and
    not its label, which :func:`connected_components` makes the min
    member) -> ``ok``. The shared body of the payload keep lists."""
    base = df.select(F.col(id_col), valid.alias("_valid"))
    cc = (connected_components(pairs)
          .withColumnRenamed("node", id_col)
          .withColumnRenamed("component", "_cluster"))
    reason = (
        F.when(~F.col("_valid"), invalid_reason)
        .when(F.col("_cluster").isNotNull()
              & (F.col(id_col) != F.col("_cluster")), "near_dup")
        .otherwise("ok")
    )
    return (
        base.join(cc, id_col, "left")
        .select(F.col(id_col), reason.alias("reason"))
        .select(F.col(id_col), (F.col("reason") == "ok").alias("keep"),
                "reason")
    )


def embedding_keep_list(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.99,
    pairs: DataFrame | None = None,
    **near_dup_kw,
) -> DataFrame:
    """``id_col, keep, reason`` for every row of an EMBEDDING table — the
    vector-payload twin of :func:`curation_keep_list` (r5), proving the
    curation machinery is payload-agnostic (text minhash / image pHash /
    embedding cosine all feed the same cluster-then-canonicalize shape).

    Precedence: ``invalid_vector`` (NULL vector, zero norm, or a
    NON-FINITE norm — NaN/Inf elements are common failed-encoder
    outputs, and because NaN compares greater-than-everything in both
    Spark and DuckDB a NaN cosine would pass the ``>= threshold``
    filter and transitively merge unrelated clusters (r5 ADVICE); such
    rows are EXCLUDED from the pair stage) -> ``near_dup`` (in a
    cosine-LSH near-dup cluster and not its canonical member) -> ``ok``.
    The cluster label from :func:`connected_components` IS the minimum
    member id, and every member is valid by construction, so the label
    doubles as the canonical id — no survivor-promotion aggregate needed
    (unlike the text pipeline, there are no earlier gates a canonical
    could have failed).

    Scale shape: one validity projection, the bucketed cosine near-dup
    pipeline over valid rows only, the iterative cluster pass, one left
    join back; nothing collects beyond the per-round convergence
    scalar."""
    from schisma_spark.functions.similarity import (
        cosine_near_dups, valid_vector,
    )

    # ONE definition of the failed-encoder gate across every vector
    # operator (this local copy predated similarity.valid_vector and
    # could drift — review finding)
    valid = valid_vector(F.col(vec_col))
    if pairs is None:
        pairs = cosine_near_dups(df.where(valid), id_col, vec_col, dim,
                                 threshold, **near_dup_kw)
    return _cluster_keep_list(df, id_col, valid, pairs, "invalid_vector")


def signature_keep_list(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    pairs: DataFrame | None = None,
    **banding_kw,
) -> DataFrame:
    """``id_col, keep, reason`` over ANY int64-signature column — one
    curation function for every signature payload (r5): text
    ``simhash64``, image ``phash64``, or any future 64-bit fingerprint,
    all through :func:`dedup.hamming_near_dups`'s banded pigeonhole join.

    Precedence: ``invalid_signature`` (NULL signature — upstream hash
    failure; excluded from the pair stage) -> ``near_dup`` (in a banded-
    Hamming cluster and not its canonical = the cluster label, provably
    the min member) -> ``ok``. NOTE the all-zero signature is a VALID
    value (simhash of empty text is 0), so empty-payload docs genuinely
    cluster together at hamming 0 — at corpus scale that bucket is the
    degenerate one; pass ``max_bucket_size`` (via ``banding_kw``) or
    quality-gate empties upstream (:func:`curation_keep_list` does).

    Scale shape: one banded self-join over valid rows (O(rows x bands)
    shuffle, never all-pairs), the iterative cluster pass, one left join
    back."""
    from schisma_spark.functions.dedup import hamming_near_dups

    valid = F.col(sig_col).isNotNull()
    if pairs is None:
        pairs = hamming_near_dups(df.where(valid), sig_col, id_col,
                                  max_hamming=max_hamming, **banding_kw)
    return _cluster_keep_list(df, id_col, valid, pairs, "invalid_signature")


def curation_keep_list(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    min_tokens: int = 5,
    pairs: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    decontam_min_overlap: int = 1,
    **near_dup_kw,
) -> DataFrame:
    """``id_col, keep, reason`` for every document.

    Precedence: ``low_quality`` (quality_score < min_quality or fewer
    than min_tokens whitespace tokens) -> ``contaminated`` (r6, only
    when ``eval_df`` is given: >= decontam_min_overlap word-shingle
    hashes shared with the eval set — benchmark answers must not reach
    the training set regardless of dedup status) -> ``exact_dup`` (not
    the min id of its normalized-text fingerprint group) -> ``near_dup``
    (in a near-dup cluster whose canonical — the min id among members
    passing the earlier gates, contamination included — is someone
    else) -> ``ok``. ``pairs`` overrides the near-dup pair source
    (default: ``minhash_near_dups`` with ``near_dup_kw``); exactly one
    representative of every cluster with a surviving member is kept.

    NULL-text documents (r4 ADVICE): ``fingerprint(NULL)`` is NULL, so a
    naive inner join on the fingerprint would silently DROP the row and
    break the every-document contract, and NULL ``_q``/``_tok``
    comparisons would skip the low_quality branch. NULL text is gated
    explicitly to ``low_quality`` and the fingerprint coalesced to a -1
    sentinel (``fingerprint`` is a non-negative 60-bit hash, so the
    sentinel cannot collide) so every input row yields exactly one
    decision row.

    Scale shape: one fingerprint aggregate, the LSH near-dup pipeline,
    the iterative cluster pass, and two small joins — nothing collects
    beyond connected_components' per-round convergence scalar."""
    base = df.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("_nulltext"),
        quality_score(F.col(text_col)).alias("_q"),
        token_count_ws(F.col(text_col)).alias("_tok"),
        F.coalesce(fingerprint(F.col(text_col)).cast("long"),
                   F.lit(-1).cast("long")).alias("_fp"),
    )
    min_ids = base.groupBy("_fp").agg(F.min(id_col).alias("_fp_min"))
    if pairs is None:
        pairs = minhash_near_dups(df, text_col, id_col, **near_dup_kw)
    # clusters converge in O(log diameter) rounds (hook + pointer jump),
    # so long transitive near-dup chains stay within max_iterations
    cc = (connected_components(pairs)
          .withColumnRenamed("node", id_col)
          .withColumnRenamed("component", "_cluster"))
    wc = base.join(min_ids, "_fp").join(cc, id_col, "left")
    if eval_df is not None:
        from schisma_spark.functions.dedup import decontaminate

        cont = decontaminate(
            df, eval_df, text_col, id_col,
            min_overlap=decontam_min_overlap,
            hasher=near_dup_kw.get("hasher", "portable"),
        ).select(F.col(id_col), F.col("contaminated").alias("_cont"))
        wc = wc.join(cont, id_col, "left")
    else:
        wc = wc.withColumn("_cont", F.lit(False))
    wc = wc.withColumn(
        "_pre_ok",
        (~F.col("_nulltext"))
        & (F.col("_q") >= min_quality)
        & (F.col("_tok") >= min_tokens)
        & ~F.coalesce(F.col("_cont"), F.lit(False))
        & (F.col(id_col) == F.col("_fp_min")),
    )
    canon = (wc.where(F.col("_pre_ok") & F.col("_cluster").isNotNull())
             .groupBy("_cluster").agg(F.min(id_col).alias("_canon")))
    reason = (
        F.when(F.col("_nulltext")
               | (F.col("_q") < min_quality) | (F.col("_tok") < min_tokens),
               "low_quality")
        .when(F.coalesce(F.col("_cont"), F.lit(False)), "contaminated")
        .when(F.col(id_col) != F.col("_fp_min"), "exact_dup")
        .when(F.col("_cluster").isNotNull()
              & (F.col(id_col) != F.col("_canon")), "near_dup")
        .otherwise("ok")
    )
    return (
        wc.join(canon, "_cluster", "left")
        .select(F.col(id_col), reason.alias("reason"))
        .select(F.col(id_col), (F.col("reason") == "ok").alias("keep"),
                "reason")
    )


def _id_uniform(id_col: str, salt: str):
    """Portable-hash uniform in [0, 1) from (id, salt); NULL ids map to
    the hash of just the salt (one shared deterministic draw) so
    NULL-comparison semantics never silently drop or misroute rows."""
    from schisma_spark.functions.portable import HASH32_MAX, hash32

    key = F.concat(F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                   F.lit(salt))
    return hash32(key) / F.lit(float(HASH32_MAX) + 1.0)


def weighted_sample(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli down-sample (r6) — the domain
    MIXTURE-REWEIGHTING pass: keep a row iff ``u(id) < weight[stratum]``
    where ``u`` is the portable id hash mapped to [0, 1). Strata absent
    from ``weights`` (including NULL) use ``default_weight``; weights
    >= 1 keep everything, 0 drops the stratum. ``salt`` decorrelates
    repeated draws (two samples with the same salt select NESTED subsets
    as weights shrink — by design, so shrinking a domain's weight only
    removes rows).

    Unlike :func:`stratified_sample` (exact per-stratum COUNT cap, needs
    a rank), this is a pure shuffle-free filter projection — the scan is
    the whole cost at any corpus size, and the expected kept fraction
    per stratum is exactly its weight. Use the rank variant when the cap
    must be exact, this one when the TARGET IS A MIX (e.g. down-weight
    web crawl to 30%, keep curated sources at 100%).

    NULL ids share one deterministic draw (the hash of the empty string
    + salt) rather than being silently dropped by a NULL comparison —
    a weight-1.0 stratum really does keep everything."""
    u = _id_uniform(id_col, salt)
    w = F.lit(float(default_weight))
    for k, v in sorted(weights.items()):
        w = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(w)
    return df.where(u < w)


def hash_split(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    split_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST assignment (r6): one ``split_col``
    label per row from cumulative ``fractions`` over the portable
    id-hash uniform — ``{"train": .9, "val": .05, "test": .05}`` sends a
    row to train iff ``u < .9``, to val iff ``u < .95``, else test.
    Fractions are taken in the dict's insertion order, must each lie in
    [0, 1] and must sum to 1 (within 1e-9; raises otherwise — a silent
    remainder would leak rows into the LAST split, and a negative
    fraction would shift every later edge). NULL ids share one
    deterministic draw (see :func:`weighted_sample`) instead of falling
    through to the last label. Membership depends only on (id, salt): stable
    across runs, cluster sizes and corpus growth — a doc added tomorrow
    cannot move today's docs between splits (the leakage property that
    matters). Shuffle-free projection; the same hash family as
    :func:`weighted_sample`, so use a DIFFERENT salt when composing
    both, or sampling correlates with split assignment."""
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad:
        raise ValueError(f"fractions must be in [0, 1], got {bad}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = _id_uniform(id_col, salt)
    names = list(fractions)
    expr = F.lit(names[-1])
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += fractions[name]
        conds.append((name, cum))
    for name, edge in reversed(conds):
        expr = F.when(u < F.lit(edge), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def corpus_diff(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc-level DIFF between two corpus snapshots (r6) — the
    operational sibling of text.vocab_drift's content-level view: what
    changed between ingest batches / crawl snapshots? One row per id
    present in either snapshot: ``id_col, status, fp_a, fp_b`` with
    ``status`` in ``added`` (only in B), ``removed`` (only in A),
    ``changed`` (both, content fingerprints differ — NULL-safe, so
    text appearing or disappearing counts as a change), ``unchanged``.

    Scale shape: each side reduces to narrow (id, fingerprint) rows
    before the full-outer join on id — one shuffle per side, the
    honest minimum for an id-aligned comparison; when both snapshots
    are stored bucketed by id (sources.py catalog writes), the join
    plans exchange-free (see jobs/violation_history_job.py for the
    runtime-asserted pattern). Text bytes never shuffle."""
    a = df_a.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp_a"),
        F.lit(True).alias("_in_a"),
    )
    b = df_b.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fp_b"),
        F.lit(True).alias("_in_b"),
    )
    j = a.join(b, id_col, "full_outer")
    in_a = F.coalesce(F.col("_in_a"), F.lit(False))
    in_b = F.coalesce(F.col("_in_b"), F.lit(False))
    status = (
        F.when(~in_a, F.lit("added"))
        .when(~in_b, F.lit("removed"))
        .when(~F.col("fp_a").eqNullSafe(F.col("fp_b")),
              F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(id_col), status.alias("status"),
                    "fp_a", "fp_b")
