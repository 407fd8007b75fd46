"""validate(): one fused projection over the whole DataFrame.

The analog of the reference's ``validate`` entry point
(/root/reference/src/schisma.mjs:109-136), lifted from one-object-at-a-time
recursion to a single distributed pass: every check for every column is
compiled into ONE ``array<violation>`` Column (see
:mod:`schisma_spark.compiler`), so Catalyst sees one projection it can fuse
into whole-stage codegen, push filters under, and prune columns for. A
stats/verdict aggregation is a second tiny plan over the same scan.

Nothing here executes a job — :class:`ValidationResult` exposes lazy
DataFrames (``violations``, ``row_verdicts``, ``verdicts(part_cols)``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schisma_spark.compiler import (
    Opts,
    check_object_fields,
    empty_varr,
    is_problem,
    viol,
)
from schisma_spark.dsl import ObjectAlt, Schema, fingerprint
from schisma_spark.result import VIOLATION_FIELDS
from schisma_spark.session import cached_column

PASS, FAIL = "pass", "fail"


@dataclass
class ValidationResult:
    """Lazy handle over the two validation outputs (SURVEY.md §2.B E9/E10):
    violation rows and per-partition verdicts.

    ``nviols_col`` — when the compiler could thread it — is the violation
    count as pure integer arithmetic, so the verdict/stats aggregates below
    never construct a violation struct and the whole stage stays inside
    whole-stage codegen (higher-order array expressions are CodegenFallback
    and would disable it; measured 2.4x slower + 0.55 N->4N scaling in r2).
    ``violations`` still uses the struct path — there the structs ARE the
    output."""

    df: DataFrame
    keys: list[str]
    viols_col: Column
    code_rows: list[Column] = field(default_factory=list)
    nviols_col: Column | None = None

    @property
    def _count(self) -> Column:
        return self.nviols_col if self.nviols_col is not None \
            else F.size(self.viols_col)

    @property
    def annotated(self) -> DataFrame:
        """Input rows + ``_viols`` array + ``_n_violations`` count."""
        return self.df.withColumn("_viols", self.viols_col).withColumn(
            "_n_violations", F.size("_viols")
        )

    @property
    def violations(self) -> DataFrame:
        """Flat violation rows: ``keys... code where expected received value
        message type_index`` — the engine twin of the reference's flattened
        error list (schisma.mjs:117-133)."""
        keys = tuple(self.keys)
        key_cols, explode, fields = cached_column(
            ("violations", keys),
            lambda: (tuple(F.col(k) for k in keys),
                     F.explode("_viols").alias("_v"),
                     tuple(F.col(f"_v.{f}").alias(f)
                           for f in VIOLATION_FIELDS)))
        ann = self.df.select(*key_cols, self.viols_col.alias("_viols"))
        return ann.select(*key_cols, explode).select(*key_cols, *fields)

    @property
    def row_verdicts(self) -> DataFrame:
        return self.df.select(
            *self.keys,
            self._count.alias("n_violations"),
        ).withColumn("ok", F.col("n_violations") == 0)

    def verdicts(self, partition_cols: Sequence[str]) -> DataFrame:
        """Per-partition pass/fail + metrics in one hash aggregate
        (map-side partials come free from Catalyst; the count expression
        is struct-free so the stage code-generates)."""
        n = self._count
        return (
            self.df.groupBy(*partition_cols)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum(n), F.lit(0)).alias("n_violations"),
                F.coalesce(F.sum((n > 0).cast("long")), F.lit(0)).alias("n_bad_rows"),
            )
            .withColumn(
                "verdict",
                F.when(F.col("n_violations") == 0, F.lit(PASS)).otherwise(F.lit(FAIL)),
            )
        )

    def overall(self) -> DataFrame:
        """The whole-frame verdict: :meth:`verdicts` over no partition
        columns (``DataFrame.agg`` is ``groupBy().agg``)."""
        return self.verdicts([])


def validate(
    df: DataFrame,
    sch: Schema,
    keys: Sequence[str] | None = None,
    ignore_unexpected: bool = False,
    ignore_required: bool = False,
    ignore_short_arrays: bool = True,
    ignore_long_arrays: bool = True,
    match_array: str = "any",
    flatten_errors: bool = True,
    filter_non_errors: bool = True,
) -> ValidationResult:
    """Validate every row of ``df`` against ``sch``.

    Option surface mirrors the reference (schisma.mjs:110; README.md:243-250)
    — ``match_array`` accepted-but-inert, as in the reference (SURVEY §2.A
    R3). ``keys`` name identity columns carried onto violation rows; they are
    exempt from the unexpected-key check when not in the schema.
    """
    opts = Opts(
        ignore_unexpected=ignore_unexpected,
        ignore_required=ignore_required,
        ignore_short_arrays=ignore_short_arrays,
        ignore_long_arrays=ignore_long_arrays,
        match_array=match_array,
        flatten_errors=flatten_errors,
        filter_non_errors=filter_non_errors,
    )
    keys = list(keys or [])
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("root schema must be an object (dict literal)")

    def build():
        dtypes = {f.name: f.dataType for f in df.schema.fields}

        def getter(k):
            return F.col(k), dtypes[k]

        root_where = F.lit(None).cast("string")  # dot='' at root
                                                  # (schisma.mjs:109)
        res = check_object_fields(
            alt, getter, list(dtypes), root_where, opts, exempt=set(keys)
        )
        return _assemble(res, filter_non_errors, root_where)

    viols, n = cached_column(
        ("validate", fingerprint(sch.root), opts, tuple(keys),
         df.schema.json()), build)
    return ValidationResult(df=df, keys=keys, viols_col=viols, nviols_col=n)


def validate_column(
    df: DataFrame,
    column: str,
    sch: Schema,
    keys: Sequence[str] | None = None,
    **kw,
) -> ValidationResult:
    """Validate ONE column against a (possibly non-object) schema — the
    analog of the reference's bare-schema entry point
    (``schisma(Number).validate(5)``, test/automated.mjs). ``where`` paths
    are rooted at the column name."""
    from schisma_spark.compiler import checked_value

    opts = Opts(**kw)
    keys = list(keys or [])
    dtype = df.schema[column].dataType

    def build():
        res = checked_value(sch.root, F.col(column), dtype,
                            F.lit(column), opts, root=True)
        return _assemble(res, opts.filter_non_errors, F.lit(column))

    viols, n = cached_column(
        ("validate_column", fingerprint(sch.root), opts, column, dtype.json()),
        build)
    return ValidationResult(df=df, keys=keys, viols_col=viols, nviols_col=n)


def _assemble(res, filter_non_errors, root_where):
    """``(viols, n)`` of a row's object result, with the non-error row
    when ``filter_non_errors`` is off."""
    viols = res.viols
    n = res.n
    if not filter_non_errors:
        # emit the per-row object result itself when it is not a problem
        # (reference keeps non-error results when filterNonErrors=false,
        # schisma.mjs:114-116)
        ok_row = F.when(
            ~is_problem(res.code),
            F.array(viol(res.code, where=root_where)),
        ).otherwise(empty_varr())
        viols = F.concat(viols, ok_row)
        if n is not None:
            n = (n + F.when(~is_problem(res.code), F.lit(1))
                 .otherwise(F.lit(0))).cast("int")
    return viols, n


def incremental_validate(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    payload_cols,
    validate_fn,
    prior_violations: DataFrame,
) -> DataFrame:
    """Violations for the NEW snapshot at DELTA cost — the production
    shape where a 10^12-row corpus is never revalidated wholesale:
    rows ADDED or CHANGED since the old snapshot (exact NULL-safe
    ``xxhash64`` fingerprint over ``payload_cols``) run ``validate_fn``;
    UNCHANGED rows carry their rows from ``prior_violations``
    (semi-join); REMOVED rows' violations drop out. Identity:
    ``incremental_validate(old, new, ...) == validate_fn(new)`` whenever
    ``prior_violations == validate_fn(old)`` — the oracle query checks
    exactly this (the engine runs incremental, DuckDB revalidates the
    full new snapshot).

    Unlike :func:`schisma_spark.functions.curate.corpus_diff` (content
    drift: whitespace/case-normalized portable fingerprint) the
    fingerprint here is EXACT bytes — any payload difference can change
    a verdict, so normalization would silently carry stale violations.
    xxhash64 is fine because the fingerprint never crosses engines; a
    per-id 64-bit collision between the old and new payload (odds
    ~2^-64 per changed row) is the accepted miss.

    Scale shape: each side reduces to narrow (id, fp) rows before one
    full-outer id join; validate_fn sees only the delta. The delta-ids
    side of the snapshot semi-join is SMALL BY DESIGN (that is the point
    of incremental), so AQE broadcasts it and the snapshot's payload
    stays un-shuffled; with a delta too large to broadcast the semi-join
    falls back to shuffling the snapshot side — at that delta fraction a
    full revalidation is the better plan anyway. ``validate_fn`` takes
    the delta DataFrame (same schema as ``new_df``) and must return
    violation rows carrying ``id_col``."""
    if isinstance(payload_cols, str):
        payload_cols = [payload_cols]
    # xxhash64 SKIPS NULL children, so without markers a payload value
    # SHIFTING between columns across a NULL (old=(x, NULL) vs
    # new=(NULL, x)) would collide deterministically and the changed row
    # would be carried as unchanged (review finding). The isnull flags
    # are never NULL, so they always feed the hash.
    parts = []
    for c in payload_cols:
        parts.append(F.isnull(F.col(c)).cast("int"))
        parts.append(F.col(c))
    fp = F.xxhash64(*parts)
    a = old_df.select(F.col(id_col), fp.alias("_fp_a"),
                      F.lit(True).alias("_in_a"))
    b = new_df.select(F.col(id_col), fp.alias("_fp_b"),
                      F.lit(True).alias("_in_b"))
    j = a.join(b, id_col, "full_outer")
    in_a = F.coalesce(F.col("_in_a"), F.lit(False))
    in_b = F.coalesce(F.col("_in_b"), F.lit(False))
    delta_ids = j.where(in_b & (~in_a
                                | ~F.col("_fp_a").eqNullSafe(F.col("_fp_b"))
                                )).select(id_col)
    unchanged_ids = j.where(
        in_a & in_b & F.col("_fp_a").eqNullSafe(F.col("_fp_b"))
    ).select(id_col)
    # null-safe semi join: a NULL-id new row is classified delta (NULL
    # keys never match in the full outer join) but a plain `on=id` semi
    # join would then DROP it from validate_fn's input — incremental
    # would silently miss its violations (review finding). unchanged_ids
    # can never contain NULL (it requires a matched join row).
    if "_did" in new_df.columns:
        # the null-safe semi join below aliases the delta ids to '_did';
        # a payload column of that name would make the join condition
        # ambiguous (r7, ADVICE) — same guard style as asof_join
        raise ValueError(
            "incremental_validate: new_df column '_did' collides with an "
            "internal name — rename before validating")
    fresh = validate_fn(
        new_df.join(
            delta_ids.withColumnRenamed(id_col, "_did"),
            F.col(id_col).eqNullSafe(F.col("_did")),
            "leftsemi",
        )
    )
    carried = prior_violations.join(unchanged_ids, id_col, "leftsemi")
    return fresh.unionByName(carried)
