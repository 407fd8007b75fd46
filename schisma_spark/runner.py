"""ValidationRun: the full engine pipeline over an image+caption table.

Job layout of one ``run_resumable`` batch (SURVEY §3.2):

  (a) per-partition verdict aggregate over the row-level pass, collected
      on the driver (bounded by ``manifest.MAX_PARTITIONS``) -> manifest
      records. A fresh manifest without ``batch_partitions`` runs the whole
      table and pays no planning scan; a resumed or batched run first
      plans the rest with one ``distinct(part)`` job (``plan_remaining``).
  (b) violations sink: row-level violations unioned with the aggregate
      checks (uniqueness, referential anti-joins) and clustered by the
      partition column, so a partitioned writer leaves one file per
      ``part=`` directory rather than one per (task, partition).
  (c) verdicts sink: the collected rows as a JVM-side local frame (no
      rescan, no Python worker) -> manifest append LAST.

A fully resumed rerun runs no job and compiles nothing until a caller
reads its (empty) frames.

The stats-only path never references ``bytes`` — column pruning keeps the
payload unread (verified via .explain in tests; SURVEY §7 hard-part (e)).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schisma_spark import manifest
from schisma_spark.checks import fk_violations, uniqueness_violations
from schisma_spark.dsl import Schema
from schisma_spark.sources import local_frame, write_table
from schisma_spark.validate import ValidationResult, validate


@dataclass
class RunConfig:
    part_col: str = "part"
    keys: tuple[str, ...] = ("image_id",)
    unique_on: tuple[tuple[str, ...], ...] = (("image_id",), ("phash",))
    sample_k: int | None = None  # cap violations per (partition, code)


@dataclass
class RunResult:
    """One ``run_resumable`` batch. ``violations`` and ``verdicts`` cover
    exactly this batch and are built by ``frames`` on first read, so a
    fully resumed rerun compiles the schema only if a caller asks."""

    manifest_records: list[dict]
    batch: DataFrame | None  # the slice this run actually processed
    frames: Callable[[], tuple[DataFrame, DataFrame]] = field(repr=False)

    @cached_property
    def _built(self) -> tuple[DataFrame, DataFrame]:
        return self.frames()

    @property
    def violations(self) -> DataFrame:
        return self._built[0]

    @property
    def verdicts(self) -> DataFrame:
        return self._built[1]


class ValidationRun:
    def __init__(self, sch: Schema, config: RunConfig | None = None):
        self.schema = sch
        self.config = config or RunConfig()

    def row_pass(self, df: DataFrame) -> ValidationResult:
        cfg = self.config
        return validate(
            df, self.schema, keys=[*cfg.keys, cfg.part_col],
            ignore_unexpected=True,
        )

    def violations(self, df: DataFrame, dims: dict | None = None) -> DataFrame:
        """Union of row-level + aggregate violation rows (E10)."""
        return self._violations(self.row_pass(df), dims)

    def verdicts(self, df: DataFrame) -> DataFrame:
        return self.row_pass(df).verdicts([self.config.part_col])

    # Compiling the schema is driver work paid per row_pass() call, so
    # write_outputs and run_resumable compile once and feed the SAME
    # ValidationResult to both the violation and the verdict frame.

    def _violations(self, res: ValidationResult,
                    dims: dict | None) -> DataFrame:
        cfg = self.config
        df = res.df
        out = res.violations
        ident = [*cfg.keys, cfg.part_col]
        for key_cols in cfg.unique_on:
            u = uniqueness_violations(df, list(key_cols), keys=ident)
            out = out.unionByName(u, allowMissingColumns=True)
        for fk_cols, (dim_df, pk_cols) in (dims or {}).items():
            f = fk_violations(df, dim_df, list(fk_cols), list(pk_cols),
                              keys=ident)
            out = out.unionByName(f, allowMissingColumns=True)
        if cfg.sample_k:
            from schisma_spark.checks import top_k_violations

            out = top_k_violations(
                out, cfg.sample_k, part_cols=[cfg.part_col, "code"],
                order_by=[cfg.keys[0]],
            )
        # cluster by partition for the partitioned sink: one file per
        # part= directory instead of one per (union task, partition).
        # rebalance, not repartition(part): AQE splits a skewed partition
        # value into advisory-size pieces and coalesces small ones. Safe
        # here because violation rows are narrow (no payload column).
        return out.hint("rebalance", cfg.part_col)

    def write_outputs(self, df: DataFrame, violations_path: str,
                      verdicts_path: str, dims: dict | None = None,
                      fmt: str = "auto") -> None:
        """Persist both sinks (SURVEY §2.B E2): violation rows partitioned
        by the run's partition column (prunable reads), verdicts as one
        small table."""
        res = self.row_pass(df)
        write_table(self._violations(res, dims), violations_path, fmt=fmt,
                    mode="append", partition_by=[self.config.part_col])
        write_table(res.verdicts([self.config.part_col]), verdicts_path,
                    fmt=fmt, mode="append")

    def run_resumable(self, df: DataFrame, manifest_path: str,
                      lineage: dict | None = None,
                      batch_partitions: int | None = None,
                      dims: dict | None = None,
                      sinks=None) -> RunResult:
        """Process ONLY the partitions the manifest hasn't marked done; the
        returned violations/verdicts cover exactly this run's batch, so a
        fully-resumed rerun costs one distinct() + manifest read and no
        table recompute (and no schema compile unless its frames are read).

        ``sinks(violations_df, verdicts_df)`` — when given — is invoked
        BEFORE the manifest append, so a crash between sink writes and the
        manifest commit redoes the batch rather than losing its outputs
        (manifest-marked-done must imply sinks-written).

        Driver bound: the verdict collect below is one row per partition
        value in the batch, capped at
        :data:`schisma_spark.manifest.MAX_PARTITIONS` — an adversarially
        fine part_col raises ``ValueError`` before any sink or manifest
        write (the resume planner raises the same error earlier)."""
        m = manifest.Manifest(manifest_path)
        part_col = self.config.part_col
        if batch_partitions is None and not m.done_partitions():
            # the whole table: plan_remaining would return df filtered to
            # all its partitions, after a distinct(part) job to list them
            sub = df
        else:
            sub, _ = manifest.plan_remaining(df, part_col, m,
                                             batch_partitions)
        if sub is None:
            empty = df.where(F.lit(False))

            def frames():
                res = self.row_pass(empty)
                return self._violations(res, dims), res.verdicts([part_col])

            return RunResult([], empty, frames)
        res = self.row_pass(sub)
        verd_df = res.verdicts([part_col])
        cap = manifest.MAX_PARTITIONS
        verd_rows = verd_df.limit(cap + 1).collect()
        manifest.check_partition_count(len(verd_rows), part_col, cap)
        recs = manifest.verdict_records(verd_rows, part_col, lineage)
        # rebuild the small verdicts frame from the collected rows so
        # callers don't re-run the scan+aggregate a second time
        verd_small = local_frame(df.sparkSession, verd_rows, verd_df.schema)
        viols = self._violations(res, dims)
        if recs:  # an empty table has nothing to persist
            if sinks is not None:
                sinks(viols, verd_small)
            m.append(recs)  # LAST: done-in-manifest implies sinks committed
        return RunResult(recs, sub, lambda: (viols, verd_small))
