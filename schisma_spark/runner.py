"""ValidationRun: the full engine pipeline over an image+caption table.

Job layout (SURVEY §3.2 — at most 3 jobs per run batch):

  (a) row-level pass: fused schema checks (+ optional Arrow decode checks)
      -> violations sink
  (b) per-partition verdict aggregate -> verdicts sink + manifest append
  (c) aggregate checks: salted uniqueness, referential anti-joins, drift
      histograms vs baseline (small outputs)

The stats-only path never references ``bytes`` — column pruning keeps the
payload unread (verified via .explain in tests; SURVEY §7 hard-part (e)).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schisma_spark.checks import fk_violations, uniqueness_violations
from schisma_spark.dsl import Schema
from schisma_spark.manifest import Manifest
from schisma_spark.validate import ValidationResult, validate


@dataclass
class RunConfig:
    part_col: str = "part"
    keys: tuple[str, ...] = ("image_id",)
    unique_on: tuple[tuple[str, ...], ...] = (("image_id",), ("phash",))
    decode: bool = False         # run the Arrow decode/PSNR pass
    sample_k: int | None = None  # cap violations per (partition, code)


@dataclass
class RunResult:
    violations: DataFrame
    verdicts: DataFrame
    manifest_records: list[dict] = field(default_factory=list)
    batch: DataFrame | None = None  # the slice this run actually processed


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
        return out

    def write_outputs(self, df: DataFrame, violations_path: str,
                      verdicts_path: str, dims: dict | None = None,
                      fmt: str = "auto") -> None:
        """Persist both sinks (SURVEY §2.B E2): violation rows partitioned
        by the run's partition column (prunable reads), verdicts as one
        small table."""
        from schisma_spark.sources import write_table

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
        table recompute.

        ``sinks(violations_df, verdicts_df)`` — when given — is invoked
        BEFORE the manifest append, so a crash between sink writes and the
        manifest commit redoes the batch rather than losing its outputs
        (manifest-marked-done must imply sinks-written).

        Driver bound: the verdict collect below is one row per partition
        value in the batch, capped by the planner's
        :data:`schisma_spark.manifest.MAX_PARTITIONS` contract (it raises
        on an adversarially fine part_col before anything collects)."""
        from pyspark.sql import functions as F

        from schisma_spark.manifest import plan_remaining, verdict_records

        m = Manifest(manifest_path)
        part_col = self.config.part_col
        sub, remaining = plan_remaining(df, part_col, m, batch_partitions)
        if sub is None:
            empty = df.where(F.lit(False))
            res = self.row_pass(empty)
            return RunResult(
                violations=self._violations(res, dims),
                verdicts=res.verdicts([part_col]),
                manifest_records=[],
                batch=empty,
            )
        res = self.row_pass(sub)
        verd_df = res.verdicts([part_col])
        verd_rows = verd_df.collect()
        recs = verdict_records(verd_rows, part_col, lineage)
        # rebuild the small verdicts frame from the collected rows so
        # callers don't re-run the scan+aggregate a second time
        spark = df.sparkSession
        verd_small = spark.createDataFrame(verd_rows, verd_df.schema)
        viols = self._violations(res, dims)
        if sinks is not None:
            sinks(viols, verd_small)
        m.append(recs)  # LAST: done-in-manifest implies sinks committed
        return RunResult(
            violations=viols,
            verdicts=verd_small,
            manifest_records=recs,
            batch=sub,
        )
