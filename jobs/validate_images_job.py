"""spark-submit entry point for the image-table validation run.

The north-rule invocation mode (BASELINE.json:14):

    spark-submit --py-files "$ZIP" \
        jobs/validate_images_job.py \
        --input <parquet-or-iceberg-ref> \
        --violations <sink> --verdicts <sink> --manifest <dir> \
        [--decode] [--sample-k 100] [--part-col part]

where ``$ZIP`` is the package zip of this checkout (``package_zip`` keys
its name on the package directory)::

    ZIP=$(python -c "from schisma_spark.session import package_zip; print(package_zip())")

Runs the ≤3-job pipeline (SURVEY §3.2): fused row checks + aggregate checks
-> violations sink; per-partition verdict agg -> verdicts sink + manifest
(resumable: rerunning skips manifest-done partitions); optional Arrow
decode/PSNR pass.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--violations", required=True)
    ap.add_argument("--verdicts", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--part-col", default="part")
    ap.add_argument("--sample-k", type=int, default=None)
    ap.add_argument("--decode", action="store_true",
                    help="also run the Arrow decode/PSNR pass")
    ap.add_argument("--batch-partitions", type=int, default=None)
    ap.add_argument("--kll-col", default=None,
                    help="numeric column to KLL-sketch for drift")
    ap.add_argument("--kll-baseline", default=None,
                    help="baseline sketch table; created on first run, "
                         "compared KS-style afterwards")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from schisma_spark.session import attach_session

    # attach before the first Column is built (see DRIVER_CONF)
    spark = attach_session()

    from schisma_spark.image.fixtures import dim_fmt, images_schema_dsl
    from schisma_spark.runner import RunConfig, ValidationRun
    from schisma_spark.sources import read_table, write_table

    df = read_table(spark, args.input)
    run = ValidationRun(
        images_schema_dsl(),
        RunConfig(part_col=args.part_col, sample_k=args.sample_k),
    )

    def sinks(viols, verd):
        # invoked before the manifest append: a crash here redoes the
        # batch instead of losing its outputs
        write_table(viols, args.violations, mode="append",
                    partition_by=[args.part_col])
        write_table(verd, args.verdicts, mode="append")

    t0 = time.perf_counter()
    res = run.run_resumable(
        df, args.manifest,
        lineage={"input": args.input, "job": "validate_images_job"},
        batch_partitions=args.batch_partitions,
        sinks=sinks,
    )

    n_rows = sum(r["n_rows"] for r in res.manifest_records)
    if args.decode and res.manifest_records:
        from schisma_spark.image.decode import decode_validate

        # decode exactly the batch this run processed, not the whole table
        dec = decode_validate(res.batch)
        bad = dec.where(
            ~F.col("decode_ok") | ~F.col("pixels_ok") | ~F.col("size_ok")
        ).count()
        print(json.dumps({"decode_bad_rows": bad}), file=sys.stderr)

    if args.kll_col and args.kll_baseline and res.manifest_records:
        # mergeable-sketch drift (checks/sketch.py): first run writes the
        # baseline (one ~3 KB sketch), later runs compare this batch's
        # sketch KS-style against it without touching baseline raw data
        from pyspark.errors import AnalysisException

        from schisma_spark.checks import kll_sketch, ks_from_sketches

        cur = kll_sketch(res.batch, args.kll_col)
        # only a genuinely-absent baseline (AnalysisException on the read)
        # triggers the first-run write; comparison-time errors PROPAGATE —
        # a bare except here silently reset the drift history whenever the
        # compare failed for any transient reason (r2 ADVICE)
        try:
            base = spark.read.parquet(args.kll_baseline)
        except AnalysisException:
            base = None
        if base is None:
            cur.write.mode("overwrite").parquet(args.kll_baseline)
            print(json.dumps({"kll_baseline_written": args.kll_baseline}),
                  file=sys.stderr)
        else:
            ks = ks_from_sketches(cur, base).collect()[0]["ks"]
            print(json.dumps({"drift_ks_vs_baseline": round(ks, 4)}),
                  file=sys.stderr)

    wall = time.perf_counter() - t0
    print(json.dumps({
        "rows_processed": n_rows,
        "partitions_done_this_run": len(res.manifest_records),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
    }))


if __name__ == "__main__":
    main()
