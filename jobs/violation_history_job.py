"""spark-submit job: bucketed violation-history maintenance + co-located
recurrence report (the layout sources.write_table(bucket_by=...) was built
for — r2 VERDICT #7).

Each run validates an image table and APPENDS its violation rows to a
catalog table bucketed by ``image_id``; the current run's per-image counts
go to a second table bucketed the same way. The recurrence report then
joins current x history entirely WITHOUT exchanges: the bucket layout
already clusters both sides by the join key, so the per-image aggregation
and the join reuse the on-disk distribution — at 10^12 rows that removes
the two dominant shuffles of the repeated-runs workflow. The job ASSERTS
the exchange-free plan at runtime and reports it in its output JSON.

    ZIP=$(python -c "from schisma_spark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$ZIP" \
        jobs/violation_history_job.py \
        --input <parquet-or-iceberg-ref> --run-id r42 \
        --history-table viol_history --current-table viol_current \
        --report <path> [--buckets 16]
"""

from __future__ import annotations

import argparse
import json


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--history-table", default="schisma_viol_history")
    ap.add_argument("--current-table", default="schisma_viol_current")
    ap.add_argument("--report", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from schisma_spark.session import attach_session

    spark = attach_session()

    from schisma_spark.image.fixtures import images_schema_dsl
    from schisma_spark.sources import read_table, write_table

    df = read_table(spark, args.input)
    res = images_schema_dsl().validate(df, keys=["image_id", "part"],
                                       ignore_unexpected=True)
    viols = res.violations.withColumn("run_id", F.lit(args.run_id))

    # both tables bucketed by the join/agg key with the SAME bucket count;
    # history accumulates across runs (append), current is replaced
    write_table(viols, args.history_table, mode="append",
                bucket_by=(args.buckets, ["image_id"]))
    cur_counts = (
        viols.groupBy("image_id")
        .agg(F.count(F.lit(1)).alias("n_now"))
    )
    write_table(cur_counts, args.current_table, mode="overwrite",
                bucket_by=(args.buckets, ["image_id"]))

    # co-located recurrence report: group history by its bucket key and
    # join the current run's per-image counts — the bucket layout supplies
    # the clustering, so NEITHER the aggregation NOR the join may shuffle.
    # Broadcast is disabled for the report so the plan assert below proves
    # the bucket co-location, not a small-table special case.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hist = (
            spark.table(args.history_table)
            .groupBy("image_id")
            .agg(F.count(F.lit(1)).alias("n_hist"),
                 F.max("run_id").alias("last_run"))
        )
        report = (
            spark.table(args.current_table)
            .join(hist, "image_id")
            .select("image_id", "n_now", "n_hist", "last_run")
        )
        plan = report._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                "co-located report plan contains an Exchange — bucket "
                "layout not picked up:\n" + plan
            )
        write_table(report, args.report, mode="overwrite")
        n_report = spark.read.parquet(args.report).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)

    print(json.dumps({
        "run_id": args.run_id,
        "violations_appended": viols.count(),
        "report_rows": n_report,
        "exchange_free_report": True,
    }))


if __name__ == "__main__":
    main()
