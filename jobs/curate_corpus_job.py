"""spark-submit entry point for the training-data CURATION run.

The cluster invocation mode (BASELINE.json:14), curation flavor::

    ZIP=$(python -c "from schisma_spark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$ZIP" \
        jobs/curate_corpus_job.py \
        --input <parquet-or-iceberg-ref> \
        --decisions <sink> --manifest <dir> \
        [--id-col doc_id] [--text-col text] \
        [--min-quality 0.5] [--min-tokens 5] [--threshold 0.7] \
        [--hasher native] [--max-bucket-size N] \
        [--eval <benchmark-table-ref>] \
        [--strata lang --n-per-stratum 100000 --sample <sink>] \
        [--pack-budget 2048 --packed <sink>]

One keep/drop decision row per input document (quality gate -> exact
dedup -> near-dup cluster canonical; functions/curate.py), written to the
decisions sink BEFORE the manifest append (the done-implies-persisted
rule). Curation is corpus-global — near-dup pairs cross any partitioning
— so the manifest records one RUN-level entry with lineage plus the
per-reason counts as metrics, not per-partition rows; re-running with the
same run id is skipped.

Optionally: gates decisions on benchmark DECONTAMINATION (``--eval`` — a
contaminated doc drops with its own reason and is never promoted to
cluster canonical), down-samples the kept set per stratum (two-stage
skew-safe rank) into a separate sink — the over-represented-source cap —
and PACKS the kept set into fixed-token-budget context windows
(``--pack-budget``/``--packed``; chunk strategy), recording the window
count and fill rate in the manifest metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--decisions", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--run-id", default=None,
                    help="idempotency key; default: derived from --input "
                         "plus every kept-set-affecting parameter")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--n-hashes", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--hasher", default="native",
                    choices=["native", "portable"],
                    help="native = xxhash64 (production); portable = md5 "
                         "(oracle-parity)")
    ap.add_argument("--max-bucket-size", type=int, default=None,
                    help="LSH hot-bucket cap (degenerate-content guard)")
    ap.add_argument("--eval", default=None, dest="eval_ref",
                    help="benchmark table for the decontamination gate")
    ap.add_argument("--decontam-min-overlap", type=int, default=1)
    ap.add_argument("--strata", default=None,
                    help="comma-separated stratum columns for the "
                         "kept-set down-sample")
    ap.add_argument("--n-per-stratum", type=int, default=None)
    ap.add_argument("--sample", default=None,
                    help="sink for the down-sampled keep set")
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="token budget per context window for the "
                         "kept-set packing stage")
    ap.add_argument("--pack-shards", type=int, default=None,
                    help="window-partition count; default 4x session "
                         "parallelism — size so rows/shards fits a task")
    ap.add_argument("--packed", default=None,
                    help="sink for the kept-set window assignments")
    args = ap.parse_args(argv)
    if bool(args.pack_budget) != bool(args.packed):
        ap.error("--pack-budget and --packed must be given together")

    from schisma_spark.session import attach_session

    spark = attach_session()

    from schisma_spark.functions.curate import (
        curation_keep_list, stratified_sample,
    )
    from schisma_spark.manifest import Manifest
    from schisma_spark.sources import fan_out, read_table, write_table

    # every parameter that changes the kept set is part of the default
    # idempotency key (the decontaminate_job convention): re-running the
    # same input WITH --eval after a run without it is a NEW run — the
    # old input-only key silently kept the stale, contaminated keep-list
    # (r6 self-review)
    run_id = args.run_id or (
        f"curate:{args.input}"
        f"|q{args.min_quality}|t{args.min_tokens}|th{args.threshold}"
        f"|h{args.n_hashes}|b{args.bands}|{args.hasher}"
        + (f"|eval={args.eval_ref}|o{args.decontam_min_overlap}"
           if args.eval_ref else "")
        + (f"|pack{args.pack_budget}" if args.pack_budget else ""))
    man = Manifest(args.manifest)
    if run_id in man.done_partitions():
        print(json.dumps({"skipped": True, "run_id": run_id}))
        return

    df = fan_out(read_table(spark, args.input)
                 .select(args.id_col, args.text_col))
    eval_df = (read_table(spark, args.eval_ref)
               if args.eval_ref else None)
    t0 = time.perf_counter()
    decisions = curation_keep_list(
        df, args.id_col, args.text_col,
        min_quality=args.min_quality, min_tokens=args.min_tokens,
        eval_df=eval_df,
        decontam_min_overlap=args.decontam_min_overlap,
        threshold=args.threshold, n_hashes=args.n_hashes,
        bands=args.bands, hasher=args.hasher,
        max_bucket_size=args.max_bucket_size,
    )
    # one materialization for the write + reason counts + kept-ids
    # semi-join below (r5 ADVICE: without this the fingerprint/quality/
    # minhash stages re-scan the full corpus up to 3x — only the CC
    # labels inside curation_keep_list are checkpointed)
    decisions = decisions.persist()
    # sink commits BEFORE the manifest append (CLAUDE.md manifest rule)
    write_table(decisions, args.decisions, mode="append")

    # reason counts from THIS run's decisions frame (deterministic — the
    # write above committed exactly these rows), NOT a re-read of the
    # whole sink: with mode=append a sink carrying earlier runs' rows
    # would inflate this run's manifest metrics (r5 self-review)
    from pyspark.sql import functions as F

    counts = {r["reason"]: r["n"] for r in
              decisions.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    wall = time.perf_counter() - t0

    if args.strata and args.n_per_stratum and args.sample:
        strata = args.strata.split(",")
        kept_ids = decisions.where(F.col("keep")).select(args.id_col)
        kept = (read_table(spark, args.input)
                .join(kept_ids, args.id_col, "leftsemi"))
        sample = stratified_sample(kept, strata, args.id_col,
                                   args.n_per_stratum)
        write_table(sample, args.sample, mode="append")
        print(json.dumps({"sample_rows": sample.count()}), file=sys.stderr)

    pack_metrics = {}
    if args.pack_budget and args.packed:
        from schisma_spark.functions.pack import (
            pack_sequences, packing_stats,
        )

        kept_ids = decisions.where(F.col("keep")).select(args.id_col)
        kept = (read_table(spark, args.input)
                .select(args.id_col, args.text_col)
                .join(kept_ids, args.id_col, "leftsemi"))
        packed = pack_sequences(
            kept, args.text_col, args.id_col, budget=args.pack_budget,
            n_shards=args.pack_shards).persist()
        write_table(packed, args.packed, mode="append")
        ps = packing_stats(packed, args.pack_budget).collect()[0]
        pack_metrics = {"pack_budget": args.pack_budget,
                        "packed_docs": int(ps["n_docs"]),
                        "n_seqs": int(ps["n_seqs"]),
                        "fill_rate": float(ps["fill_rate"])}
        packed.unpersist()

    decisions.unpersist()
    man.append([{
        "partition": run_id,
        "status": "done",
        "lineage": {"input": args.input, "job": "curate_corpus_job",
                    "hasher": args.hasher, "threshold": args.threshold,
                    "eval": args.eval_ref},
        "n_rows": sum(counts.values()),
        "metrics": {"reasons": counts, "wall_sec": round(wall, 2),
                    **pack_metrics},
    }])
    print(json.dumps({
        "run_id": run_id,
        "rows_decided": sum(counts.values()),
        "reasons": counts,
        "wall_sec": round(wall, 2),
    }))


if __name__ == "__main__":
    main()
