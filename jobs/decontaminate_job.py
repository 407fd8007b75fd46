"""spark-submit entry point for the benchmark DECONTAMINATION pass.

The cluster invocation mode (BASELINE.json:14), decontamination flavor::

    ZIP=$(python -c "from schisma_spark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$ZIP" \
        jobs/decontaminate_job.py \
        --input <corpus parquet-or-iceberg-ref> \
        --eval <eval-set parquet-or-iceberg-ref> \
        --decisions <sink> --manifest <dir> \
        [--id-col doc_id] [--text-col text] [--eval-text-col text] \
        [--shingle-k 3] [--min-overlap 1] [--hasher native] \
        [--pairs <sink> --eval-id-col <col>]

One row per corpus document (``id, n_shingles, n_overlap,
contaminated``), written to the decisions sink BEFORE the manifest
append (done implies persisted). Decontamination is corpus-global
against one eval set, so the manifest records one RUN-level entry with
the flagged/clean counts as metrics; re-running with the same run id is
skipped. The default hasher is ``native`` (xxhash64 — 64-bit keys, the
production path); ``portable`` keeps DuckDB-oracle parity.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--eval", required=True, dest="eval_ref")
    ap.add_argument("--decisions", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--run-id", default=None,
                    help="idempotency key; default derived from the two "
                         "inputs")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--eval-text-col", default=None)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--min-overlap", type=int, default=1)
    ap.add_argument("--hasher", default="native",
                    choices=["native", "portable"])
    ap.add_argument("--pairs", default=None,
                    help="optional sink for the per-(doc, eval-doc) "
                         "leak-attribution pairs; needs --eval-id-col")
    ap.add_argument("--eval-id-col", default=None)
    args = ap.parse_args(argv)
    if args.pairs and not args.eval_id_col:
        ap.error("--pairs requires --eval-id-col (a stable id column "
                 "on the eval table for attribution)")

    from pyspark.sql import functions as F

    from schisma_spark.session import attach_session

    spark = attach_session()

    from schisma_spark.functions.dedup import decontaminate
    from schisma_spark.manifest import Manifest
    from schisma_spark.sources import fan_out, read_table, write_table

    # the parameters are part of the default idempotency key: re-running
    # the same inputs at a different threshold/shingle/hasher is a NEW
    # run, not a skip (the old key silently served stale verdicts)
    run_id = args.run_id or (
        f"decontaminate:{args.input}|{args.eval_ref}"
        f"|k{args.shingle_k}|o{args.min_overlap}|{args.hasher}")
    man = Manifest(args.manifest)
    if run_id in man.done_partitions():
        print(json.dumps({"skipped": True, "run_id": run_id}))
        return

    corpus = fan_out(read_table(spark, args.input)
                     .select(args.id_col, args.text_col))
    eval_df = read_table(spark, args.eval_ref)
    t0 = time.perf_counter()
    # the corpus shingle pass (scan text, split, k-gram, hash) is the
    # dominant cost at scale; with --pairs it feeds BOTH the per-doc
    # verdict and the attribution sink, so compute it once and persist
    # the narrow (id, array<long>) frame — without --pairs stay fully
    # lazy (r6 self-review)
    shingles_kw = {}
    if args.pairs:
        from schisma_spark.functions.dedup import _shingle_hashes

        corpus = corpus.select(
            F.col(args.id_col),
            _shingle_hashes(F.col(args.text_col), args.shingle_k,
                            args.hasher).alias("_shs"),
        ).persist()
        shingles_kw = {"shingles_col": "_shs"}
    decisions = decontaminate(
        corpus, eval_df, args.text_col, args.id_col,
        eval_text_col=args.eval_text_col, k=args.shingle_k,
        min_overlap=args.min_overlap, hasher=args.hasher,
        **shingles_kw,
    ).persist()  # one materialization feeds the sink write AND the counts
    # sink commits BEFORE the manifest append (CLAUDE.md manifest rule)
    write_table(decisions, args.decisions, mode="append")
    agg = decisions.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("contaminated").cast("long")).alias("flagged"),
    ).collect()[0]
    n_pairs = None
    if args.pairs:
        from schisma_spark.functions.dedup import decontaminate_pairs

        pairs = decontaminate_pairs(
            corpus, eval_df, args.text_col, args.id_col,
            eval_id_col=args.eval_id_col,
            eval_text_col=args.eval_text_col, k=args.shingle_k,
            min_overlap=args.min_overlap, hasher=args.hasher,
            **shingles_kw,
        ).persist()
        write_table(pairs, args.pairs, mode="append")
        n_pairs = pairs.count()
        pairs.unpersist()
    wall = time.perf_counter() - t0
    decisions.unpersist()
    if args.pairs:
        corpus.unpersist()

    man.append([{
        "partition": run_id,
        "status": "done",
        "lineage": {"input": args.input, "eval": args.eval_ref,
                    "job": "decontaminate_job", "hasher": args.hasher,
                    "shingle_k": args.shingle_k,
                    "min_overlap": args.min_overlap},
        "n_rows": int(agg["n"]),
        "metrics": {"flagged": int(agg["flagged"] or 0),
                    "clean": int(agg["n"]) - int(agg["flagged"] or 0),
                    **({"n_pairs": int(n_pairs)}
                       if n_pairs is not None else {}),
                    "wall_sec": round(wall, 2)},
    }])
    print(json.dumps({
        "run_id": run_id,
        "rows_decided": int(agg["n"]),
        "flagged": int(agg["flagged"] or 0),
        "wall_sec": round(wall, 2),
    }))


if __name__ == "__main__":
    main()
